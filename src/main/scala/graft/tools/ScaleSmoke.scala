package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: stress the heavy operators at ~10× the bench scale using the
  * deterministic generator (testdata tops out at sf0.1 ≈ 1 M bars; this
  * runs 10 M) to back the 100 TB scale claims with local evidence —
  * per-operator wall-clock and rows/s, no OOM, no single-partition
  * bottleneck. Results recorded in BASELINE.md.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L) // per symbol
    // optional section filter: `run 2000000 skew` times only the skew
    // block (each block is internally comparable; absolute numbers drift
    // with the shared host's load, ratios within a run don't)
    val sections = args.drop(1).toSet
    def on(s: String): Boolean = sections.isEmpty || sections(s)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 64)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators._
    import graft.sources.Generator

    val symbols = Seq("btc", "eth", "sol", "ada", "dot")
    val bars = Generator.ohlcv(spark, symbols, n, intervalSec = 60).cache()
    val total = bars.count() // materialize once so op timings exclude generation
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-22s rows=$rows%-10d ${sec}%6.1f s  ${total / sec / 1e6}%5.1f M rows/s")
    }

    println(s"[scale] corpus: $total bars (${symbols.size} symbols x $n)")
    val order = Seq(col("ts"), col("symbol"))
    // Forcing evaluation: every timing ends in .collect() of a checksum
    // aggregate that REFERENCES the expensive columns. A bare .count() —
    // even over agg(sum(cols)) — lets RemoveRedundantAggregates drop the
    // unreferenced sums and with them the whole Window/Project chain
    // (verified: the count() physical plan contains no Window node), so
    // count()-terminated smokes time only the generator scan.
    def checksum(df: org.apache.spark.sql.DataFrame,
        cols: org.apache.spark.sql.Column*): Long = {
      df.agg(sum(cols.reduce(_ + _)).as("c")).collect()
      df.count()
    }
    if (on("bars")) {
    time("clean-chain") {
      val cleaned = Cleaning.addTimeFeatures(Cleaning.repairOhlc(Cleaning.filterNonNegative(
        Cleaning.bfill(Cleaning.ffill(
          Cleaning.dedupKeepFirstSeries(bars, Seq("symbol"), col("ts"), Seq(col("close"))),
          Seq("close"), Seq("symbol"), order), Seq("close"), Seq("symbol"), order))))
      checksum(cleaned, col("open"), col("close"), col("hour").cast("double"))
    }
    time("resample-1h") {
      checksum(Resample.ohlcv(bars, "1 hour"),
        col("open"), col("close"), col("volume"), col("n_bars").cast("double"))
    }
    time("indicators-13col") {
      Indicators.withIndicators(bars, Seq(col("symbol")), Seq(col("ts")))
        .agg(sum(col("sma_20") + col("macd_hist") + col("atr_14") + col("rsi_14")))
        .collect()
      total
    }
    time("ema-native-window") {
      bars.select(graft.functions.Ema.ema(col("close"), 12,
        Seq(col("symbol")), Seq(col("ts"))).as("e"))
        .agg(sum("e")).collect()
      total
    }
    time("zscore-normalize") {
      Normalize.finish(Normalize.zscoreTransform(
        Normalize.zscoreFit(bars, Seq("close", "volume")),
        Seq("close", "volume")))
        .agg(sum(col("close") + col("volume"))).collect()
      total
    }
    time("chrono-split") {
      Split.chronological(bars, order, Seq(0.8), Seq("train", "test"))
        .groupBy("split").count().collect().length.toLong
    }
    time("chrono-split-atscale") {
      Split.chronologicalAtScale(bars, col("ts"), Seq(0.8), Seq("train", "test"))
        .groupBy("split").count().collect().length.toLong
    }
    time("date-split") {
      Split.splitByDate(bars, col("ts"),
        Seq("2026-01-01 00:00:00"), Seq("train", "test"))
        .groupBy("split").count().collect().length.toLong
    }
    }
    bars.unpersist()

    if (on("skew")) {
    // ---- hot-symbol skew: same 10 M rows, 90% on ONE symbol. Per-symbol
    // windows put the hot series in one task (AQE cannot split a window
    // partition); the (symbol, chunk)+halo variant restores parallelism.
    val skewN = total / 10 * 9 // 90% hot at the same total row count
    val skewed = Generator.ohlcv(spark, Seq("hot"), skewN)
      .unionByName(Generator.ohlcv(spark, symbols.take(4), (total - skewN) / 4))
      .cache()
    val skewTotal = skewed.count()
    println(s"[scale] skewed corpus: $skewTotal bars (90% on one symbol)")
    def timeS(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-22s rows=$rows%-10d ${sec}%6.1f s  ${skewTotal / sec / 1e6}%5.1f M rows/s")
    }
    val sAll = graft.operators.Indicators.Series(Seq(col("symbol")), Seq(col("ts")))
    val monthChunk = floor(unix_micros(col("ts").cast("timestamp")) /
      lit(30L * 86400 * 1000000))
    // balanced reference point for the finite set, same forcing discipline
    val balanced = Generator.ohlcv(spark, symbols, n).cache()
    balanced.count()
    timeS("bal-finite-plain") {
      Skew.finiteIndicators(balanced, sAll)
        .agg(sum(col("sma_20") + col("bb_upper") + col("atr_14") + col("rsi_14")))
        .collect(); skewTotal
    }
    timeS("bal-ind13-plain") {
      Indicators.withIndicators(balanced, Seq(col("symbol")), Seq(col("ts")))
        .agg(sum(col("sma_20") + col("macd_hist") + col("atr_14") + col("rsi_14")))
        .collect(); skewTotal
    }
    balanced.unpersist()
    timeS("skew-ind13-plain") { // full fan-out incl. EMA/MACD: hot task serializes
      Indicators.withIndicators(skewed, Seq(col("symbol")), Seq(col("ts")))
        .agg(sum(col("sma_20") + col("macd_hist") + col("atr_14") + col("rsi_14")))
        .collect(); skewTotal
    }
    timeS("skew-finite-plain") { // finite columns, same single-task window
      Skew.finiteIndicators(skewed, sAll)
        .agg(sum(col("sma_20") + col("bb_upper") + col("atr_14") + col("rsi_14")))
        .collect(); skewTotal
    }
    timeS("skew-finite-chunked") { // (symbol, month)+halo: parallel again
      Skew.chunkedFiniteIndicators(skewed, Seq(col("symbol")), Seq(col("ts")), monthChunk)
        .agg(sum(col("sma_20") + col("bb_upper") + col("atr_14") + col("rsi_14")))
        .collect(); skewTotal
    }
    timeS("skew-emamacd-plain") { // infinite-memory set, serial hot task
      Skew.emaMacd(skewed, sAll)
        .agg(sum(col("ema_12") + col("macd_hist"))).collect(); skewTotal
    }
    timeS("skew-emamacd-chunked") { // tolerance-bounded 720-row halo
      Skew.chunkedEmaMacd(skewed, Seq(col("symbol")), Seq(col("ts")), monthChunk)
        .agg(sum(col("ema_12") + col("macd_hist"))).collect(); skewTotal
    }
    timeS("skew-clean-chain") { // groupBy/agg path: AQE + hash partial combine cope
      val cleaned = Cleaning.addTimeFeatures(Cleaning.repairOhlc(Cleaning.filterNonNegative(
        Cleaning.bfill(Cleaning.ffill(
          Cleaning.dedupKeepFirstSeries(skewed, Seq("symbol"), col("ts"), Seq(col("close"))),
          Seq("close"), Seq("symbol"), order), Seq("close"), Seq("symbol"), order))))
      checksum(cleaned, col("open"), col("close"), col("hour").cast("double"))
    }
    skewed.unpersist()
    }

    if (on("text")) {
    // ---- text side: 1 M synthetic word-salad docs, ~60 tokens each
    val nDocs = 1000000L
    val vocab = array((0 until 64).map(i => lit(s"w$i")): _*)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(60)), j =>
        element_at(vocab,
          (pmod(xxhash64(col("id") * lit(61L) + j), lit(64L)) + lit(1)).cast("int"))))
        .as("text")).cache()
    val nd = docs.count()
    def timeD(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-22s rows=$rows%-10d ${sec}%6.1f s  ${nd / sec / 1e6}%5.1f M docs/s")
    }
    println(s"[scale] text corpus: $nd docs x ~60 tokens")
    timeD("exact-dedup") {
      Dedup.exactDedupGroups(docs, col("text"), col("doc_id")).count()
    }
    // checksums in double: a long sum of 1 M 60-bit hashes overflows
    // (ANSI throws; the count()-era harness never evaluated it to notice)
    timeD("minhash-16sig") {
      Dedup.minhashSignature(docs, col("text"), col("doc_id"), 16, 3)
        .agg(sum((col("mh00") + col("mh15")).cast("double"))).collect(); nd
    }
    timeD("simhash60-maponly") {
      Dedup.simhash(docs, col("text"), col("doc_id"))
        .agg(sum(col("simhash").cast("double"))).collect(); nd
    }
    // 15-bit banding pair counts need a DIVERSE corpus (the 64-word salad
    // above makes every token set near-identical — simhashes collapse and
    // banding degenerates to all-pairs, correctly: those docs ARE dups).
    // With ~unique tokens per doc, hashes are uniform and candidates are
    // ~4·n²/2^15 — vs n²/2 ≈ 5·10¹¹ all-pairs at n = 1 M. The printed
    // count is the sub-quadratic evidence VERDICT asked for.
    val diverse = spark.range(1000000).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(30)), j =>
        conv(pmod(xxhash64(col("id") * lit(31L) + j), lit(1000000000L)).cast("string"),
          10, 16))).as("text")).cache()
    diverse.count()
    timeD("hamming-candidates") {
      Dedup.simhashHammingHist(
        Dedup.simhash(diverse, col("text"), col("doc_id")), maxDist = 60)
        .agg(sum("n_pairs")).collect().head.getLong(0)
    }
    // duplication-heavy corpus (1 M docs = 50 k distinct texts × ~20
    // copies, diverse vocab): doc-level banding pays ~20² per duplicate
    // cluster per band; the class-collapsed drop list pays one groupBy —
    // every pairwise stage runs on the 50 k distinct signatures. The
    // signature is cached: the operator's three branches (band join,
    // self edges, member explode) would otherwise re-tokenize thrice.
    // (Do NOT feed tiny-vocab salad to minhash: a 64-word universe makes
    // band keys collide across unrelated docs and candidates explode —
    // that corpus is kept for throughput entries only.)
    val dupDocs = spark.range(1000000).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(40)), j =>
        conv(pmod(xxhash64(pmod(col("id"), lit(50000L)) * lit(41L) + j),
          lit(1000000000L)).cast("string"), 10, 16))).as("text")).cache()
    dupDocs.count()
    timeD("droplist-atscale-1M") {
      val sig = Dedup.minhashSignature(dupDocs, col("text"), col("doc_id"), 16, 3).cache()
      try Dedup.dropListAtScale(sig, 4, 4, minAgree = 8).count()
      finally sig.unpersist()
    }
    timeD("droplist-connected-1M") {
      val sig = Dedup.minhashSignature(dupDocs, col("text"), col("doc_id"), 16, 3).cache()
      try Dedup.dropListConnected(sig, 4, 4, minAgree = 8).count()
      finally sig.unpersist()
    }
    dupDocs.unpersist()
    timeD("langid+quality+tokens") {
      docs.select(
        TextOps.langId(col("text")).as("l"),
        TextOps.qualityScore(col("text")).as("q"),
        TextOps.tokenCount(col("text")).as("n"))
        .groupBy("l").agg(sum("q"), sum("n")).collect(); nd
    }
    timeD("fingerprint") {
      docs.select(TextOps.fingerprint(col("text")).as("f"))
        .agg(sum(col("f").cast("double"))).collect(); nd
    }
    // ---- native text kernels at 1 M docs (the interpreted HOF witnesses
    // they replaced live in the test tree only; the minhash chain below
    // is still built from engine Column helpers)
    timeD("quality-native") {
      docs.select(TextOps.qualityScore(col("text")).as("q"),
        TextOps.repeatedNgramRatio(col("text"), 2).as("r"))
        .agg(sum(col("q") + col("r"))).collect(); nd
    }
    timeD("minhash-witness-hof") {
      import graft.functions.TextHash
      val hs = transform(
        array_distinct(TextHash.wordNgrams(TextHash.tokens(col("text")), 3)),
        t => TextHash.tokenHash(t) % lit(Dedup.P))
      val staged = docs.select(col("doc_id"), hs.as("__hs"))
      val cols16 = Dedup.hashParams(16).zipWithIndex.map { case ((a, b), i) =>
        Dedup.minhashCol(col("__hs"), a, b).as(f"mh$i%02d") }
      staged.select(col("doc_id") +: cols16: _*)
        .agg(sum((col("mh00") + col("mh15")).cast("double"))).collect(); nd
    }
    timeD("bm25-top25-1M") {
      graft.operators.TextSearch.bm25TopK(docs, col("text"), col("doc_id"),
        Seq("w1", "w2", "w3"), 25).count()
    }
    }

    if (on("vectors")) {
    // ---- vector side: 10 M synthetic 64-dim float embeddings. The PQ
    // claims under test: encode is one shuffle-free map pass, and the
    // ADC scan ranks the whole corpus from 16 codes/vector (the
    // 32x-compressed index) at a rate the raw-vector brute scan can't
    // touch. Vectors are hash-derived (deterministic, parallelism-
    // invariant), roughly unit-scale coordinates.
    val nVec = 10000000L
    val vecs = spark.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(col("id") * lit(65L) + i), lit(2001L)) - lit(1000L))
          .cast("double") / lit(1000.0)).cast("float")).as("embedding"))
      .cache()
    val nv = vecs.count()
    println(s"[scale] vector corpus: $nv x 64-dim float")
    def timeV(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-22s rows=$rows%-10d ${sec}%6.1f s  ${nv / sec / 1e6}%5.1f M vecs/s")
    }
    // codebooks off a ~50k stride sample (hard cap 100k enforced)
    val t0 = System.nanoTime()
    val cbs = VectorOps.pqCodebooks(vecs, 16, 32, 2, sampleMod = 199)
    println(f"[scale] pq-train(50k sample)  ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    val queries = vecs.filter(col("vec_id") < 8)
    timeV("pq-encode-10M") { // native PqEncode, one map pass, no shuffle
      import graft.functions.Pq
      vecs.select(Pq.encode(col("embedding"), cbs.map(_.map(_._2))).as("c"))
        .agg(sum(aggregate(col("c"), lit(0L), (a, v) => a + v))).collect()
      nv
    }
    timeV("pq-adc-scan-8q") { // 8 queries x 10M ADC ranks, codes only
      VectorOps.pqTopK(queries, vecs, 10, cbs).count()
    }
    timeV("brute-scan-8q") { // the raw-vector baseline the codes replace
      VectorOps.bruteTopK(queries, vecs, 10).count()
    }
    // coarse assignment at 10 M through the native expression
    val coarse = VectorOps.kmeansCodebook(vecs, 16, 2, sampleMod = 199)
    timeV("ivf-assign-native") {
      VectorOps.ivfAssign(vecs, coarse, 1)
        .agg(sum(col("cent_id"))).collect(); nv
    }
    vecs.unpersist()
    }

    if (on("zorder")) {
    // ---- Z-order vs time-ordered layout at 10 M rows x 128 files on the
    // manifest lake: the candidate-entry count bounds what ANY pruning
    // reader must open for a 2-D box, and the timed box reads show it
    // reaching wall time through the manifest's per-file envelopes.
    import graft.sinks.SnapshotLake
    val zroot = graft.TempDirs.create("smoke-zorder") + "/lake"
    val zn = 10000000L
    val zrows = spark.range(zn).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * lit(60000000L)).as("ts"),
      pmod(xxhash64(col("id")), lit(100000L)).as("user_id"),
      (pmod(xxhash64(col("id") + lit(7L)), lit(1000000L)).cast("double") / lit(1000.0))
        .as("value"))
    def timeZ(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label%-22s rows=$r%-10d ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    }
    timeZ("linear-append-10M") {
      SnapshotLake.append(spark, zroot,
        zrows.repartitionByRange(128, col("ts")).sortWithinPartitions("ts"),
        statsCols = Seq("user_id", "value"))
      zn
    }
    val box = Map("user_id" -> (45000.0, 55000.0), "value" -> (450.0, 550.0))
    def candidates(): String =
      s"${SnapshotLake.candidateEntries(spark, zroot, box).size} of " +
        s"${SnapshotLake.manifest(spark, zroot).files.size}"
    val lc = candidates()
    timeZ("box-read-linear") { SnapshotLake.readBox(spark, zroot, box).count() }
    timeZ("optimize-zorder-10M") {
      SnapshotLake.optimizeZOrder(spark, zroot, Seq("user_id", "value"),
        targetBytes = math.max(1L, SnapshotLake.manifest(spark, zroot).bytes / 128))
      zn
    }
    val zc = candidates()
    println(s"[scale] zorder-candidates     z=$zc linear=$lc files (10%x10% box)")
    timeZ("box-read-zorder") { SnapshotLake.readBox(spark, zroot, box).count() }
    }

    if (on("pack")) {
    // ---- token packing under source skew: 40 M docs, 90% on ONE source.
    // The plain per-source prefix window serializes the hot source in a
    // single task (the pre-w12 indicator ceiling); the chunked two-phase
    // prefix distributes it with bit-identical labels (PrepSpec). 4× the
    // bars corpus: a bare running-sum row is so cheap that at 10 M the
    // chunked plan's extra exchange still beats the serial sort only
    // marginally — the crossover the table documents needs the serial
    // task to actually dominate.
    val packDocs = spark.range(total * 4).select(
      when(pmod(col("id"), lit(10L)) === 0,
          concat(lit("cold"), pmod(col("id"), lit(7L)).cast("string")))
        .otherwise(lit("hot")).as("source"),
      col("id").as("doc_id"),
      (pmod(xxhash64(col("id")), lit(190L)) + lit(10L)).cast("int").as("n_tokens"))
      .cache()
    val np = packDocs.count()
    println(s"[scale] pack corpus: $np docs, 90% one source")
    def timeP(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-22s rows=$rows%-10d ${sec}%6.1f s  ${np / sec / 1e6}%5.1f M docs/s")
    }
    timeP("pack-plain") {
      checksum(Split.packByTokenBudget(packDocs, Seq(col("source")),
        Seq(col("doc_id")), col("n_tokens"), budget = 4096L),
        col("bin_id").cast("double"), col("bin_offset").cast("double"))
    }
    timeP("pack-chunked") { // (source, doc_id DIV 64k) chunks + offsets
      checksum(Split.packByTokenBudgetChunked(packDocs, Seq(col("source")),
        Seq(col("doc_id")), expr("doc_id DIV 65536"), col("n_tokens"),
        budget = 4096L),
        col("bin_id").cast("double"), col("bin_offset").cast("double"))
    }
    packDocs.unpersist()
    }

    if (on("skewjoin")) {
    // ---- AQE skew-join proof (VERDICT r4 item 5): fact-fact equi join,
    // 90% of the probe side on ONE key (the j2/d4 shape after a hot
    // symbol/class). Broadcast is disabled — at 100 TB neither side
    // broadcasts — so the join is a shuffled SMJ; the hot key's
    // partition carries 9 M rows in one task until AQE's skew split
    // divides it among idle cores. Same join, same checksum, conf
    // toggled: the delta IS the skew-split win.
    val nKeys = 1000000L
    val factL = spark.range(total).select(
      when(pmod(col("id"), lit(10L)) =!= 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(nKeys))).as("k"),
      col("id").as("v")).cache()
    factL.count()
    val factR = spark.range(nKeys).select(col("id").as("k"),
      (col("id") * lit(2L)).as("w")).cache()
    factR.count()
    println(s"[scale] skew-join: $total x $nKeys, 90% of probe on one key")
    def timeJ(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-22s rows=$rows%-10d ${sec}%6.1f s  ${total / sec / 1e6}%5.1f M rows/s")
    }
    def joinChecksum(): Long = {
      factL.join(factR, "k").agg(sum(col("v") + col("w"))).collect(); total
    }
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    timeJ("skewjoin-split-off")(joinChecksum())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    timeJ("skewjoin-split-on")(joinChecksum())
    saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    factL.unpersist(); factR.unpersist()
    }

    if (on("bloom")) {
    // ---- drop-list application (VERDICT r4 item 6): 10 M docs with a
    // real text payload, 5% dropped. Broadcast disabled — the 100 TB
    // drop list doesn't broadcast — so the plain anti-join shuffles the
    // whole corpus, payload included; the bloom pre-filter keeps 95% of
    // it map-side and shuffles only the maybe-hits.
    val bloomDocs = spark.range(total).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(30)), j =>
        conv(pmod(xxhash64(col("id") * lit(31L) + j), lit(1000000000L))
          .cast("string"), 10, 16))).as("text")).cache()
    val nb = bloomDocs.count()
    val drops = spark.range(total / 20)
      .select((col("id") * lit(20L)).as("drop_id")).cache()
    val ndrop = drops.count()
    println(s"[scale] bloom corpus: $nb docs, $ndrop drops (5%)")
    def timeB(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-22s rows=$rows%-10d ${sec}%6.1f s  ${nb / sec / 1e6}%5.1f M docs/s")
    }
    val savedB = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    timeB("prune-antijoin") { // full-corpus shuffle, payload and all
      Dedup.pruneDuplicates(bloomDocs, col("doc_id"), drops)
        .agg(sum(crc32(col("text")))).collect(); nb
    }
    timeB("prune-bloom") { // map-side definite-keeps, 5%+fpp shuffled
      Dedup.pruneDuplicatesBloom(bloomDocs, col("doc_id"), drops,
          expectedDrops = ndrop)
        .agg(sum(crc32(col("text")))).collect(); nb
    }
    savedB.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    bloomDocs.unpersist(); drops.unpersist()
    }

    if (on("stream")) {
    // ---- streaming throughput (VERDICT r6 item 7): the bit-equality of
    // stream vs batch is already spec'd (StreamingSpec); this measures
    // the THROUGHPUT cost of micro-batched delivery — checkpointing,
    // per-batch planning, and (for the text index) per-batch staged
    // commits — against the identical one-shot batch job. 1 M docs with
    // ts, landed as 20 parquet files consumed 2-per-trigger = 10
    // micro-batches, a realistic incremental-ingest shape.
    import org.apache.spark.sql.types._
    val nStream = 1000000L
    val streamSrc = graft.TempDirs.create("smoke-stream-src")
    spark.range(nStream).select(
        col("id").as("doc_id"),
        timestamp_seconds(lit(1704067200L) + col("id") % 86400L).as("ts"),
        concat_ws(" ", transform(sequence(lit(1), lit(40)), j =>
          conv(pmod(xxhash64(col("id") * lit(41L) + j), lit(1000000000L))
            .cast("string"), 10, 16))).as("text"))
      .repartition(20).write.mode("overwrite").parquet(streamSrc)
    val streamSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    def fileStreamN(files: Int) = spark.readStream.schema(streamSchema)
      .option("maxFilesPerTrigger", files).parquet(streamSrc)
    def fileStream = fileStreamN(2)
    def timeS(label: String, rows: Long)(f: => Int): Unit = {
      val t0 = System.nanoTime()
      val batches = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-22s rows=$rows%-10d ${sec}%6.1f s  ${rows / sec / 1e6}%5.2f M docs/s  batches=$batches")
    }
    println(s"[scale] stream corpus: $nStream docs, 20 files, 2 files/trigger")

    // batch baseline: the same clean chain, one job, no checkpoint
    // (dropDuplicatesWithinWatermark is streaming-only; its batch
    // equivalent is a plain dropDuplicates on the content hash)
    val batchDocs = spark.read.schema(streamSchema).parquet(streamSrc)
    timeS("doc-clean-batch", nStream) {
      Dedup.withSignatures(
        batchDocs
          .withColumn("quality", TextOps.qualityScore(col("text")))
          .withColumn("lang", TextOps.langId(col("text")))
          .withColumn("n_tokens", TextOps.tokenCount(col("text")))
          .withColumn("verdict", TextOps.filterVerdict(col("text")))
          .withColumn("scrubbed", TextOps.scrubPii(col("text")))
          .withColumn("content_hash", sha2(col("text"), 256))
          .filter(col("quality") >= 0.3)
          .dropDuplicates("content_hash"),
        col("text"))
        .agg(sum(crc32(col("scrubbed"))), sum(col("n_tokens"))).collect()
      1
    }
    // streamed: identical transforms through a checkpointed file-source
    // query landing parquet — dedup state bounded by the 1 h watermark
    timeS("doc-clean-stream", nStream) {
      val outDir = graft.TempDirs.create("smoke-stream-out")
      val ckpt = graft.TempDirs.create("smoke-stream-ck")
      val q = graft.streaming.StreamDocs.cleanStream(fileStream)
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append").format("parquet")
        .option("path", outDir).start()
      q.processAllAvailable(); q.stop()
      q.recentProgress.count(_.numInputRows > 0)
    }

    // trigger sizing follow-through (VERDICT r7 item 9): the 10-batch run
    // above prices tiny triggers (~30 MB input each -> ~3x batch cost,
    // 97% of it addBatch's fixed per-job overhead). Re-run the SAME
    // pipeline at 10 files/trigger (~half the corpus, ~300 MB of input
    // per micro-batch): the fixed cost amortizes into the real work and
    // streamed throughput should approach the one-shot batch number.
    timeS("doc-clean-stream-300MB", nStream) {
      val outDir = graft.TempDirs.create("smoke-stream-out")
      val ckpt = graft.TempDirs.create("smoke-stream-ck")
      val q = graft.streaming.StreamDocs.cleanStream(fileStreamN(10))
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append").format("parquet")
        .option("path", outDir).start()
      q.processAllAvailable(); q.stop()
      q.recentProgress.count(_.numInputRows > 0)
    }

    // text-index: one-shot build vs streamed per-batch staged commits
    val idxBatch = graft.TempDirs.create("smoke-idx-b")
    timeS("text-index-build", nStream) {
      TextIndex.build(batchDocs, col("text"), col("doc_id"), idxBatch)
      1
    }
    val idxStream = graft.TempDirs.create("smoke-idx-s")
    timeS("text-index-stream", nStream) {
      val ckpt = graft.TempDirs.create("smoke-idx-ck")
      val q = graft.streaming.StreamTextIndex.appendStream(
        fileStream, col("text"), col("doc_id"), idxStream, ckpt)
      q.processAllAvailable(); q.stop()
      q.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
        println(s"[scale]   idx batch ${pr.batchId} rows=${pr.numInputRows} " +
          s"durations=${pr.durationMs}")
      }
      q.recentProgress.count(_.numInputRows > 0)
    }
    // the streamed index is query-ready: probe with a real corpus term
    val term = batchDocs.select(explode(split(col("text"), " ")).as("t"))
      .limit(1).collect()(0).getString(0)
    val probe = TextIndex.topK(spark, idxStream, Seq(term), 5)
    println(s"[scale] streamed-index probe term=$term rows=${probe.count()}")

    // ---- many-query BM25 serving (VERDICT r6 item 2 done-criterion):
    // 1000 eval queries, 3 real corpus terms each, against the 1 M-doc
    // index. One topKBatch job vs a per-query topK loop (20 queries
    // timed, per-query cost extrapolates linearly — each loop iteration
    // is its own full Spark job by construction).
    val qTerms = batchDocs.limit(1000)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 3).as("terms"))
      .cache()
    qTerms.count()
    val t0b = System.nanoTime()
    val batchHits = TextIndex.topKBatch(spark, idxBatch, qTerms, 10).count()
    val batchSec = (System.nanoTime() - t0b) / 1e9
    println(f"[scale] bm25-batch-1000q       hits=$batchHits%-8d ${batchSec}%6.1f s  (ONE job)")
    val sample = qTerms.limit(20).collect()
    val t0l = System.nanoTime()
    val loopHits = sample.map(r => TextIndex.topK(spark, idxBatch,
      r.getSeq[String](1), 10).count()).sum
    val loopSec = (System.nanoTime() - t0l) / 1e9
    println(f"[scale] bm25-loop-20q          hits=$loopHits%-8d ${loopSec}%6.1f s  (20 jobs -> ${loopSec / 20 * 1000}%6.0f s per 1000)")
    qTerms.unpersist()
    }
    if (on("bm25")) {
    // ---- batched BM25 at production query counts (VERDICT r7 item 4):
    // 1 k and 10 k query batches against a 1 M-doc index. 10 k x 3-term
    // queries carry ~30 k distinct terms >> 64 buckets, so bucket pruning
    // has fully vanished (every partition kept — the documented
    // vanishing point) and the run prices the honest worst case: a full
    // postings scan gated by the InSet vocab filter, one job.
    val nDocs = 1000000L
    val docs10 = spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(40)), j =>
          conv(pmod(xxhash64(col("id") * lit(41L) + j), lit(1000000000L))
            .cast("string"), 10, 16))).as("text"))
    val idxDir = graft.TempDirs.create("smoke-bm25-idx")
    val tIdx = System.nanoTime()
    TextIndex.build(docs10, col("text"), col("doc_id"), idxDir)
    println(f"[scale] bm25-index-build       docs=$nDocs%-8d ${(System.nanoTime() - tIdx) / 1e9}%6.1f s")
    for (nQ <- Seq(1000, 10000)) {
      val qs = spark.range(nQ).select(
          col("id").as("query_id"),
          transform(sequence(lit(1), lit(3)), j =>
            conv(pmod(xxhash64(col("id") * lit(977L) + j * lit(131L)),
              lit(1000000000L)).cast("string"), 10, 16)).as("terms"))
        .cache()
      qs.count()
      val t0 = System.nanoTime()
      val hits = TextIndex.topKBatch(spark, idxDir, qs, 10).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val label = s"bm25-batch-${nQ}q"
      println(f"[scale] $label%-22s hits=$hits%-8d ${sec}%6.1f s  ${nQ / sec}%7.0f queries/s")
      qs.unpersist()
    }
    }
    if (on("semdedup")) {
    // ---- the blocksFor dial vs the oracle-pinned fixed block count, at
    // the sf10 falsifier's scale (BENCH_sf10: d5 68.8x / d7 44.5x for 10x
    // data — their declared queries pin 16 blocks for DuckDB replay, so
    // block SIZE grows with the corpus and within-block pair work grows
    // with its square). The production dial is blocksFor(N, target):
    // block count ∝ N bounds block size, making pair work ∝ N x target.
    // Witness: run BOTH shapes at two corpus sizes — fixed-k wall should
    // approach 4x for 2x data (quadratic), dialed-k 2x (linear) — on the
    // same generator as the declared embeddings table (near-uniform
    // hash-derived unit-scale vectors, ANN's worst case).
    val tau = 0.35
    for (nv <- Seq(100000L, 200000L)) {
      val emb = spark.range(nv).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), i =>
          ((pmod(xxhash64(col("id") * lit(65L) + i), lit(2001L)) - lit(1000L))
            .cast("double") / lit(1000.0)).cast("float")).as("embedding"))
        .cache()
      val nvReal = emb.count()
      def timeS(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $label%-26s rows=$rows%-9d ${sec}%6.1f s  ${nvReal / sec / 1e3}%6.1f k vecs/s")
      }
      val mod = math.max(1L, nv / 50000L)
      val kDial = VectorOps.blocksFor(nv, 2048)
      val fixed = VectorOps.kmeansCodebook(emb, 16, 4, sampleMod = mod)
      val dialed = VectorOps.kmeansCodebook(emb, kDial, 4, sampleMod = mod)
      timeS(s"semdrop-fixed16-${nv / 1000}k") {
        VectorOps.semanticDropList(emb, fixed, tau).count()
      }
      timeS(s"semdrop-k$kDial-${nv / 1000}k") {
        VectorOps.semanticDropList(emb, dialed, tau).count()
      }
      timeS(s"toppairs-k$kDial-${nv / 1000}k") {
        VectorOps.blockedTopPairs(
          VectorOps.ivfAssign(emb, dialed, 1)
            .select(col("vec_id"), col("embedding"), col("cent_id")),
          col("cent_id"), 50).count()
      }
      emb.unpersist()
    }
    }
    if (on("annrecall10")) {
    // ---- ANN recall floors on the REAL sf10 embeddings (200k x 64-dim,
    // near-uniform — ANN's worst case), VERDICT r8 #5: VectorSpec2's
    // floors are clustered-fixture numbers at test scale; this measures
    // recall@10 of every approximate path against the exact brute top-10
    // at the falsifier's corpus size, with the SAME parameters the
    // declared v4-v8 queries pin, and FAILS (require) below the floor so
    // a recall regression at scale is loud. Results -> BASELINE.md.
    val sfDir = sys.env.getOrElse("GRAFT_SF_DIR", "/root/repo/target/sf10")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val nEmb = emb.count()
    val nQ = 64
    val qs = emb.filter(col("vec_id") < nQ)
    println(s"[scale] annrecall10: $nEmb vectors, $nQ queries (from $sfDir)")
    val exact = VectorOps.bruteTopK(qs, emb, 10)
      .select(col("query_id"), col("neighbor_id")).cache()
    val nExact = exact.count()
    def recall(label: String, floor: Double)(approx: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val hit = approx.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id")).count()
      val r = hit.toDouble / nExact
      println(f"[scale] recall@10 $label%-14s $r%6.3f  (floor $floor%4.2f)  ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      require(r >= floor,
        f"$label recall@10 $r%.3f fell below the $floor%.2f floor at $nEmb vectors")
    }
    // same dials as the declared queries: 16 coarse lists / probe 4,
    // PQ 16x32 subspaces (2 Lloyd iters), refine shortlist 100
    val coarse = VectorOps.kmeansCodebook(emb, 16, 4, sampleMod = 3)
    val cbs = VectorOps.pqCodebooks(emb, 16, 32, 2, sampleMod = 3)
    recall("ivf-4/16", 0.55) {
      VectorOps.ivfTopK(qs, emb, 10, 16, 4, Some(coarse)) }
    recall("pq-adc", 0.20) { VectorOps.pqTopK(qs, emb, 10, cbs) }
    recall("pq-refine", 0.55) { VectorOps.pqRefineTopK(qs, emb, 10, 100, cbs) }
    recall("ivfpq-refine", 0.45) {
      VectorOps.ivfPqTopK(qs, emb, 10, coarse, cbs, 4, 100) }
    val idxDir = graft.TempDirs.create("smoke-annrecall-idx")
    val tIdx = System.nanoTime()
    val idx = VectorIndex.build(emb, idxDir, 16, 16, 32,
      coarseIters = 4, pqIters = 2, sampleMod = 3)
    println(f"[scale] index-build-200k      ${(System.nanoTime() - tIdx) / 1e9}%6.1f s")
    recall("index-serve", 0.45) { VectorIndex.topK(qs, emb, idx, 10, 4, 100) }
    exact.unpersist(); emb.unpersist()
    }
    if (on("lake10")) {
    // ---- partitioned-lake lifecycle at sf10 derivation (VERDICT r8 #6):
    // the reference's monthly archive tree -> archiveToLake migration ->
    // month-pruned reads, with FILES-OPENED counts printed for each step
    // (the number that bounds any reader's I/O at 100 TB). Tree = the
    // first 24 months of the sf10 bars (~1M rows, 5 symbols x 24 months),
    // one file per (month, symbol) in the reference
    // {year}/{month}/{symbol}/{symbol}_{tf}_{yyyyMM}.parquet shape with
    // one month per codec (zlib/xz/bz2) like the reference's mixed layout.
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val sfDir = sys.env.getOrElse("GRAFT_SF_DIR", "/root/repo/target/sf10")
    val arch = graft.TempDirs.create("smoke-lake10-arch")
    val lake = graft.TempDirs.create("smoke-lake10-lake")
    // partition columns are COPIES (y/m/sym) so the data files keep the
    // full bar schema the reference archives carry (symbol/ts included)
    val bars10 = graft.sources.Tables.bars(spark, sfDir)
      .filter(col("ts") < lit("2026-01-01").cast("timestamp"))
      .withColumn("y", year(col("ts"))).withColumn("m", month(col("ts")))
      .withColumn("sym", col("symbol"))
    // stage partitioned, then rename into the reference tree (driver-side
    // listing-scale renames, one per (month, symbol) file)
    val stage = graft.TempDirs.create("smoke-lake10-stage")
    bars10.repartition(col("y"), col("m"), col("sym"))
      .write.partitionBy("y", "m", "sym").mode("overwrite").parquet(stage)
    val fs = FileSystem.get(new HPath(stage).toUri,
      spark.sparkContext.hadoopConfiguration)
    var nArch = 0
    val stageRe = ".*/y=(\\d+)/m=(\\d+)/sym=([^/]+)/.*\\.parquet".r
    val it = fs.listFiles(new HPath(stage), true)
    while (it.hasNext) {
      val st = it.next()
      st.getPath.toString match {
        case stageRe(yy, mm, sym) if st.isFile =>
          val mm2 = f"${mm.toInt}%02d"
          val symDir = new HPath(s"$arch/$yy/$mm2/$sym")
          fs.mkdirs(symDir)
          require(fs.rename(st.getPath,
            new HPath(symDir, s"${sym}_1m_$yy$mm2.parquet")))
          nArch += 1
        case _ =>
      }
    }
    // one month per codec, like the reference's mixed tree (compress each
    // symbol dir in place, then drop the plain payloads); the generator's
    // months are sparse, so pick the first three that exist
    val monthDirs = fs.listStatus(new HPath(s"$arch/2024"))
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName).take(3)
    for ((meth, mdir) <- graft.sources.Archive.methods.zip(monthDirs)) {
      fs.listStatus(mdir).filter(_.isDirectory).foreach { sd =>
        graft.sources.Archive.compressDirectory(spark,
          sd.getPath.toString, sd.getPath.toString, method = meth)
        fs.listStatus(sd.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .foreach(f => fs.delete(f.getPath, false))
      }
    }
    println(s"[scale] lake10: archive tree $nArch files")
    def timeL(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label%-22s rows=$r%-10d ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    }
    timeL("archive-to-lake") {
      graft.pipeline.ArchiveMigration.archiveToLake(spark, arch, lake,
        filesPerMonth = 4).filter(col("action") === "migrated").count()
    }
    def leafFiles(p: String): Int = {
      val itf = fs.listFiles(new HPath(p), true)
      var n = 0
      while (itf.hasNext) { if (itf.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val totalFiles = leafFiles(lake)
    val monthFiles = leafFiles(s"$lake/year=2025/month=6")
    println(s"[scale] lake10-pruning        month query opens $monthFiles of $totalFiles files (" +
      f"${monthFiles.toDouble / totalFiles * 100}%.1f%%)")
    timeL("month-pruned-read") {
      spark.read.parquet(lake)
        .filter(col("year") === 2025 && col("month") === 6).count()
    }
    }

    // ---- snapshot: manifest-pinned lake at ingest scale ----------------
    // The SnapshotLake lifecycle priced on real volume: month-sliced
    // appends with footer stats, manifest-pruned box reads vs full-scan
    // filters, non-blocking compaction, retention vacuum. The headline
    // ratio is files-opened: a ts-month box must plan only that month's
    // files from the manifest alone (no stats job, no directory listing).
    if (on("snapshot")) {
      import graft.sinks.SnapshotLake
      val root = graft.TempDirs.create("smoke-snap") + "/lake"
      def timeN(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scale] $label%-22s rows=$r%-10d ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      }
      // 12 calendar-month appends (date_trunc, NOT month-of-year: the
      // 1-min series spans years at large n, and month-of-year repeats —
      // slices must be time-contiguous for the envelopes to be disjoint)
      val withM = bars.withColumn("m", date_trunc("month", col("ts")))
      val months = withM.select("m").distinct().orderBy("m").limit(12)
        .collect().map(_.getTimestamp(0))
      timeN(s"snap-append-x${months.length}") {
        months.foreach { m =>
          SnapshotLake.append(spark, root, withM.filter(col("m") === m).drop("m")
            .repartition(4), statsCols = Seq("ts", "open"))
        }
        SnapshotLake.read(spark, root).count()
      }
      val man = SnapshotLake.manifest(spark, root)
      val mTarget = months(months.length / 2)
      val (tsLo, tsHi) = {
        val r = withM.filter(col("m") === mTarget)
          .agg(min(unix_timestamp(col("ts"))) * 1000000L,
            max(unix_timestamp(col("ts"))) * 1000000L).head
        (r.getLong(0).toDouble, r.getLong(1).toDouble)
      }
      val box = Map("ts" -> (tsLo, tsHi))
      val cand = SnapshotLake.candidateEntries(spark, root, box)
      println(s"[scale] snap-prune            month box plans ${cand.size} of " +
        s"${man.files.size} files (manifest stats only)")
      timeN("snap-box-read") {
        SnapshotLake.readBox(spark, root, box).count()
      }
      timeN("snap-full-filter") {
        SnapshotLake.read(spark, root)
          .filter(col("ts") >= java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond((tsLo / 1e6).toLong)) &&
            col("ts") <= java.sql.Timestamp.from(
              java.time.Instant.ofEpochSecond((tsHi / 1e6).toLong))).count()
      }
      timeN("snap-compact") {
        val (_, b, a) = SnapshotLake.compact(spark, root,
          targetBytes = 512L * 1024 * 1024)
        println(s"[scale] snap-compact-files    $b -> $a")
        SnapshotLake.read(spark, root).count()
      }
      timeN("snap-vacuum") {
        val (del, drop) = SnapshotLake.vacuum(spark, root, retainLast = 1,
          staleStageMs = 0)
        println(s"[scale] snap-vacuum-swept     $del files, $drop manifests")
        del.toLong
      }
      // post-compact pruning: envelopes recomputed on the rewritten files
      val cand2 = SnapshotLake.candidateEntries(spark, root, box)
      println(s"[scale] snap-prune-compacted  month box plans ${cand2.size} of " +
        s"${SnapshotLake.manifest(spark, root).files.size} files")
    }
    if (on("pointbloom")) {
      // ---- bloom-sidecar point lookups at 10 M rows: ingest-ordered
      // appends whose id domain is hash-scattered across every file, so
      // min/max envelopes keep ALL files and the bloom is the only index
      // that can skip. Measures build overhead (append with vs without
      // sidecars), pruning ratio, and serve time vs the full-scan filter.
      import graft.sinks.SnapshotLake
      val rows10m = spark.range(total).select(
        col("id"),
        concat(lit("u-"), conv(pmod(xxhash64(col("id")), lit(100000000L))
          .cast("string"), 10, 16)).as("who"),
        (col("id") % 1000).cast("double").as("v")).cache()
      val npb = rows10m.count()
      println(s"[scale] pointbloom corpus: $npb rows")
      def timeP(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scale] $label%-22s rows=$r%-10d ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      }
      val plainRoot = graft.TempDirs.create("smoke-pb-plain") + "/lake"
      val bloomRoot = graft.TempDirs.create("smoke-pb-bloom") + "/lake"
      timeP("pb-append-plain") {
        (0 until 8).foreach(k => SnapshotLake.append(spark, plainRoot,
          rows10m.filter(pmod(col("id"), lit(8)) === k).repartition(4),
          statsCols = Seq("id")))
        npb
      }
      timeP("pb-append-bloomed") {
        (0 until 8).foreach(k => SnapshotLake.append(spark, bloomRoot,
          rows10m.filter(pmod(col("id"), lit(8)) === k).repartition(4),
          statsCols = Seq("id"), bloomCols = Seq("id", "who")))
        npb
      }
      val nFiles = SnapshotLake.manifest(spark, bloomRoot).files.size
      val probeId = total / 3
      val cand = SnapshotLake.pointCandidates(spark, bloomRoot,
        Map("id" -> probeId))
      val candStats = SnapshotLake.candidateEntries(spark, bloomRoot,
        Map("id" -> (probeId.toDouble, probeId.toDouble)))
      println(s"[scale] pb-prune              id=$probeId: stats keep " +
        s"${candStats.size}/$nFiles, bloom keeps ${cand.size}/$nFiles")
      timeP("pb-read-point") {
        SnapshotLake.readPoint(spark, bloomRoot, Map("id" -> probeId)).count()
      }
      timeP("pb-full-filter") {
        SnapshotLake.read(spark, plainRoot)
          .filter(col("id") === probeId).count()
      }
      val whoProbe = rows10m.filter(col("id") === probeId)
        .select("who").head.getString(0)
      val candW = SnapshotLake.pointCandidates(spark, bloomRoot,
        Map("who" -> whoProbe))
      println(s"[scale] pb-prune-string       who=$whoProbe: bloom keeps " +
        s"${candW.size}/$nFiles (string key: NO min/max envelope exists)")
      timeP("pb-read-point-string") {
        SnapshotLake.readPoint(spark, bloomRoot, Map("who" -> whoProbe)).count()
      }
      val candAbs = SnapshotLake.pointCandidates(spark, bloomRoot,
        Map("who" -> "u-definitely-not"))
      println(s"[scale] pb-prune-absent       absent key: bloom keeps " +
        s"${candAbs.size}/$nFiles")
      rows10m.unpersist()
    }
    if (on("cc")) {
      // connectedComponents at the shape that kills label propagation:
      // 2 M nodes in 1000-long CHAINS (diameter 1000 ⇒ ~1000 propagation
      // rounds; alternating large/small-star needs ~log n). Verifies every
      // node labels to its chain head, then times the clique-heavy regime
      // (10-cliques — real dup graphs — converging in ~2 rounds).
      import graft.operators.Dedup
      val chainLen = 1000L
      val nNodes = 2000000L
      val chainEdges = spark.range(nNodes)
        .filter(col("id") % chainLen =!= (chainLen - 1))
        .select(col("id").as("a"), (col("id") + 1).as("b"))
        .cache()
      chainEdges.count()
      def timeS(label: String)(f: => String): Unit = {
        val t0 = System.nanoTime()
        val out = f
        println(f"[scale] $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.1f s  $out")
      }
      timeS("cc-chains-2M") {
        val labels = Dedup.connectedComponents(chainEdges, col("a"), col("b"))
          .cache()
        val bad = labels
          .filter(col("comp") =!= col("id") - pmod(col("id"), lit(chainLen)))
          .count()
        val nComp = labels.select("comp").distinct().count()
        labels.unpersist()
        require(bad == 0, s"$bad nodes mislabeled")
        require(nComp == nNodes / chainLen, s"got $nComp components")
        s"labels=${nNodes} comps=$nComp mislabeled=$bad (diameter $chainLen)"
      }
      chainEdges.unpersist()
      val cliqueEdges = spark.range(nNodes)
        .filter(col("id") % 10 =!= 0)
        .select(col("id").as("a"), (col("id") - col("id") % 10).as("b"))
        .cache()
      cliqueEdges.count()
      timeS("cc-cliques-2M") {
        val labels = Dedup.connectedComponents(cliqueEdges, col("a"), col("b"))
        val nComp = labels.select("comp").distinct().count()
        require(nComp == nNodes / 10, s"got $nComp components")
        s"comps=$nComp (10-cliques)"
      }
      cliqueEdges.unpersist()
    }

    if (on("hll")) {
      // mergeable-HLL at 20 M rows / 3 M distinct over 100 groups: the
      // sketch vs the exact countDistinct Expand, plus measured error.
      import graft.operators.Hll
      val nRows = 20000000L
      val card = 3000000L
      val d = spark.range(nRows)
        .select((col("id") % 100).cast("string").as("g"),
          (col("id") % card).as("v"))
        .cache()
      d.count()
      def timeS(label: String)(f: => String): Unit = {
        val t0 = System.nanoTime()
        val out = f
        println(f"[scale] $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.1f s  $out")
      }
      var exact: Map[String, Long] = Map.empty
      timeS("hll-exact-distinct") {
        exact = d.groupBy("g").agg(countDistinct(col("v")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        s"groups=${exact.size}"
      }
      timeS("hll-sketch-p12") {
        val est = Hll.approxDistinct(d, Seq("g"), col("v"), p = 12)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val errs = exact.map { case (g, n) => math.abs(est(g) - n) / n }
        f"maxRelErr=${errs.max}%.4f meanRelErr=${errs.sum / errs.size}%.4f"
      }
      d.unpersist()
    }
    if (on("profile")) {
      // dataset profiler + PSI drift at 50 M rows x 4 columns: the claim
      // under test is BOUNDED passes — profile cost must look like ~3
      // column-pruned scans regardless of cardinality, vs the exact
      // countDistinct + global-percentile formulation whose Expand and
      // single-reducer percentile blow up with rows.
      import graft.operators.Profile
      val nRows = 50000000L
      val d = spark.range(nRows).select(
        col("id"),
        (col("id") % 1000000).cast("string").as("s"),
        when(col("id") % 17 === 0, lit(null).cast("double"))
          .otherwise(sin(col("id").cast("double")) * 100).as("v"),
        (col("id") % 97).cast("double").as("w"))
        .cache()
      d.count()
      def timeS(label: String)(f: => String): Unit = {
        val t0 = System.nanoTime()
        val out = f
        println(f"[scale] $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.1f s  $out")
      }
      timeS("profile-sketched") {
        val rows = Profile.dataset(d, keyCol = "id").collect()
        s"metrics=${rows.length}"
      }
      timeS("profile-exact-ref") {
        // what the profiler replaces: exact distincts (Expand) + exact
        // global percentiles (single partition after shuffle)
        val r = d.agg(
          countDistinct(col("s")).as("ds"),
          countDistinct(col("id")).as("di"),
          percentile(col("v"), lit(0.5)).as("qv"),
          percentile(col("w"), lit(0.5)).as("qw")).head
        f"ds=${r.getLong(0)} qv=${r.getDouble(2)}%.6f"
      }
      timeS("drift-psi") {
        val rows = Profile.drift(
          d.filter(col("id") % 2 === 0), d.filter(col("id") % 2 === 1),
          keyCol = "id", cols = Seq("v", "w")).collect()
        val psi = rows.filter(_.getInt(1) == -1)
          .map(r => f"${r.getString(0)}=${r.getDouble(6)}%.5f").mkString(" ")
        s"psi: $psi"
      }
      timeS("weighted-sample") {
        // 50 M rows, weight ∝ 1..97 — exact-k importance sample
        val sm = graft.operators.Sketch.weightedSampleBottomK(
          d, Nil, col("id"), col("w") + lit(1.0), k = 100000)
        s"rows=${sm.count()}"
      }
      d.unpersist()
    }

    // ---- ingest: the c3/c3b history-path crossover ---------------------
    // Prices the incremental-dedup history anti-join against its bloom
    // twin as the history grows past broadcast range: ONE history lake
    // (2 M / 10 M fingerprinted docs), one 1 M-doc slice (half already in
    // history, half new), and the SURVIVOR computation timed through both
    // paths against the same lake — the append is common cost and
    // excluded, so the number is exactly what ingestDedup vs
    // ingestDedupBloom trade. Bit-equality of the survivor sets is
    // asserted, not assumed.
    if (on("ingest")) {
      import graft.operators.{Dedup, TextOps}
      import org.apache.spark.sql.expressions.Window
      for (histN <- Seq(2000000L, 10000000L)) {
        val root = graft.TempDirs.create(s"smoke-ingest$histN") + "/corpus"
        def docs(lo: Long, hi: Long) =
          spark.range(lo, hi, 1, 32).selectExpr("id AS doc_id",
            "concat('document body ', id, ' variant ', id % 13) AS text")
        val t0 = System.nanoTime()
        Dedup.ingestDedup(spark, root, docs(0, histN), "doc_id", "text")
        println(f"[scale] ingest-hist-$histN%-8d build ${(System.nanoTime() - t0) / 1e9}%6.1f s")
        // slice: 500 k dupes (ids inside history, shifted ids so the
        // within-slice step keeps them) + 500 k new
        val slice = docs(histN / 2, histN / 2 + 500000L)
          .unionByName(docs(histN, histN + 500000L))
          .withColumn("doc_id", col("doc_id") + lit(3000000000L))
        val nf = TextOps.normalizedFingerprint(col("text"))
        val first = slice.withColumn("fp", nf.getField("fp"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy("fp").orderBy(col("doc_id"))))
          .filter(col("__rn") === 1).drop("__rn")
          .persist()
        first.count()
        import graft.sinks.SnapshotLake
        val hist = SnapshotLake.read(spark, root)
        def timeI(label: String)(f: => Long): Long = {
          val t = System.nanoTime()
          val rows = f
          println(f"[scale] $label%-22s rows=$rows%-9d ${(System.nanoTime() - t) / 1e9}%6.1f s")
          rows
        }
        val a = timeI(s"ingest-anti-$histN") {
          first.join(hist.select(col("fp")), Seq("fp"), "left_anti").count()
        }
        val b = timeI(s"ingest-bloom-$histN") {
          Dedup.pruneDuplicatesBloom(first, col("fp"),
            hist.select(col("fp").as("drop_id")), expectedDrops = histN).count()
        }
        require(a == b, s"bloom path diverged: $a vs $b survivors")
        first.unpersist()
      }
    }

    // ---- lockbench: concurrent-writer commit throughput ----------------
    // Prices the dense-version lock protocol under N racing appenders
    // into ONE lake: each commit carries a tiny 100-row frame, so the
    // number is the PROTOCOL cost (stage write + footer probe + lock
    // acquisition + manifest publish), not data volume. Reported per
    // writer count: wall, commits/s, per-commit latency quantiles, and
    // live-lock waits (25 ms sleeps behind a rival's held lock, via the
    // SnapshotLake.lockWaits seam). Correctness asserted, not assumed:
    // versions stay DENSE (no commit lost, none double-numbered) and
    // every append's rows land exactly once.
    if (on("lockbench")) {
      import graft.sinks.SnapshotLake
      import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
      for (writers <- Seq(1, 2, 4, 8)) {
        val root = graft.TempDirs.create(s"smoke-lock$writers") + "/lake"
        val perWriter = 8
        val lat = new ConcurrentLinkedQueue[java.lang.Double]()
        val waits0 = SnapshotLake.lockWaits.get()
        val start = new CountDownLatch(1)
        val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
        val threads = (0 until writers).map { w =>
          val t = new Thread(() => {
            try {
              start.await()
              (0 until perWriter).foreach { i =>
                val base = w * 1000000L + i * 1000L
                val df = spark.range(base, base + 100L, 1, 1).toDF("id")
                val t0 = System.nanoTime()
                SnapshotLake.append(spark, root, df, statsCols = Seq("id"))
                lat.add((System.nanoTime() - t0) / 1e9)
              }
            } catch { case e: Throwable => failed.compareAndSet(null, e) }
          })
          t.setName(s"lockbench-w$w"); t
        }
        threads.foreach(_.start())
        val t0 = System.nanoTime(); start.countDown()
        threads.foreach(_.join())
        require(failed.get() == null, s"writer failed: ${failed.get()}")
        val wall = (System.nanoTime() - t0) / 1e9
        val ls = lat.toArray(Array.empty[java.lang.Double])
          .map(_.doubleValue).sorted
        val waits = SnapshotLake.lockWaits.get() - waits0
        val m = SnapshotLake.manifest(spark, root)
        require(m.version == writers.toLong * perWriter,
          s"lost commit: head ${m.version} of ${writers * perWriter}")
        require(SnapshotLake.read(spark, root).count() ==
          writers.toLong * perWriter * 100L, "rows lost or duplicated")
        def q(p: Double) = ls(math.round(p * (ls.length - 1)).toInt)
        println(f"[scale] lockbench w=$writers%-2d commits=${ls.length}%3d " +
          f"wall=$wall%6.1f s rate=${ls.length / wall}%5.2f commits/s " +
          f"p50=${q(0.5)}%.2f p95=${q(0.95)}%.2f max=${ls.last}%.2f " +
          f"lockWaits=$waits")
      }
    }
    // ---- insertbench: the SQL INSERT doorway vs the library append -----
    // Prices the round-12 DSv2 write surface: the SAME frames land once
    // through `SnapshotLake.append` and once through a catalog-table
    // `INSERT INTO` (SnapshotTable's V1Write → append), so the delta is
    // exactly the doorway's constant (analysis + V1-fallback plumbing) on
    // top of the shared commit cost (stage write + footer probe + lock +
    // publish). Asserted, not assumed: the INSERT commits carry the same
    // footer envelopes as library appends (inherited from the lake head),
    // so SQL ingest can never silently shed the data-skipping index.
    if (on("insertbench")) {
      import graft.sinks.SnapshotLake
      val perMode = 8
      val rowsPer = 2000000L
      val results = Seq("library", "sql").map { mode =>
        val root = graft.TempDirs.create(s"smoke-ins-$mode") + "/lake"
        // seed v1 WITH envelopes: the SQL path gets no statsCols option,
        // so its stats discipline must come from head-manifest inheritance
        SnapshotLake.append(spark, root,
          spark.range(0L, 1000L, 1, 1).toDF("id"), statsCols = Seq("id"))
        if (mode == "sql") {
          spark.sql("DROP TABLE IF EXISTS insbench")
          spark.sql(
            s"CREATE TABLE insbench USING `graft-snapshot` OPTIONS (path '$root')")
        }
        val lats = (0 until perMode).map { i =>
          val base = 1000L + i * rowsPer
          val df = spark.range(base, base + rowsPer, 1, 4).toDF("id")
          val t0 = System.nanoTime()
          if (mode == "sql") {
            df.createOrReplaceTempView("insbench_src")
            spark.sql("INSERT INTO insbench SELECT id FROM insbench_src")
          } else {
            SnapshotLake.append(spark, root, df, statsCols = Seq("id"))
          }
          (System.nanoTime() - t0) / 1e9
        }.sorted
        val m = SnapshotLake.manifest(spark, root)
        require(m.version == 1L + perMode, s"$mode: lost commit (${m.version})")
        require(m.files.forall(_.stats.contains("id")),
          s"$mode: a commit shed its footer envelopes")
        require(SnapshotLake.read(spark, root).count() ==
          1000L + perMode * rowsPer, s"$mode: rows lost or duplicated")
        println(f"[scale] insertbench $mode%-8s commits=$perMode " +
          f"p50=${lats(perMode / 2)}%.2f s max=${lats.last}%.2f s " +
          f"(${rowsPer / 1e6}%.0f M rows/commit)")
        lats(perMode / 2)
      }
      println(f"[scale] insertbench doorway constant (sql p50 - library " +
        f"p50): ${results(1) - results(0)}%+.2f s/commit")
    }

    // ---- mergebench: small SQL MERGE vs lake size (round 13) ------------
    // The falsifier for runtime group filtering: the SAME 1000-key MERGE
    // runs against a small lake and a 10x lake. Before round 13 the SQL
    // path was a full-snapshot copy-on-write, so the 10x statement cost
    // ~10x; with the `_file` runtime group filter the rewrite is bounded
    // by the files holding the keys, so the ratio should collapse toward
    // the (shared) matching-subquery scan cost, and the rewritten-file
    // count should stay flat. Keys are time-clustered and the lake is
    // range-partitioned on event_id, the realistic layout for a keyed
    // upsert target.
    if (on("mergebench")) {
      import graft.sinks.SnapshotLake
      val results = Seq(10L, 1L).map { frac =>
        val rows = math.max(total / frac, 1000L)
        val root = graft.TempDirs.create(s"smoke-mrg-$frac") + "/lake"
        val keyed = bars.limit(rows.toInt)
          .withColumn("event_id", // unique: 8*ts + dense symbol index
            unix_timestamp(col("ts")) * 8 +
              array_position(array(symbols.map(lit): _*), col("symbol")))
          .select("event_id", "symbol", "ts", "close")
        keyed.repartitionByRange(32, col("event_id"))
          .sortWithinPartitions("event_id")
          .write.format("graft-snapshot").option("statsCols", "event_id")
          .save(root)
        spark.sql("DROP TABLE IF EXISTS mrgbench")
        spark.sql(
          s"CREATE TABLE mrgbench USING `graft-snapshot` OPTIONS (path '$root')")
        val before = SnapshotLake.manifest(spark, root)
        keyed.orderBy("event_id").limit(1000)
          .withColumn("close", col("close") + lit(1.0))
          .createOrReplaceTempView("mrgbench_src")
        val t0 = System.nanoTime()
        spark.sql("""MERGE INTO mrgbench t USING mrgbench_src s
                     ON t.event_id = s.event_id
                     WHEN MATCHED THEN UPDATE SET close = s.close""")
        val sec = (System.nanoTime() - t0) / 1e9
        val after = SnapshotLake.manifest(spark, root)
        val carried = before.files.map(_.rel).toSet
          .intersect(after.files.map(_.rel).toSet).size
        val rewritten = before.files.size - carried
        println(f"[scale] mergebench lake=$rows%-9d files=${before.files.size}%3d " +
          f"merge_keys=1000 rewritten=$rewritten%3d carried=$carried%3d " +
          f"${sec}%6.1f s")
        (rows, sec, rewritten)
      }
      val ratio = results(1)._2 / results(0)._2
      println(f"[scale] mergebench 10x-lake cost ratio: ${ratio}%.2f x " +
        f"(full-rewrite would be ~10x; rewritten files " +
        f"${results(0)._3} -> ${results(1)._3})")
    }
    // ---- morbench: scattered-key MERGE, copy-on-write vs merge-on-read --
    // The COW worst case: ~1000 matched keys SCATTERED uniformly across
    // the key range, so every range-clustered file holds matches and the
    // runtime group filter cannot save COW — it must rewrite the lake.
    // The same statement on a dmlMode=mor lake writes position-delete
    // sidecars + re-inserts and rewrites NOTHING: cost proportional to
    // matched ROWS, not files. A second mor lake at 10x rows shows the
    // statement cost is also size-invariant.
    if (on("morbench")) {
      import graft.sinks.SnapshotLake
      val results = Seq(("cow", 10L), ("mor", 10L), ("mor", 1L)).map {
        case (mode, frac) =>
          // a DETERMINISTIC slice per size (the seeded generator is
          // parallelism-invariant) — `bars.limit(k)` is NOT stable
          // across plan evaluations, so seed and source could disagree
          val nPer = math.max(n / frac, 1000L)
          val slice = Generator.ohlcv(spark, symbols, nPer, intervalSec = 60)
          val rows = nPer * symbols.size
          // catalog plugins cache their FIRST conf per session: one
          // warehouse for the whole block, one table per (mode, size)
          spark.conf.set("spark.sql.catalog.morbench",
            "graft.sinks.GraftCatalog")
          if (spark.conf
              .getOption("spark.sql.catalog.morbench.warehouse").isEmpty)
            spark.conf.set("spark.sql.catalog.morbench.warehouse",
              graft.TempDirs.create("smoke-mor-wh"))
          val wh = spark.conf.get("spark.sql.catalog.morbench.warehouse")
          val tbl = s"morbench.b.t_${mode}_$frac"
          spark.sql("CREATE NAMESPACE IF NOT EXISTS morbench.b")
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          spark.sql(s"CREATE TABLE $tbl (event_id BIGINT, " +
            "symbol STRING, ts TIMESTAMP_NTZ, close DOUBLE) " +
            "USING `graft-snapshot` TBLPROPERTIES " +
            s"('dmlMode' '$mode', 'statsCols' 'event_id')")
          val keyed = slice
            .withColumn("event_id",
              unix_timestamp(col("ts")) * 8 +
                array_position(array(symbols.map(lit): _*), col("symbol")))
            .select("event_id", "symbol", "ts", "close")
          keyed.repartitionByRange(32, col("event_id"))
            .sortWithinPartitions("event_id")
            .createOrReplaceTempView("morbench_seed")
          spark.sql(s"INSERT INTO $tbl SELECT * FROM morbench_seed")
          val root = s"$wh/b/t_${mode}_$frac"
          val before = SnapshotLake.manifest(spark, root)
          // one key per stride-th BAR (ts steps by intervalSec) =
          // uniform scatter across every range-clustered file
          val stride = math.max(1L, rows / symbols.size / 1000L)
          keyed.filter((unix_timestamp(col("ts")) / 60) % stride === 0 &&
              col("symbol") === symbols.head)
            .createOrReplaceTempView("morbench_src")
          val nKeys = spark.table("morbench_src").count()
          // expected BEFORE the merge (exact under any generator shape)
          val expected = spark.sql(s"SELECT count(*) FROM $tbl t JOIN " +
            "morbench_src s ON t.event_id = s.event_id").head.getLong(0)
          val sentinel = -1234567890.5 // impossible for the random walk
          val t0 = System.nanoTime()
          spark.sql(s"""MERGE INTO $tbl t USING morbench_src s
                       ON t.event_id = s.event_id
                       WHEN MATCHED THEN UPDATE SET close = $sentinel""")
          val sec = (System.nanoTime() - t0) / 1e9
          val after = SnapshotLake.manifest(spark, root)
          val beforeRels = before.files.map(_.rel).toSet
          val carried = beforeRels.intersect(after.files.map(_.rel).toSet).size
          val rewritten = before.files.size - carried
          val sidecars = after.files.map(_.deletes.size).sum
          val hits = spark.sql(s"SELECT count(*) FROM $tbl " +
            s"WHERE close = $sentinel").head.getLong(0)
          require(hits == expected,
            s"$mode: $hits of $expected updates visible")
          require(spark.sql(s"SELECT count(*) FROM $tbl")
            .head.getLong(0) == rows, s"$mode: row count drifted")
          if (mode == "mor") require(rewritten == 0,
            s"mor must rewrite nothing, rewrote $rewritten")
          println(f"[scale] morbench $mode%-4s lake=$rows%-9d " +
            f"files=${before.files.size}%3d keys=$nKeys%5d " +
            f"rewritten=$rewritten%3d sidecars=$sidecars%3d ${sec}%6.1f s")
          (mode, rows, sec, rewritten)
      }
      val cowSec = results(0)._3
      val morSec = results(1)._3
      val morBig = results(2)._3
      println(f"[scale] morbench scattered-key verdict: cow=${cowSec}%.1f s " +
        f"(${results(0)._4} files rewritten) vs mor=${morSec}%.1f s " +
        f"(0 rewritten) = ${cowSec / morSec}%.2f x; mor at 10x rows " +
        f"${morBig / morSec}%.2f x (rows-proportional would be ~1x)")
      // ---- the read-side tax mor trades for its O(rows) writes: a full
      // scan while sidecars pend (row-based position filter) vs after a
      // compact absorbs them (vectorized fast path restored)
      val taxTbl = "morbench.b.t_mor_1"
      def scanSec(): Double = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(s"SELECT sum(close), count(*) FROM $taxTbl").collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      val taxed = scanSec()
      spark.sql(s"CALL morbench.system.optimize(`table` => 'b.t_mor_1')")
      val clean = scanSec()
      println(f"[scale] morbench read tax: full scan with pending " +
        f"sidecars ${taxed}%.2f s vs post-compact ${clean}%.2f s = " +
        f"${taxed / clean}%.2f x (the mor trade until compaction)")
    }
    // ---- morscale: pending-delete SCALING on the SQL read path. The
    // round-14 scan collected every pending position onto the driver
    // (broadcast, 20 M-position ceiling, loud refusal); round 15 loads
    // positions executor-side per data file (each task reads only its
    // own files' sidecars). Two claims to measure: (a) the read tax is
    // FLAT in pending-delete count (per-task work is proportional to the
    // task's own files' deletes, which partitioning spreads), and (b) a
    // pending set far past the retired ceiling reads fine — no refusal,
    // no driver materialization.
    if (on("morscale")) {
      import graft.sinks.SnapshotLake
      spark.conf.set("spark.sql.catalog.morscale", "graft.sinks.GraftCatalog")
      if (spark.conf.getOption("spark.sql.catalog.morscale.warehouse").isEmpty)
        spark.conf.set("spark.sql.catalog.morscale.warehouse",
          graft.TempDirs.create("smoke-morscale-wh"))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS morscale.b")
      def mkLake(tag: String, nPer: Long): (String, Long) = {
        val tbl = s"morscale.b.t_$tag"
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        spark.sql(s"CREATE TABLE $tbl (event_id BIGINT, symbol STRING, " +
          "ts TIMESTAMP_NTZ, close DOUBLE) USING `graft-snapshot` " +
          "TBLPROPERTIES ('dmlMode' 'mor', 'statsCols' 'event_id')")
        val slice = Generator.ohlcv(spark, symbols, nPer, intervalSec = 60)
          .withColumn("event_id",
            unix_timestamp(col("ts")) * 8 +
              array_position(array(symbols.map(lit): _*), col("symbol")))
          .select("event_id", "symbol", "ts", "close")
        slice.repartitionByRange(32, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView(s"morscale_seed_$tag")
        spark.sql(s"INSERT INTO $tbl SELECT * FROM morscale_seed_$tag")
        (tbl, nPer * symbols.size)
      }
      def scanSec(tbl: String): Double = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(s"SELECT sum(close), count(*) FROM $tbl").collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      // (a) same-size lakes, pending sets 50x apart: tax must stay flat
      val flat = Seq(("p1", "event_id % 97 = 3"), ("p50", "event_id % 2 = 0"))
        .map { case (tag, pred) =>
          val (tbl, rows) = mkLake(tag, math.max(n / 10, 100000L))
          val t0 = System.nanoTime()
          spark.sql(s"DELETE FROM $tbl WHERE $pred")
          val delSec = (System.nanoTime() - t0) / 1e9
          val pending = spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0)
          val deleted = rows - pending
          val sec = scanSec(tbl)
          println(f"[scale] morscale $tag%-4s lake=$rows%-9d pending_deletes=" +
            f"$deleted%-9d delete=${delSec}%5.1f s scan=${sec}%5.2f s")
          (deleted, sec)
        }
      println(f"[scale] morscale flat-tax verdict: ${flat(1)._1}%d vs " +
        f"${flat(0)._1}%d pending (${flat(1)._1.toDouble / flat(0)._1}%.0f x) " +
        f"-> scan ${flat(1)._2 / flat(0)._2}%.2f x (flat would be ~1x; " +
        "the r14 driver broadcast grew linearly)")
      // (b) far past the retired 20 M ceiling: must read, not refuse
      val bigPer = math.max(n * 5 / 2, 5200000L) // >= 26 M rows total
      val (bigTbl, bigRows) = mkLake("cap", bigPer)
      val t0 = System.nanoTime()
      spark.sql(s"DELETE FROM $bigTbl WHERE event_id % 26 != 0")
      val delSec = (System.nanoTime() - t0) / 1e9
      val surviving = spark.sql(s"SELECT count(*) FROM $bigTbl")
        .head.getLong(0)
      val pendingBig = bigRows - surviving
      require(pendingBig > 20L * 1000 * 1000,
        s"cap leg must pend >20M positions, got $pendingBig")
      val bigSec = scanSec(bigTbl)
      println(f"[scale] morscale cap  lake=$bigRows%-9d pending_deletes=" +
        f"$pendingBig%-9d delete=${delSec}%5.1f s scan=${bigSec}%5.2f s " +
        "(r14 REFUSED past 20M pending; now executor-side, no ceiling)")
    }
    // ---- mergeprune: bloom-refined merge candidates. Hash-scattered
    // layout (every file's key min/max spans the whole domain, envelope
    // pruning keeps everything — the sn3 regime) + a 20-key MERGE: with
    // bloom sidecars on the key the statement opens/rewrites ~the files
    // that actually hold those keys; without them it rewrites the lake.
    if (on("mergeprune")) {
      import graft.sinks.SnapshotLake
      val rows = math.max(n, 1000000L)
      val nKeys = 4 // sparse: most files hold NO update key
      val results = Seq(false, true).map { blooms =>
        val root = graft.TempDirs.create(
          s"smoke-mergeprune-$blooms") + "/lake"
        val seed = spark.range(rows).select(col("id").as("event_id"),
            (col("id") % 1000).cast("double").as("close"),
            lit(0L).as("ver"))
          .repartition(32, xxhash64(col("event_id")))
        SnapshotLake.append(spark, root, seed, statsCols = Seq("event_id"),
          bloomCols = if (blooms) Seq("event_id") else Nil)
        val before = SnapshotLake.manifest(spark, root)
        val stride = rows / nKeys
        // min-of-2 statements (successive versions) so JVM/page-cache
        // warmth cannot masquerade as the pruning effect
        var rewritten = 0; var untouched = 0
        val secs = (1 to 2).map { rep =>
          val updates = spark.range(nKeys).select(
            (col("id") * stride + 7).as("event_id"),
            lit(-1.0 - rep).as("close"), lit(rep.toLong).as("ver"))
          val t0 = System.nanoTime()
          val (_, r, u) = SnapshotLake.merge(spark, root,
            updates, keyCols = Seq("event_id"), versionCol = "ver",
            pruneKey = "event_id")
          rewritten = r; untouched = u
          (System.nanoTime() - t0) / 1e9
        }
        val sec = secs.min
        require(SnapshotLake.read(spark, root)
          .filter(col("close") === -3.0).count() == nKeys,
          s"blooms=$blooms: updates lost")
        println(f"[scale] mergeprune blooms=$blooms%-5s lake=$rows%-9d " +
          f"files=${before.files.size}%3d keys=$nKeys rewritten=$rewritten%3d " +
          f"untouched=$untouched%3d min=${sec}%5.1f s " +
          f"(runs ${secs.map(t => f"$t%.1f").mkString(",")})")
        (blooms, sec, rewritten)
      }
      println(f"[scale] mergeprune verdict: bloom-pruned " +
        f"${results(1)._3} files rewritten in ${results(1)._2}%.1f s vs " +
        f"envelope-only ${results(0)._3} in ${results(0)._2}%.1f s = " +
        f"${results(0)._2 / results(1)._2}%.2f x statement cost")
    }
    // ---- morstream: a streaming CDC consumer (mergeStream) against cow
    // vs mor targets. Every micro-batch carries ~200 keys scattered
    // across the whole key range — the cow handler must rewrite every
    // envelope-overlapping file PER TRIGGER, the mor handler stacks
    // position-delete sidecars and rewrites nothing. The per-batch cost
    // contrast is the round-15 claim: streaming MERGE now honors
    // dmlMode=mor end-to-end.
    if (on("morstream")) {
      import graft.sinks.SnapshotLake
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val rows = math.max(n, 1000000L)
      val schema = StructType(Seq(StructField("event_id", LongType),
        StructField("close", DoubleType), StructField("ver", LongType)))
      val seed = spark.range(rows).select(col("id").as("event_id"),
          (col("id") % 1000).cast("double").as("close"),
          lit(0L).as("ver"))
        .repartitionByRange(32, col("event_id"))
      val nBatches = 5
      val results = Seq("cow", "mor").map { mode =>
        val root = graft.TempDirs.create(s"smoke-morstream-$mode") + "/lake"
        if (mode == "mor")
          SnapshotLake.create(spark, root, schema,
            tableProps = Map("dmlMode" -> "mor", "statsCols" -> "event_id"))
        SnapshotLake.append(spark, root, seed, statsCols = Seq("event_id"))
        val baseRels = SnapshotLake.manifest(spark, root).files.map(_.rel).toSet
        val handler = SnapshotLake.mergeStream(root,
          keyCols = Seq("event_id"), versionCol = "ver",
          pruneKey = "event_id", streamId = "cdc")
        val stride = math.max(1L, rows / 200)
        val t0 = System.nanoTime()
        (0 until nBatches).foreach { b =>
          val batch = spark.range(rows).filter(col("id") % stride === b)
            .select(col("id").as("event_id"), lit(-1.0 - b).as("close"),
              lit(b + 1L).as("ver"))
          handler(batch, b.toLong)
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val after = SnapshotLake.manifest(spark, root)
        val rewritten = baseRels.diff(after.files.map(_.rel).toSet).size
        val updated = SnapshotLake.read(spark, root)
          .filter(col("ver") > 0).count()
        require(SnapshotLake.read(spark, root).count() == rows,
          s"$mode: row count drifted")
        println(f"[scale] morstream $mode%-4s lake=$rows%-9d batches=$nBatches " +
          f"keys/batch~200 rewritten_base_files=$rewritten%3d " +
          f"updated_rows=$updated%5d ${sec}%6.1f s (${sec / nBatches}%.2f s/batch)")
        (mode, sec, rewritten)
      }
      println(f"[scale] morstream verdict: cow=${results(0)._2}%.1f s " +
        f"(${results(0)._3} base files rewritten) vs mor=${results(1)._2}%.1f s " +
        f"(${results(1)._3} rewritten) = ${results(0)._2 / results(1)._2}%.2f x " +
        "per-stream cost")
    }
    spark.stop()
  }
}
