package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Concurrent, SparkEntry, TempDirs}
import graft.obs.{Cost, Ledger}
import graft.sinks.{MaterializedRollup => MV, SnapshotLake}
import graft.sources.{Generator, Tables}

/** The engine's one profiler. Every measurement runs inside a
  * [[graft.obs.Ledger]] scope and prints its cost record as one JSON line
  * (jobs, stages, tasks, executor time, shuffle/spill/input bytes,
  * planning phases, per-operator rows and time).
  *
  * {{{
  *   runMain graft.tools.Prof query <name>[,<name>…] [runs] [explain mode]
  *   runMain graft.tools.Prof all [out.json]
  *   runMain graft.tools.Prof canary [runs]
  *   runMain graft.tools.Prof phase <phase>[,<phase>…|all] [rows]
  * }}}
  *
  *  - `query` runs declared queries through [[SparkEntry.run]] into a noop
  *    sink, `runs` times each (default 3). An explain mode (`formatted`,
  *    `codegen`, `extended`, `cost`, `simple`) prints the plan first.
  *  - `all` runs every declared query once and writes one record per query
  *    to `out.json` (default `PROFILE.json`); it fails when a query fails
  *    or leaves a cache entry behind.
  *  - `canary` times [[Bench]]'s CPU, memory and disk canaries.
  *  - `phase` runs named multi-step measurements (see [[phases]]) over the
  *    fixture dir or a generator row count `rows` (default 1,000,000).
  *
  * The session runs on `SPARK_GRAFT_CPUS` cores (default: all of the
  * host's), with as many shuffle partitions, over the fixture dir in
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) — the `Bench` session shape.
  */
object Prof {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warmup
    val ok = try args.toList match {
      case "query" :: names :: rest =>
        query(spark, sfDir, names.split(',').toSeq,
          rest.headOption.fold(3)(_.toInt), rest.lift(1)); true
      case "all" :: rest =>
        all(spark, sfDir, rest.headOption.getOrElse("PROFILE.json"))
      case "canary" :: rest =>
        canary(spark, rest.headOption.fold(3)(_.toInt)); true
      case "phase" :: names :: rest =>
        val picked = if (names == "all") phases.keys.toSeq else names.split(',').toSeq
        val ctx = Ctx(spark, sfDir, rest.headOption.fold(1000000L)(_.toLong))
        picked.foreach(p => phases.getOrElse(p, throw new IllegalArgumentException(
          s"unknown phase $p — available: ${phases.keys.mkString(", ")}"))(ctx))
        true
      case _ =>
        System.err.println("usage: Prof query <names> [runs] [explain mode] | " +
          "all [out.json] | canary [runs] | phase <names|all> [rows]")
        false
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def query(spark: SparkSession, sfDir: String, names: Seq[String],
      runs: Int, explain: Option[String]): Unit = names.foreach { name =>
    explain.foreach(mode => SparkEntry.run(spark, name, sfDir)(_.explain(mode)))
    for (i <- 1 to runs) {
      val (_, c) = Ledger.scope(spark)(SparkEntry.run(spark, name, sfDir)(noop))
      println(c.json("query" -> name, "run" -> i))
    }
  }

  /** One record per declared query; false when any query failed or left
    * a cache entry.
    */
  private def all(spark: SparkSession, sfDir: String, out: String): Boolean = {
    val cache = spark.sharedState.cacheManager
    val records = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val rec = try {
        val (_, c) = Ledger.scope(spark)(SparkEntry.run(spark, name, sfDir)(noop))
        Right(c)
      } catch { case e: Throwable =>
        System.err.println(s"[prof] $name FAILED: $e"); Left(e.toString)
      }
      val left = !cache.isEmpty
      if (left) spark.catalog.clearCache()
      (name, rec, left)
    }
    val failed = records.collect { case (n, Left(_), _) => n }
    val cached = records.collect { case (n, _, true) => n }
    val body = records.map {
      case (n, Right(c), left) => c.json("query" -> n, "cache_left" -> left)
      case (n, Left(e), left) => Cost.json(Seq("query" -> n, "error" -> e,
        "cache_left" -> left))
    }
    val head = Cost.json(Seq("sf" -> sfDir,
      "cpus" -> spark.sparkContext.defaultParallelism, "queries" -> records.size,
      "failed" -> failed, "cache_left" -> cached))
    // one record per line, so a diff of two profiles reads per query
    Files.writeString(Paths.get(out), head.dropRight(1) +
      ",\"records\":[\n" + body.mkString(",\n") + "\n]}\n")
    println(s"[prof] ${records.size} queries -> $out; failed: ${failed.size}, " +
      s"left cached: ${cached.size}")
    failed.isEmpty && cached.isEmpty
  }

  private def canary(spark: SparkSession, runs: Int): Unit = {
    val probe = Bench.ioProbe()
    for (i <- 1 to runs)
      println(f"[canary] run$i cpu=${Bench.canary(spark)}%.3f s " +
        f"mem=${Bench.canaryMem(spark)}%.3f s io=${Bench.canaryIo(probe)}%.3f s")
  }

  // ------------------------------------------------------------- phases

  private final case class Ctx(spark: SparkSession, sfDir: String, rows: Long)

  /** One measured step of a phase: prints its ledger record. */
  private def step[A](ctx: Ctx, phase: String, name: String)(body: => A): A = {
    val (a, c) = Ledger.scope(ctx.spark)(body)
    println(c.json("phase" -> phase, "step" -> name))
    a
  }

  /** A phase's measured fact that is not a cost. */
  private def fact(phase: String, facts: (String, Any)*): Unit =
    println(Cost.json(("phase" -> phase) +: facts))

  /** The named phases, in `all` order. Each backs a claim in BASELINE.md
    * or COVERAGE.md; `rows` sizes the generator-fed ones.
    */
  private val phases: scala.collection.immutable.ListMap[String, Ctx => Unit] =
    scala.collection.immutable.ListMap(
      "mv1" -> (mvLoop(_, "mv1")), "mv2" -> (mvLoop(_, "mv2")),
      "cdc4" -> (cdc4(_)), "zorder" -> (zorder(_)),
      "pointbloom" -> (pointbloom(_)), "lockbench" -> (lockbench(_)),
      "morbench" -> (morbench(_)), "annrecall" -> (annrecall(_)),
      "pipeline" -> (pipeline(_)))

  /** The mv1 / mv2 continuous aggregates over three appends: init after
    * the first, one refresh after each later one, a fullRefresh (the path
    * a rewrite of base rows forces), then the final read — so the commit
    * constant separates from the data-proportional work. Two rounds; the
    * second runs warm.
    */
  private def mvLoop(ctx: Ctx, which: String): Unit = {
    val spark = ctx.spark
    import graft.functions.epochUs
    for (round <- 1 to 2) {
      val d0 =
        if (which == "mv1") graft.operators.QueryFixtures.dbars(spark, ctx.sfDir)
        else Tables.bars(spark, ctx.sfDir).withColumn("uid", col("volume").cast("long"))
      val d = d0.withColumn("bucket_ts",
        date_trunc("hour", col("ts")).cast("timestamp_ntz"))
      val work = TempDirs.create(s"graft-prof-$which")
      val (base, mv) = (work + "/base", work + "/mv")
      val spec =
        if (which == "mv1") MV.Spec(keyCols = Seq("symbol", "bucket_ts"),
          pruneKey = "bucket_ts", sumCols = Seq("volume"), minCols = Seq("low"),
          maxCols = Seq("high"), orderCol = Some("ts"), firstCols = Seq("open"),
          lastCols = Seq("close"))
        else MV.Spec(keyCols = Seq("symbol", "bucket_ts"), pruneKey = "bucket_ts",
          sumCols = Seq("volume"), distinctCols = Seq("uid"))
      val r = d.agg(min(epochUs(col("ts"))), max(epochUs(col("ts")))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val us = epochUs(col("ts"))
      def append(n: Int, slice: org.apache.spark.sql.Column) =
        step(ctx, which, s"r$round/append$n")(SnapshotLake.append(spark, base,
          d.filter(slice).repartition(2), statsCols = Seq("bucket_ts")))
      append(1, us <= t1)
      step(ctx, which, s"r$round/init")(MV.init(spark, base, mv, spec))
      append(2, us > t1 && us <= t2)
      step(ctx, which, s"r$round/refresh1")(MV.refresh(spark, base, mv, spec))
      append(3, us > t2)
      step(ctx, which, s"r$round/refresh2")(MV.refresh(spark, base, mv, spec))
      step(ctx, which, s"r$round/fullRefresh")(MV.fullRefresh(spark, base, mv, spec))
      step(ctx, which, s"r$round/readFinal")(noop(MV.readFinal(spark, mv, spec)))
    }
  }

  /** The cdc4 change feed split at its triggers: two appends, the
    * snapshot trigger, a merge and its trigger, a delete and its trigger.
    * Each trigger is one `AvailableNow` run of the same checkpointed
    * stream, started inside its step so the stream thread carries the
    * step's job tag; each therefore includes the stream's restart.
    */
  private def cdc4(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val b = Tables.bars(spark, ctx.sfDir)
      .select(col("event_id"), col("symbol"), col("ts"), col("close"))
      .withColumn("ver", lit(1L))
    val work = TempDirs.create("graft-prof-cdc4")
    val root = s"$work/lake"
    val r = b.agg(min("event_id"), max("event_id")).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    step(ctx, "cdc4", "append1")(SnapshotLake.append(spark, root,
      b.filter(col("event_id") < mid).repartition(2), statsCols = Seq("event_id")))
    step(ctx, "cdc4", "append2")(SnapshotLake.append(spark, root,
      b.filter(col("event_id") >= mid).repartition(2), statsCols = Seq("event_id")))
    def trigger(name: String) = step(ctx, "cdc4", name)(
      spark.readStream.format("graft-snapshot")
        .option("readChangeFeed", "true").option("keyCols", "event_id").load(root)
        .writeStream.format("noop").option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination())
    trigger("trigger1-snap")
    val updates = b.filter(col("event_id") % 10 === 0)
      .withColumn("close", col("close") + lit(1.0)).withColumn("ver", lit(2L))
      .unionByName(b.filter(col("event_id") % 1000 === 7)
        .withColumn("event_id", col("event_id") + lit(1000000000000L))
        .withColumn("ver", lit(2L)))
    step(ctx, "cdc4", "merge")(SnapshotLake.merge(spark, root, updates,
      keyCols = Seq("event_id"), versionCol = "ver", pruneKey = "event_id"))
    trigger("trigger2-merge")
    step(ctx, "cdc4", "delete")(
      SnapshotLake.delete(spark, root, col("event_id") % 97 === 3))
    trigger("trigger3-delete")
  }

  /** Z-order vs time-ordered layout: the candidate-file count for a 10% x
    * 10% box bounds what any pruning reader opens; the box reads show it
    * reaching wall time through the manifest's per-file envelopes.
    */
  private def zorder(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = TempDirs.create("graft-prof-zorder") + "/lake"
    val rows = spark.range(ctx.rows).select(col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * lit(60000000L)).as("ts"),
      pmod(xxhash64(col("id")), lit(100000L)).as("user_id"),
      (pmod(xxhash64(col("id") + lit(7L)), lit(1000000L)).cast("double") /
        lit(1000.0)).as("value"))
    step(ctx, "zorder", "linear-append")(SnapshotLake.append(spark, root,
      rows.repartitionByRange(128, col("ts")).sortWithinPartitions("ts"),
      statsCols = Seq("user_id", "value")))
    val box = Map("user_id" -> (45000.0, 55000.0), "value" -> (450.0, 550.0))
    def candidates(layout: String): Unit = fact("zorder", "layout" -> layout,
      "box_candidates" -> SnapshotLake.candidateEntries(spark, root, box).size,
      "files" -> SnapshotLake.manifest(spark, root).files.size)
    candidates("linear")
    step(ctx, "zorder", "box-read-linear")(
      SnapshotLake.readBox(spark, root, box).count())
    step(ctx, "zorder", "optimize-zorder")(SnapshotLake.optimizeZOrder(spark,
      root, Seq("user_id", "value"),
      targetBytes = math.max(1L, SnapshotLake.manifest(spark, root).bytes / 128)))
    candidates("zorder")
    step(ctx, "zorder", "box-read-zorder")(
      SnapshotLake.readBox(spark, root, box).count())
  }

  /** Bloom-sidecar point lookups: eight ingest-ordered appends whose id
    * domain is hash-scattered over every file, so min/max envelopes keep
    * all files and the bloom is the only index that can skip. Build cost
    * (append with vs without sidecars), pruning, and serve cost vs the
    * full-scan filter.
    */
  private def pointbloom(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rows = spark.range(ctx.rows).select(col("id"),
      concat(lit("u-"), conv(pmod(xxhash64(col("id")), lit(100000000L))
        .cast("string"), 10, 16)).as("who"),
      (col("id") % 1000).cast("double").as("v"))
    val plain = TempDirs.create("graft-prof-pb-plain") + "/lake"
    val bloomed = TempDirs.create("graft-prof-pb-bloom") + "/lake"
    def ingest(root: String, blooms: Seq[String]): Unit =
      (0 until 8).foreach(k => SnapshotLake.append(spark, root,
        rows.filter(pmod(col("id"), lit(8)) === k).repartition(4),
        statsCols = Seq("id"), bloomCols = blooms))
    // untimed: JIT and Spark warm-up would land in the first timed step
    ingest(TempDirs.create("graft-prof-pb-warm") + "/lake", Seq("id", "who"))
    step(ctx, "pointbloom", "append-plain")(ingest(plain, Nil))
    step(ctx, "pointbloom", "append-bloomed")(ingest(bloomed, Seq("id", "who")))
    val nFiles = SnapshotLake.manifest(spark, bloomed).files.size
    val probe = ctx.rows / 3
    val who = rows.filter(col("id") === probe).select("who").head.getString(0)
    fact("pointbloom", "files" -> nFiles,
      "stats_keep_id" -> SnapshotLake.candidateEntries(spark, bloomed,
        Map("id" -> (probe.toDouble, probe.toDouble))).size,
      "bloom_keep_id" -> SnapshotLake.pointCandidates(spark, bloomed,
        Map("id" -> probe)).size,
      "bloom_keep_who" -> SnapshotLake.pointCandidates(spark, bloomed,
        Map("who" -> who)).size,
      "bloom_keep_absent" -> SnapshotLake.pointCandidates(spark, bloomed,
        Map("who" -> "u-definitely-not")).size)
    step(ctx, "pointbloom", "read-point-id")(
      SnapshotLake.readPoint(spark, bloomed, Map("id" -> probe)).count())
    step(ctx, "pointbloom", "full-filter-id")(
      SnapshotLake.read(spark, plain).filter(col("id") === probe).count())
    step(ctx, "pointbloom", "read-point-who")(
      SnapshotLake.readPoint(spark, bloomed, Map("who" -> who)).count())
  }

  /** Commit-lock throughput under 1, 2, 4 and 8 racing writers, eight
    * 100-row appends each: no commit may be lost, no row lost or doubled.
    */
  private def lockbench(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val perWriter = 8
    for (writers <- Seq(1, 2, 4, 8)) {
      val root = TempDirs.create(s"graft-prof-lock$writers") + "/lake"
      val waits0 = SnapshotLake.lockWaits.get()
      val lat = step(ctx, "lockbench", s"w$writers")(
        Concurrent.all(spark)((0 until writers).map { w => () =>
          (0 until perWriter).map { i =>
            val base = w * 1000000L + i * 1000L
            val t0 = System.nanoTime()
            SnapshotLake.append(spark, root,
              spark.range(base, base + 100L, 1, 1).toDF("id"), statsCols = Seq("id"))
            (System.nanoTime() - t0) / 1e6
          }
        }).flatten.sorted)
      val head = SnapshotLake.manifest(spark, root).version
      require(head == writers.toLong * perWriter,
        s"lost commit: head $head of ${writers * perWriter}")
      require(SnapshotLake.read(spark, root).count() ==
        writers.toLong * perWriter * 100L, "rows lost or duplicated")
      def q(p: Double) = lat(math.round(p * (lat.size - 1)).toInt)
      fact("lockbench", "writers" -> writers, "commits" -> lat.size,
        "p50_ms" -> q(0.5), "p95_ms" -> q(0.95), "max_ms" -> lat.last,
        "lock_waits" -> (SnapshotLake.lockWaits.get() - waits0))
    }
  }

  /** Scattered-key SQL MERGE on copy-on-write vs merge-on-read catalog
    * tables (and mor at a tenth of the rows): mor rewrites no file and
    * its cost follows matched rows, not lake size. Then the read tax of
    * pending delete sidecars, before and after one optimize.
    */
  private def morbench(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val symbols = Seq("btc", "eth", "sol", "ada", "dot")
    // catalog plugins cache their first conf per session: one warehouse
    spark.conf.set("spark.sql.catalog.profmor", "graft.sinks.GraftCatalog")
    if (spark.conf.getOption("spark.sql.catalog.profmor.warehouse").isEmpty)
      spark.conf.set("spark.sql.catalog.profmor.warehouse",
        TempDirs.create("graft-prof-mor-wh"))
    val wh = spark.conf.get("spark.sql.catalog.profmor.warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS profmor.b")
    for ((mode, frac) <- Seq(("cow", 10L), ("mor", 10L), ("mor", 1L))) {
      val nPer = math.max(ctx.rows / symbols.size / frac, 1000L)
      val rows = nPer * symbols.size
      val tbl = s"profmor.b.t_${mode}_$frac"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (event_id BIGINT, symbol STRING, " +
        "ts TIMESTAMP_NTZ, close DOUBLE) USING `graft-snapshot` " +
        s"TBLPROPERTIES ('dmlMode' '$mode', 'statsCols' 'event_id')")
      // a deterministic slice per size: the seeded generator is
      // parallelism-invariant, `limit` is not
      val keyed = Generator.ohlcv(spark, symbols, nPer, intervalSec = 60)
        .withColumn("event_id", unix_timestamp(col("ts")) * 8 +
          array_position(array(symbols.map(lit): _*), col("symbol")))
        .select("event_id", "symbol", "ts", "close")
      keyed.repartitionByRange(32, col("event_id")).sortWithinPartitions("event_id")
        .createOrReplaceTempView("profmor_seed")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM profmor_seed")
      val root = s"$wh/b/t_${mode}_$frac"
      val before = SnapshotLake.manifest(spark, root)
      // one key per stride-th bar: uniform scatter over every file
      val stride = math.max(1L, nPer / 1000L)
      keyed.filter((unix_timestamp(col("ts")) / 60) % stride === 0 &&
        col("symbol") === symbols.head).createOrReplaceTempView("profmor_src")
      val expected = spark.sql(s"SELECT count(*) FROM $tbl t JOIN profmor_src s " +
        "ON t.event_id = s.event_id").head.getLong(0)
      val sentinel = -1234567890.5 // impossible for the random walk
      step(ctx, "morbench", s"merge-$mode-$rows")(spark.sql(s"MERGE INTO $tbl t " +
        "USING profmor_src s ON t.event_id = s.event_id " +
        s"WHEN MATCHED THEN UPDATE SET close = $sentinel"))
      val after = SnapshotLake.manifest(spark, root)
      val rewritten = before.files.size -
        before.files.map(_.rel).toSet.intersect(after.files.map(_.rel).toSet).size
      val hits = spark.sql(s"SELECT count(*) FROM $tbl WHERE close = $sentinel")
        .head.getLong(0)
      require(hits == expected, s"$mode: $hits of $expected updates visible")
      require(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == rows,
        s"$mode: row count drifted")
      if (mode == "mor") require(rewritten == 0,
        s"mor must rewrite nothing, rewrote $rewritten")
      fact("morbench", "mode" -> mode, "rows" -> rows,
        "files" -> before.files.size, "keys" -> expected,
        "rewritten" -> rewritten, "sidecars" -> after.files.map(_.deletes.size).sum)
    }
    val scan = "SELECT sum(close), count(*) FROM profmor.b.t_mor_1"
    step(ctx, "morbench", "scan-pending-deletes")(spark.sql(scan).collect())
    spark.sql("CALL profmor.system.optimize(`table` => 'b.t_mor_1')")
    step(ctx, "morbench", "scan-after-optimize")(spark.sql(scan).collect())
  }

  /** One `Pipeline.run` in the repo benchmark's `etl_batch` shape — clean,
    * 5-minute resample, indicators, z-score, a 70/15/15 chronological
    * split and the partitioned archive write — over `rows` generator bars
    * of 32 symbols (with an `event_id`, as the benchmark's input has),
    * staged to parquet first so the generator's own windows are not
    * charged. Two rounds; the second runs warm.
    */
  private def pipeline(ctx: Ctx): Unit = {
    import graft.pipeline.Pipeline
    val spark = ctx.spark
    val symbols = (0 until 32).map(i => f"S$i%03d")
    val work = TempDirs.create("graft-prof-pipeline")
    Generator.ohlcv(spark, symbols, math.max(ctx.rows / symbols.size, 1L))
      .withColumn("event_id", unix_timestamp(col("ts")) * symbols.size +
        array_position(array(symbols.map(lit): _*), col("symbol")))
      .write.parquet(s"$work/bars")
    val cfg = Pipeline.Config(resampleTo = Some("5 minutes"),
      normalize = Some("zscore"), indicators = true,
      split = Pipeline.SplitConfig(Seq(0.7, 0.85), Seq("train", "val", "test")))
    for (round <- 1 to 2) {
      val res = step(ctx, "pipeline", s"r$round/run")(Pipeline.run(spark,
        spark.read.parquet(s"$work/bars"),
        cfg.copy(outputPath = Some(s"$work/out-$round"))))
      fact("pipeline", "round" -> round, "split_sizes" -> res.splitSizes,
        "rows_in" -> res.report("rows_in"))
    }
  }

  /** recall@10 of every approximate top-k path against exact brute top-10
    * on the fixture dir's embeddings (64 queries), with the dials the
    * declared v4–v8 queries pin; fails below each path's floor.
    */
  private def annrecall(ctx: Ctx): Unit = {
    import graft.operators.{VectorIndex, VectorOps}
    val spark = ctx.spark
    val emb = spark.read.parquet(s"${ctx.sfDir}/embeddings.parquet").cache()
    val qs = emb.filter(col("vec_id") < 64)
    val exact = VectorOps.bruteTopK(qs, emb, 10)
      .select(col("query_id"), col("neighbor_id")).cache()
    try {
      val nExact = step(ctx, "annrecall", "brute")(exact.count())
      fact("annrecall", "vectors" -> emb.count(), "exact_pairs" -> nExact)
      def recall(label: String, floor: Double)(approx: => DataFrame): Unit = {
        val hit = step(ctx, "annrecall", label)(approx
          .select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id")).count())
        val r = hit.toDouble / nExact
        fact("annrecall", "path" -> label, "recall_at_10" -> r, "floor" -> floor)
        require(r >= floor, f"$label recall@10 $r%.3f fell below the $floor%.2f floor")
      }
      // the declared queries' dials: 16 coarse lists / probe 4, PQ 16x32
      // subspaces (2 Lloyd iterations), refine shortlist 100
      val coarse = VectorOps.kmeansCodebook(emb, 16, 4, sampleMod = 3)
      val cbs = VectorOps.pqCodebooks(emb, 16, 32, 2, sampleMod = 3)
      recall("ivf-4/16", 0.55)(VectorOps.ivfTopK(qs, emb, 10, 16, 4, Some(coarse)))
      recall("pq-adc", 0.20)(VectorOps.pqTopK(qs, emb, 10, cbs))
      recall("pq-refine", 0.55)(VectorOps.pqRefineTopK(qs, emb, 10, 100, cbs))
      recall("ivfpq-refine", 0.45)(
        VectorOps.ivfPqTopK(qs, emb, 10, coarse, cbs, 4, 100))
      val idx = step(ctx, "annrecall", "index-build")(VectorIndex.build(emb,
        TempDirs.create("graft-prof-ann-idx"), 16, 16, 32,
        coarseIters = 4, pqIters = 2, sampleMod = 3))
      recall("index-serve", 0.45)(VectorIndex.topK(qs, emb, idx, 10, 4, 100))
    } finally { exact.unpersist(); emb.unpersist() }
  }
}
