package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.Ledger
import graft.sinks.{MaterializedRollup => MV, SnapshotLake}

/** Incrementally-maintained rollup over a snapshot lake: associative state,
  * manifest-provenance deltas, file-pruned combines, broken-chain fallback.
  */
class MaterializedRollupSpec extends SparkSpec {
  import spark.implicits._

  // (symbol, ts) unique by construction: one row per minute per symbol,
  // spread over `month`, so arg-extremes are deterministic.
  private def bars(month: Int, n: Int, tag: Double): DataFrame =
    (0 until n).map { i =>
      val t = Timestamp.valueOf(
        f"2024-$month%02d-10 ${(i / 60) % 24}%02d:${i % 60}%02d:00")
      (s"sym${i % 3}", t, tag + i, 1.0 + (i % 7))
    }.toDF("symbol", "ts", "close", "volume")
      // NTZ is the engine's canonical ts type (Tables canonicalizes all
      // sources to it) AND the prunable one: LTZ writes as INT96, which
      // parquet gives no footer min/max, so an LTZ pruneKey would make
      // every refresh conservatively rewrite the whole MV.
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      // date_trunc coerces NTZ -> LTZ; cast back (identity under the
      // pinned UTC session) so the prune key stays INT64-prunable
      .withColumn("bucket_ts",
        date_trunc("hour", col("ts")).cast("timestamp_ntz"))

  private val spec = MV.Spec(
    keyCols = Seq("symbol", "bucket_ts"), pruneKey = "bucket_ts",
    sumCols = Seq("volume"), minCols = Seq("close"), maxCols = Seq("close"),
    orderCol = Some("ts"), firstCols = Seq("close"), lastCols = Seq("close"),
    targetRowsPerFile = 4L) // tiny so the range clustering yields real files

  private def roots(): (String, String) = {
    val w = TempDirs.create("mvroll")
    (w + "/base", w + "/mv")
  }

  private def assertMatchesFull(base: String, mv: String): Unit = {
    val full = MV.finals(MV.lift(SnapshotLake.read(spark, base), spec), spec)
    val inc = MV.readFinal(spark, mv, spec)
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
      "incremental state diverged from the full recompute")
  }

  test("incremental refresh equals the full recompute exactly, " +
      "across three append slices") {
    val (base, mv) = roots()
    SnapshotLake.append(spark, base, bars(1, 200, 100.0),
      statsCols = Seq("bucket_ts"))
    val r0 = MV.init(spark, base, mv, spec)
    assert(r0.baseVersion == 1L)
    SnapshotLake.append(spark, base, bars(2, 150, 500.0),
      statsCols = Seq("bucket_ts"))
    val r1 = MV.refresh(spark, base, mv, spec)
    assert(r1.baseVersion == 2L && r1.deltaRows == 150L)
    SnapshotLake.append(spark, base, bars(3, 75, 900.0),
      statsCols = Seq("bucket_ts"))
    val r2 = MV.refresh(spark, base, mv, spec)
    assert(r2.baseVersion == 3L && r2.deltaRows == 75L)
    assertMatchesFull(base, mv)
    // overlapping-key correctness: re-append MORE rows into month 1's
    // buckets (distinct minutes via the tag offset only — same buckets,
    // same keys) and verify the combine folds them into existing state
    SnapshotLake.append(spark, base, bars(1, 200, 7777.0)
      .withColumn("ts", (col("ts") + expr("INTERVAL 30 SECOND"))
        .cast("timestamp_ntz"))
      .withColumn("bucket_ts",
        date_trunc("hour", col("ts")).cast("timestamp_ntz")),
      statsCols = Seq("bucket_ts"))
    MV.refresh(spark, base, mv, spec)
    assertMatchesFull(base, mv)
  }

  test("refresh prunes: a time-local delta leaves non-overlapping " +
      "aggregate files untouched, by identity") {
    val (base, mv) = roots()
    SnapshotLake.append(spark, base, bars(1, 300, 0.0),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, spec)
    val before = SnapshotLake.manifest(spark, mv, None)
    SnapshotLake.append(spark, base, bars(6, 60, 50.0),
      statsCols = Seq("bucket_ts"))
    val r = MV.refresh(spark, base, mv, spec)
    assert(r.filesUntouched > 0,
      s"expected pruning, got untouched=${r.filesUntouched} " +
        s"combined=${r.filesCombined}")
    val after = SnapshotLake.manifest(spark, mv, None)
    val kept = before.files.map(_.rel).toSet
      .intersect(after.files.map(_.rel).toSet)
    assert(kept.size == r.filesUntouched,
      "untouched files must survive by identity in the new manifest")
    assertMatchesFull(base, mv)
  }

  test("distinct (HLL) state: incremental register folds across slices == " +
      "one-shot approxDistinct bit-for-bit; replayed fold converges; " +
      "non-canonical distinct type refused") {
    val (base, mv) = roots()
    def withUid(df: DataFrame) =
      df.withColumn("uid", (col("close") % 13).cast("long"))
    val dspec = spec.copy(distinctCols = Seq("uid"), hllP = 8)
    SnapshotLake.append(spark, base, withUid(bars(1, 200, 100.0)),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, dspec)
    SnapshotLake.append(spark, base, withUid(bars(2, 150, 500.0)),
      statsCols = Seq("bucket_ts"))
    MV.refresh(spark, base, mv, dspec)
    SnapshotLake.append(spark, base, withUid(bars(1, 100, 250.0)),
      statsCols = Seq("bucket_ts")) // overlaps slice 1's buckets
    MV.refresh(spark, base, mv, dspec)
    MV.refresh(spark, base, mv, dspec) // no-op replay: must not change state
    val got = MV.readFinal(spark, mv, dspec)
      .select("symbol", "bucket_ts", "approx_distinct_uid")
    val oneShot = graft.operators.Hll.approxDistinct(
      withUid(SnapshotLake.read(spark, base)),
      Seq("symbol", "bucket_ts"), col("uid"), p = 8)
      .withColumnRenamed("approx_distinct", "approx_distinct_uid")
    assert(got.except(oneShot).isEmpty && oneShot.except(got).isEmpty,
      "incremental distinct state diverged from the one-shot sketch")
    // every group has a non-null estimate (uid never null here)
    assert(got.filter(col("approx_distinct_uid").isNull).count() == 0)
    // refusal: a double distinct column has no canonical string form
    val e = intercept[IllegalArgumentException] {
      MV.init(spark, base, TempDirs.create("mvbad") + "/mv",
        spec.copy(distinctCols = Seq("close")), replace = false)
    }
    assert(e.getMessage.contains("canonical"))
  }

  test("a failed multi-file refresh releases its persisted state") {
    val (base, mv) = roots()
    def withUid(df: DataFrame) =
      df.withColumn("uid", (col("close") % 13).cast("long"))
    // 4 rows per file: both the rollup and the register fold size to
    // several files, so each persists its state for the range split
    val dspec = spec.copy(distinctCols = Seq("uid"), hllP = 8,
      regRowsPerFile = 4L)
    SnapshotLake.append(spark, base, withUid(bars(1, 50, 100.0)),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, dspec)
    val head0 = SnapshotLake.manifest(spark, mv).version
    val old = SnapshotLake.manifest(spark, base).files.map(_.rel).toSet
    SnapshotLake.append(spark, base, withUid(bars(2, 50, 500.0)),
      statsCols = Seq("bucket_ts"))
    // corrupt the delta's data files in place: the file list still plans,
    // every job reading it fails — the range splits' samples included
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLake.manifest(spark, base).files.filterNot(f => old(f.rel))
      .foreach { f =>
        val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/data/${f.rel}"), true)
        try out.write("not parquet".getBytes) finally out.close()
      }
    spark.catalog.clearCache()
    intercept[Exception](MV.refresh(spark, base, mv, dspec))
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed refresh left frames cached")
    assert(SnapshotLake.manifest(spark, mv).version == head0)
  }

  test("a staging failure during the register fold rethrows the staging " +
      "error, leaves nothing running, cached or staged, and the MV where " +
      "it was; a rerun converges to the one-shot init") {
    val (base, mv) = roots()
    def withUid(df: DataFrame) =
      df.withColumn("uid", (col("close") % 13).cast("long"))
    val dspec = spec.copy(distinctCols = Seq("uid"), hllP = 8)
    SnapshotLake.append(spark, base, withUid(bars(1, 200, 100.0)),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, dspec)
    SnapshotLake.append(spark, base, withUid(bars(1, 100, 250.0)),
      statsCols = Seq("bucket_ts")) // overlaps the MV's files
    val head0 = SnapshotLake.manifest(spark, mv).version
    val anchor0 = MV.lastRefreshedBase(spark, mv)
    // corrupt the MV's rollup files in place (the corrupt-file technique
    // of the register-count case, aimed at the other side): the rollup
    // staging reads them and fails, while the register fold reads only
    // the delta and the register lake
    val files = SnapshotLake.manifest(spark, mv).files.map(f =>
      java.nio.file.Paths.get(s"$mv/data/${f.rel}"))
    val saved = files.map(p => p -> java.nio.file.Files.readAllBytes(p))
    files.foreach(p => java.nio.file.Files.write(p, "not parquet".getBytes))
    spark.catalog.clearCache()
    val e = intercept[Exception](MV.refresh(spark, base, mv, dspec))
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(chain.exists(m => files.exists(p =>
      m.contains(p.getFileName.toString))),
      s"not the staging error: ${chain.mkString(" <- ")}")
    // drain first: a job start still queued on the bus reads as inactive
    def idle = {
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark)
      spark.sparkContext.statusTracker.getActiveJobIds.isEmpty
    }
    val t0 = System.currentTimeMillis
    while (!idle && System.currentTimeMillis - t0 < 2000) Thread.sleep(20)
    assert(idle, "a refresh job kept running after refresh threw")
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed refresh left frames cached")
    assert(SnapshotLake.manifest(spark, mv).version == head0)
    assert(MV.lastRefreshedBase(spark, mv) == anchor0)
    val stages = java.nio.file.Files.walk(java.nio.file.Paths.get(mv))
    try assert(!stages.iterator.asScala.exists(
      _.getFileName.toString.startsWith(".stage-")), "a stage dir was left")
    finally stages.close()
    // repair the files: the rerun folds the same delta (registers may
    // already lead the anchor) and lands on the one-shot answer
    saved.foreach { case (p, b) => java.nio.file.Files.write(p, b) }
    MV.refresh(spark, base, mv, dspec)
    val oneShot = TempDirs.create("mvoneshot") + "/mv"
    MV.init(spark, base, oneShot, dspec)
    val got = MV.readFinal(spark, mv, dspec)
    val want = MV.readFinal(spark, oneShot, dspec)
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "the rerun diverged from the one-shot init")
  }

  test("no-op refresh publishes nothing; zero-row append bumps only the " +
      "anchor; init-over-existing refuses without replace") {
    val (base, mv) = roots()
    SnapshotLake.append(spark, base, bars(1, 50, 0.0),
      statsCols = Seq("bucket_ts"))
    val r0 = MV.init(spark, base, mv, spec)
    val noop = MV.refresh(spark, base, mv, spec)
    assert(noop.mvVersion == r0.mvVersion && noop.deltaRows == 0L)
    // zero-row append: the anchor must advance (else every refresh
    // re-walks the empty version) but the files must be untouched
    SnapshotLake.append(spark, base, bars(1, 50, 0.0).limit(0),
      statsCols = Seq("bucket_ts"))
    val z = MV.refresh(spark, base, mv, spec)
    assert(z.baseVersion == 2L && z.deltaRows == 0L)
    assert(MV.lastRefreshedBase(spark, mv).contains(2L))
    val m = SnapshotLake.manifest(spark, mv, None)
    assert(m.version > r0.mvVersion &&
      m.files.map(_.rel).toSet ==
        SnapshotLake.manifest(spark, mv, Some(r0.mvVersion)).files.map(_.rel).toSet)
    val e = intercept[IllegalArgumentException] {
      MV.init(spark, base, mv, spec)
    }
    assert(e.getMessage.contains("replace"))
    assertMatchesFull(base, mv)
  }

  test("base compaction breaks the incremental chain loudly; fullRefresh " +
      "re-anchors and incremental resumes") {
    val (base, mv) = roots()
    SnapshotLake.append(spark, base, bars(1, 100, 0.0),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, spec)
    SnapshotLake.append(spark, base, bars(2, 100, 10.0),
      statsCols = Seq("bucket_ts"))
    SnapshotLake.compact(spark, base)
    val e = intercept[IllegalStateException] {
      MV.refresh(spark, base, mv, spec)
    }
    assert(e.getMessage.contains("fullRefresh"))
    MV.fullRefresh(spark, base, mv, spec)
    assertMatchesFull(base, mv)
    // chain re-anchored at the compacted head: appends flow again
    SnapshotLake.append(spark, base, bars(3, 40, 20.0),
      statsCols = Seq("bucket_ts"))
    val r = MV.refresh(spark, base, mv, spec)
    assert(r.deltaRows == 40L)
    assertMatchesFull(base, mv)
  }

  test("racing refreshers never double-count: one wins, the loser no-ops " +
      "or aborts on the anchor guard, and the state stays exact") {
    val (base, mv) = roots()
    SnapshotLake.append(spark, base, bars(1, 80, 0.0),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, spec)
    SnapshotLake.append(spark, base, bars(2, 80, 10.0),
      statsCols = Seq("bucket_ts"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val outcomes = Await.result(Future.sequence((1 to 2).map(_ => Future {
      try { MV.refresh(spark, base, mv, spec); "ok" }
      catch {
        case e: Exception
            if e.getMessage != null && e.getMessage.contains("concurrent refresh") =>
          "aborted"
      }
    })), 120.seconds)
    assert(outcomes.contains("ok"))
    assert(MV.lastRefreshedBase(spark, mv).contains(2L))
    assertMatchesFull(base, mv)
  }

  /** readFinal against a plain GROUP BY over the base, written out here
    * rather than through [[MV.lift]]; also one row per group.
    */
  private def assertMatchesGroupBy(base: String, mv: String): Unit = {
    val keys = Seq("symbol", "bucket_ts")
    val got = MV.readFinal(spark, mv, spec).select((keys ++ Seq("n_rows",
      "sum_volume", "min_close", "max_close", "first_close", "last_close"))
      .map(col): _*)
    val want = SnapshotLake.read(spark, base).groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      sum(col("volume").cast("decimal(38,10)")).cast("double").as("sum_volume"),
      min("close").as("min_close"), max("close").as("max_close"),
      min_by(col("close"), col("ts")).as("first_close"),
      max_by(col("close"), col("ts")).as("last_close"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "the rollup diverged from a one-shot GROUP BY")
    assert(got.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      .isEmpty, "two rollup rows for one group")
  }

  test("refresh and fullRefresh are sized from the manifest: at most 3 and " +
      "2 Spark jobs; a multi-file refresh writes disjoint pruneKey envelopes") {
    val (base, mv) = roots()
    val oneFile = spec.copy(targetRowsPerFile = 4L * 1000 * 1000)
    SnapshotLake.append(spark, base, bars(1, 200, 100.0),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, oneFile)
    SnapshotLake.append(spark, base, bars(1, 150, 500.0)
      .withColumn("ts", (col("ts") + expr("INTERVAL 30 SECOND"))
        .cast("timestamp_ntz")), statsCols = Seq("bucket_ts"))
    val (_, inc) = Ledger.scope(spark)(MV.refresh(spark, base, mv, oneFile))
    assert(inc.jobs <= 3, s"an incremental refresh ran ${inc.jobs} jobs")
    val (_, full) = Ledger.scope(spark)(MV.fullRefresh(spark, base, mv, oneFile))
    assert(full.jobs <= 2, s"fullRefresh ran ${full.jobs} jobs")
    assertMatchesFull(base, mv)
    // targetRowsPerFile 4: the range split writes several files, whose
    // envelopes — rewritten and untouched alike — never overlap
    MV.fullRefresh(spark, base, mv, spec)
    SnapshotLake.append(spark, base, bars(2, 90, 900.0),
      statsCols = Seq("bucket_ts"))
    val r = MV.refresh(spark, base, mv, spec)
    val envs = SnapshotLake.manifest(spark, mv).files
      .map(_.stats("bucket_ts")).sortBy(_._1)
    assert(r.filesUntouched > 0 && envs.size > r.filesUntouched + 1)
    envs.zip(envs.tail).foreach { case (a, b) =>
      assert(a._2 < b._1, s"overlapping MV envelopes $a and $b")
    }
    assertMatchesFull(base, mv)
  }

  test("window files without an envelope overlap every MV file; several " +
      "files and appends fold as one window") {
    val (base, mv) = roots()
    SnapshotLake.append(spark, base, bars(1, 300, 0.0),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, spec)
    // no statsCols: the appended file records no bucket_ts envelope
    SnapshotLake.append(spark, base, bars(6, 60, 50.0))
    val wide = MV.refresh(spark, base, mv, spec)
    assert(wide.deltaRows == 60L && wide.filesUntouched == 0,
      s"an envelope-less delta must overlap every MV file: $wide")
    assertMatchesFull(base, mv)
    // two appends of several files each, then one refresh
    SnapshotLake.append(spark, base, bars(7, 120, 70.0).repartition(3),
      statsCols = Seq("bucket_ts"))
    SnapshotLake.append(spark, base, bars(8, 90, 90.0).repartition(2),
      statsCols = Seq("bucket_ts"))
    val w = SnapshotLake.appendWindow(spark, base, wide.baseVersion)
    assert(w.files.size > 2, s"expected a multi-file window, got ${w.files.size}")
    val r = MV.refresh(spark, base, mv, spec)
    assert(r.deltaRows == 210L && r.filesUntouched > 0, s"$r")
    assertMatchesFull(base, mv)
  }

  test("legacy entries without row counts or envelopes refresh and " +
      "fullRefresh exactly") {
    val (base, mv) = roots()
    SnapshotLake.append(spark, base, bars(1, 200, 0.0),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, spec)
    val v = SnapshotLake.append(spark, base, bars(2, 100, 10.0),
      statsCols = Seq("bucket_ts"))
    // rewrite the head manifest's entries into the pre-rows layout
    // (rel, bytes): no envelope, rows = -1
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(s"$base/_manifests",
      f"v$v%08d.manifest")
    val in = fs.open(mPath)
    val raw = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val out = fs.create(mPath, true)
    try out.write(raw.split("\n").map { l =>
      val c = l.split('\t'); if (c.length >= 3) s"${c(0)}\t${c(1)}" else l
    }.mkString("\n").getBytes) finally out.close()
    SnapshotLake.invalidateManifestCache(base)
    assert(SnapshotLake.manifest(spark, base).files.forall(_.rows == -1L))
    val r = MV.refresh(spark, base, mv, spec)
    assert(r.deltaRows == -1L && r.filesUntouched == 0, s"$r")
    assertMatchesFull(base, mv)
    MV.fullRefresh(spark, base, mv, spec)
    assertMatchesFull(base, mv)
  }

  test("a NULL pruneKey in the delta is refused, not folded or skipped; " +
      "fullRefresh folds it") {
    val (base, mv) = roots()
    SnapshotLake.append(spark, base, bars(1, 120, 0.0),
      statsCols = Seq("bucket_ts"))
    MV.init(spark, base, mv, spec)
    def refused(): Unit = {
      val head = SnapshotLake.manifest(spark, mv).version
      val anchor = MV.lastRefreshedBase(spark, mv)
      val e = intercept[Exception](MV.refresh(spark, base, mv, spec))
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(chain.exists(m => m.contains("NULL bucket_ts") &&
        m.contains("fullRefresh")), s"unclear refusal: ${chain.mkString(" <- ")}")
      assert(SnapshotLake.manifest(spark, mv).version == head &&
        MV.lastRefreshedBase(spark, mv) == anchor,
        "a refused refresh moved the MV")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
    // every key NULL: the file has rows but no envelope
    SnapshotLake.append(spark, base, bars(1, 60, 300.0)
      .withColumn("ts", (col("ts") + expr("INTERVAL 30 SECOND"))
        .cast("timestamp_ntz"))
      .withColumn("bucket_ts", lit(null).cast("timestamp_ntz")),
      statsCols = Seq("bucket_ts"))
    assert(SnapshotLake.manifest(spark, base).files.last.stats.isEmpty)
    refused()
    MV.fullRefresh(spark, base, mv, spec)
    assertMatchesGroupBy(base, mv)
    // mixed: some keys NULL — the NULL group already lives in the MV
    SnapshotLake.append(spark, base, bars(1, 60, 600.0)
      .withColumn("ts", (col("ts") + expr("INTERVAL 15 SECOND"))
        .cast("timestamp_ntz"))
      .withColumn("bucket_ts", when(col("close") % 2 === 0, lit(null))
        .otherwise(col("bucket_ts")).cast("timestamp_ntz")),
      statsCols = Seq("bucket_ts"))
    refused()
    MV.fullRefresh(spark, base, mv, spec)
    assertMatchesGroupBy(base, mv)
  }
}
