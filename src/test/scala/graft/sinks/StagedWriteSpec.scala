package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs, Witness}
import graft.obs.Ledger

/** Every lake file is staged by one writer, [[HiveRoutingWriter]], and the
  * task that writes a file reports its manifest entry. These specs pin
  * what that must keep: each published entry equals a driver-side footer
  * read of the published file ([[Witness.footerEntry]]) on every write
  * path; partitioned writes lay files out in V1's directories; one task
  * may route any number of partitions; and a constraint refusal leaves
  * nothing behind. (In package `graft.sinks`: the refusal fixture
  * declares a constraint on a lake that already holds violating rows,
  * through the lake's own commit.)
  */
class StagedWriteSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path("/").getFileSystem(conf)

  private val warehouse =
    spark.conf.getOption("spark.sql.catalog.graft.warehouse").getOrElse {
      val wh = TempDirs.create("graft-staged-wh")
      spark.conf.set("spark.sql.catalog.graft", "graft.sinks.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      wh
    }

  /** The statistics columns every lake here tracks: NaN and -0.0
    * doubles, an all-NULL column, int32 / int64 / float, an NTZ timestamp
    * (INT64) and an LTZ timestamp (INT96, which parquet gives no
    * envelope).
    */
  private val Stats = Seq("id", "i32", "f32", "d", "nul", "ntz", "ltz")
  private val Blooms = Seq("sym", "id")

  /** `n` rows from id `lo` over 2 tasks, one of each column case, a
    * version `v` and a 3-valued partition column `p`.
    */
  private def frame(lo: Long, n: Long, v: Long = 1L): DataFrame =
    spark.range(lo, lo + n, 1, 2).select(
      col("id"),
      (col("id") % 1000).cast("int").as("i32"),
      (col("id") / 4.0).cast("float").as("f32"),
      when(col("id") % 5 === 0, lit(Double.NaN))
        .when(col("id") % 5 === 1, lit(-0.0))
        .otherwise(col("id") * -0.5).as("d"),
      lit(null).cast("double").as("nul"),
      timestamp_seconds(col("id") * 60).cast("timestamp_ntz").as("ntz"),
      timestamp_seconds(col("id") * 60).as("ltz"),
      concat(lit("s"), (col("id") % 7).cast("string")).as("sym"),
      lit(v).as("v"),
      (col("id") % 3).cast("int").as("p"))

  private def headRels(root: String): Set[String] =
    SnapshotLake.latestVersion(spark, root)
      .map(_ => SnapshotLake.manifest(spark, root).files.map(_.rel).toSet)
      .getOrElse(Set.empty)

  /** The entries `op` adds to the lake under `root`. */
  private def published(root: String)(op: => Any): Seq[SnapshotLake.FileEntry] = {
    val before = headRels(root)
    op
    SnapshotLake.manifest(spark, root).files.filterNot(f => before(f.rel))
  }

  /** Doubles compared by their text, so NaN equals NaN and -0.0 differs
    * from 0.0.
    */
  private def exact(e: SnapshotLake.FileEntry) =
    e.copy(stats = Map.empty) -> e.stats.toSeq.sortBy(_._1).map {
      case (c, (lo, hi)) => (c, lo.toString, hi.toString)
    }

  /** Every entry equals the witness's footer read of its published file,
    * its sidecars exist, and no stage dir is left.
    */
  private def assertEntries(what: String, root: String,
      entries: Seq[SnapshotLake.FileEntry], statsCols: Seq[String] = Stats,
      bloomCols: Seq[String] = Blooms): Unit = {
    assert(entries.nonEmpty, s"$what published no file")
    entries.foreach { e =>
      val w = Witness.footerEntry(spark, root, e.rel, statsCols.toSet, bloomCols)
      assert(exact(e) == exact(w), s"$what: entry $e != footer read $w")
      e.bloomCols.foreach(c =>
        assert(fs.exists(SnapshotLake.bloomPath(root, e.rel, c)),
          s"$what: ${e.rel} has no $c sidecar"))
    }
    assert(!fs.listStatus(new Path(root)).exists(
      _.getPath.getName.startsWith(".stage-")), s"$what left a stage dir")
  }

  test("entry equality: every write path publishes the entry a footer " +
      "read of the file gives, for every column case") {
    val root = TempDirs.create("staged-cow") + "/lake"
    assertEntries("append", root, published(root)(SnapshotLake.append(spark,
      root, frame(0, 400), statsCols = Stats, bloomCols = Blooms)))
    val entries = SnapshotLake.manifest(spark, root).files
    assert(entries.forall(e => !e.stats.contains("nul") &&
      !e.stats.contains("ltz") && e.stats.contains("ntz")),
      s"all-NULL and INT96 columns get no envelope: ${entries.map(_.stats)}")
    assertEntries("mergeComposite (cow)", root, published(root)(
      SnapshotLake.mergeComposite(spark, root, frame(390, 20, 2L),
        keyCols = Seq("id", "p"), versionCol = "v", pruneKeys = Seq("id"))))
    assertEntries("delete", root, published(root)(
      SnapshotLake.delete(spark, root, col("id") < 10)))
    assertEntries("replaceWhere", root, published(root)(
      SnapshotLake.replaceWhere(spark, root, frame(100, 10, 3L),
        col("id").between(100, 109), pruneBox = Map("id" -> (100.0, 109.0)))))
    assertEntries("compact", root, published(root)(
      SnapshotLake.compact(spark, root)))
    assertEntries("zorder", root, published(root)(
      SnapshotLake.optimizeZOrder(spark, root, Seq("id", "i32"))))

    val part = TempDirs.create("staged-part") + "/lake"
    assertEntries("partitioned append", part, published(part)(
      SnapshotLake.append(spark, part, frame(0, 300), partitionCols = Seq("p"),
        statsCols = Stats, bloomCols = Blooms)))
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(TempDirs.create("staged-rel") + "/lake"))
      .toString
    assert(!new Path(rel).isAbsolute)
    assertEntries("relative-root append", rel, published(rel)(
      SnapshotLake.append(spark, rel, frame(0, 200), statsCols = Stats,
        bloomCols = Blooms)))

    val mor = TempDirs.create("staged-mor") + "/lake"
    SnapshotLake.create(spark, mor, frame(0, 1).schema,
      tableProps = Map("dmlMode" -> "mor"))
    SnapshotLake.append(spark, mor, frame(0, 300), statsCols = Stats,
      bloomCols = Blooms)
    assertEntries("mergeComposite (mor)", mor, published(mor)(
      SnapshotLake.mergeComposite(spark, mor, frame(290, 30, 2L),
        keyCols = Seq("id", "p"), versionCol = "v", pruneKeys = Seq("id"))))
    assert(SnapshotLake.manifest(spark, mor).files.exists(_.deletes.nonEmpty),
      "the mor merge must land position deletes")
    val morPart = TempDirs.create("staged-mor-part") + "/lake"
    SnapshotLake.create(spark, morPart, frame(0, 1).schema,
      partitionCols = Seq("p"), tableProps = Map("dmlMode" -> "mor"))
    SnapshotLake.append(spark, morPart, frame(0, 300), partitionCols = Seq("p"),
      statsCols = Stats, bloomCols = Blooms)
    assertEntries("partitioned mergeComposite (mor)", morPart,
      published(morPart)(SnapshotLake.mergeComposite(spark, morPart,
        frame(290, 30, 2L), keyCols = Seq("id", "p"), versionCol = "v",
        pruneKeys = Seq("id"), partitionCols = Seq("p"))))
    val merged = SnapshotLake.read(spark, morPart)
    assert(merged.count() == 320 && merged.filter(col("v") === 2L).count() == 30)
  }

  test("entry equality on the SQL writes and an MV refresh; an append is " +
      "still one Spark job") {
    val cow = TempDirs.create("staged-sql") + "/lake"
    SnapshotLake.append(spark, cow, frame(0, 200), statsCols = Stats,
      bloomCols = Blooms)
    spark.sql(s"CREATE TABLE staged_cow USING `graft-snapshot` OPTIONS (path '$cow')")
    assertEntries("SQL UPDATE", cow, published(cow)(
      spark.sql("UPDATE staged_cow SET f32 = -1.0 WHERE id < 50")))
    assert(SnapshotLake.manifest(spark, cow).op == "update:sql")

    val mor = TempDirs.create("staged-sqlmor") + "/lake"
    SnapshotLake.create(spark, mor, frame(0, 1).schema,
      tableProps = Map("dmlMode" -> "mor"))
    SnapshotLake.append(spark, mor, frame(0, 200), statsCols = Stats,
      bloomCols = Blooms)
    spark.sql(s"CREATE TABLE staged_mor USING `graft-snapshot` OPTIONS (path '$mor')")
    frame(190, 30, 2L).createOrReplaceTempView("staged_src")
    assertEntries("mor MERGE INTO", mor, published(mor)(spark.sql(
      """MERGE INTO staged_mor t USING staged_src s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")))
    assert(SnapshotLake.manifest(spark, mor).op == "merge:sql-mor")

    // dynamic partition overwrite runs on catalog tables
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.staged")
    spark.sql("DROP TABLE IF EXISTS graft.staged.dyn")
    frame(0, 300).createOrReplaceTempView("staged_dyn_seed")
    spark.sql("CREATE TABLE graft.staged.dyn USING `graft-snapshot` " +
      s"PARTITIONED BY (p) TBLPROPERTIES ('statsCols' '${Stats.mkString(",")}', " +
      s"'bloomCols' '${Blooms.mkString(",")}') AS SELECT * FROM staged_dyn_seed")
    val part = s"$warehouse/staged/dyn"
    frame(1000, 60, 2L).filter(col("p") === 1).createOrReplaceTempView("staged_dyn_src")
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try assertEntries("dynamic INSERT OVERWRITE", part, published(part)(
      spark.sql("INSERT OVERWRITE graft.staged.dyn SELECT * FROM staged_dyn_src")))
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert(SnapshotLake.manifest(spark, part).op == "overwrite-dynamic")
    spark.sql("DROP TABLE graft.staged.dyn")
    Seq("staged_cow", "staged_mor").foreach(t => spark.sql(s"DROP TABLE $t"))

    // an MV refresh with distinct state stages both the rollup and the
    // register lake
    val w = TempDirs.create("staged-mv")
    val (base, mv) = (s"$w/base", s"$w/mv")
    def bars(lo: Long, n: Long) = frame(lo, n)
      .select(col("sym").as("symbol"), col("ntz").as("ts"),
        col("f32").cast("double").as("close"), col("i32").as("volume"),
        col("id").as("uid"))
      .withColumn("bucket_ts", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
    val spec = MaterializedRollup.Spec(keyCols = Seq("symbol", "bucket_ts"),
      pruneKey = "bucket_ts", sumCols = Seq("volume"), maxCols = Seq("close"),
      distinctCols = Seq("uid"), hllP = 8, targetRowsPerFile = 16L,
      regRowsPerFile = 64L)
    SnapshotLake.append(spark, base, bars(0, 200), statsCols = Seq("bucket_ts"))
    MaterializedRollup.init(spark, base, mv, spec)
    SnapshotLake.append(spark, base, bars(150, 200), statsCols = Seq("bucket_ts"))
    val regs = s"$mv/_hll_regs"
    val regsBefore = headRels(regs)
    assertEntries("MV refresh", mv, published(mv)(
      MaterializedRollup.refresh(spark, base, mv, spec)),
      statsCols = Seq("bucket_ts"), bloomCols = Nil)
    assertEntries("MV register fold", regs, SnapshotLake.manifest(spark, regs)
      .files.filterNot(f => regsBefore(f.rel)),
      statsCols = Seq("bucket_ts"), bloomCols = Nil)

    val jobs = Seq(Nil, Seq("p")).map { parts =>
      val root = TempDirs.create("staged-jobs") + "/lake"
      SnapshotLake.append(spark, root, frame(0, 100), partitionCols = parts,
        statsCols = Stats, bloomCols = Blooms)
      Ledger.scope(spark)(SnapshotLake.append(spark, root, frame(100, 300),
        partitionCols = parts, statsCols = Stats, bloomCols = Blooms))._2.jobs
    }
    assert(jobs == Seq(1L, 1L), s"an append must run 1 Spark job, got $jobs")
  }

  test("partitioned appends keep V1's directory names: escaped '/' and " +
      "'=', NULL and empty values, dates and timestamps in the session " +
      "time zone") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      val df = spark.range(0, 24, 1, 3).select(col("id"),
        element_at(array(lit("a/b"), lit("c=d"), lit(null).cast("string"),
          lit(""), lit("plain %x")), (col("id") % 5 + 1).cast("int")).as("s"),
        date_add(lit(java.sql.Date.valueOf("2024-02-28")),
          (col("id") % 3).cast("int")).as("dt"),
        timestamp_seconds(lit(1709251200L) + col("id") % 2 * 5400).as("ts"))
      val parts = Seq("s", "dt", "ts")
      val root = TempDirs.create("staged-layout") + "/lake"
      val files = published(root)(SnapshotLake.append(spark, root, df,
        partitionCols = parts))
      val v1 = TempDirs.create("staged-layout-v1") + "/out"
      df.write.partitionBy(parts: _*).parquet(v1)
      val v1Dirs = scala.collection.mutable.Set.empty[String]
      val it = fs.listFiles(new Path(v1), true)
      val base = fs.makeQualified(new Path(v1)).toString
      while (it.hasNext) {
        val p = it.next().getPath
        if (!p.getName.startsWith("_") && !p.getName.startsWith("."))
          v1Dirs += p.getParent.toString.stripPrefix(base + "/")
      }
      val dirs = files.map(f => f.rel.take(f.rel.lastIndexOf('/'))).toSet
      assert(dirs == v1Dirs.toSet, s"lake dirs $dirs != V1 dirs $v1Dirs")
      assert(dirs.exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
      // an empty string reads back as NULL, as it does from V1's layout
      val expected = df.withColumn("s",
        when(col("s") =!= "", col("s")))
      assert(SnapshotLake.read(spark, root).select(df.columns.map(col): _*)
        .exceptAll(expected).isEmpty)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("one task routes 300 partitions: a library append and a SQL " +
      "UPDATE both succeed, one file per partition") {
    val root = TempDirs.create("staged-wide") + "/lake"
    val wide = spark.range(0, 600, 1, 1)
      .select(col("id"), (col("id") % 300).as("p"), lit(1.0).as("x"))
    SnapshotLake.append(spark, root, wide, partitionCols = Seq("p"),
      statsCols = Seq("id"))
    val files = SnapshotLake.manifest(spark, root).files
    assert(files.size == 300 && files.forall(_.rows == 2), files.map(_.rows))
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 30).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    spark.sql(s"CREATE TABLE staged_wide USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      val updated = published(root)(
        spark.sql("UPDATE staged_wide SET x = 2.0 WHERE id >= 0"))
      // every rewritten file came from the one task that read them all
      val tasks = updated.map(_.rel.split('/').last.split('-')(3)
        .takeWhile(_ != '.')).toSet
      assert(updated.size == 300 && tasks.size == 1,
        s"${updated.size} files from tasks $tasks")
      assert(spark.sql("SELECT sum(x) FROM staged_wide").head.getDouble(0) == 1200.0)
    } finally {
      spark.sql("DROP TABLE staged_wide")
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("a constraint-violating append, mergeComposite and compact each " +
      "refuse and leave no stage dir, no file and no version behind") {
    // mergeComposite runs on a copy-on-write and a dmlMode=mor lake, and
    // no refusal may leave a frame persisted
    def lake(props: Map[String, String]): String = {
      val root = TempDirs.create("staged-refuse") + "/lake"
      SnapshotLake.create(spark, root, frame(0, 1).schema,
        tableProps = props + ("constraint.small_id" -> "id < 1000"))
      SnapshotLake.append(spark, root, frame(0, 100), statsCols = Stats,
        bloomCols = Blooms)
      root
    }
    val root = lake(Map.empty)
    val mor = lake(Map("dmlMode" -> "mor"))
    def listed(root: String, dir: String): Set[String] = {
      val d = new Path(root, dir)
      val out = scala.collection.mutable.Set.empty[String]
      if (fs.exists(d)) {
        val it = fs.listFiles(d, true)
        while (it.hasNext) out += it.next().getPath.toString
      }
      out.toSet
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ chain(x.getCause))
    def refused(what: String, root: String = root)(op: => Any): Unit = {
      val (v, data, blooms) = (SnapshotLake.latestVersion(spark, root),
        listed(root, "data"), listed(root, "_blooms"))
      val cached = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[Exception](op)
      assert(chain(e).exists(_.contains("constraint violation `small_id`")),
        s"$what: ${chain(e).take(3)}")
      assert(SnapshotLake.latestVersion(spark, root) == v, s"$what committed")
      assert(listed(root, "data") == data && listed(root, "_blooms") == blooms,
        s"$what left files behind")
      assert(spark.sparkContext.getPersistentRDDs.keySet == cached,
        s"$what left a frame persisted")
      assert(!fs.listStatus(new Path(root)).exists(
        _.getPath.getName.startsWith(".stage-")), s"$what left a stage dir")
    }
    refused("append")(SnapshotLake.append(spark, root, frame(990, 20),
      statsCols = Stats, bloomCols = Blooms))
    refused("mergeComposite")(SnapshotLake.mergeComposite(spark, root,
      frame(95, 10, 2L).withColumn("id", col("id") + 1000),
      keyCols = Seq("id", "p"), versionCol = "v", pruneKeys = Seq("id")))
    refused("mergeComposite (mor)", mor)(SnapshotLake.mergeComposite(spark,
      mor, frame(95, 10, 2L).withColumn("id", col("id") + 1000),
      keyCols = Seq("id", "p"), versionCol = "v", pruneKeys = Seq("id")))
    // rows that predate a tighter constraint: the rewrite re-checks them
    val head = SnapshotLake.manifest(spark, root)
    SnapshotLake.commit(spark, root, "props", head.schema,
      build = h => h.get.files, SnapshotLake.DefaultLockExpiryMs,
      props = Some(head.props + ("constraint.small_id" -> "id < 50")))
    refused("compact")(SnapshotLake.compact(spark, root))
  }
}
