package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.Ledger
import graft.sinks.SnapshotLake

/** Bloom sidecars are built by the task that writes each data file
  * (`graft.sinks.BloomSidecars`). Every write path must leave the same
  * sidecar bytes the two-pass builder it replaced wrote
  * ([[Witness.bloomSidecars]], which reads the published files back),
  * and must not pay a Spark job for them.
  */
class BloomSidecarSpec extends SparkSpec {

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private val warehouse =
    spark.conf.getOption("spark.sql.catalog.graft.warehouse").getOrElse {
      val wh = TempDirs.create("graft-bloom-wh")
      spark.conf.set("spark.sql.catalog.graft", "graft.sinks.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      wh
    }

  /** ids in [lo, hi) over 2 tasks: a string, a long and an int bloom
    * column, a version and a 3-valued partition column.
    */
  private def rows(lo: Long, hi: Long, v: Long): DataFrame =
    spark.range(lo, hi, 1, 2).select(
      concat(lit("sym"), (col("id") % 7).cast("string")).as("symbol"),
      col("id"), (col("id") % 5).cast("int").as("k"), lit(v).as("v"),
      (col("id") % 3).cast("int").as("p"))

  /** The files `op` adds to the lake under `root`. */
  private def written(root: String)(op: => Any): Seq[SnapshotLake.FileEntry] = {
    val before = SnapshotLake.latestVersion(spark, root)
      .map(_ => SnapshotLake.manifest(spark, root).files.map(_.rel).toSet)
      .getOrElse(Set.empty)
    op
    SnapshotLake.manifest(spark, root).files.filterNot(f => before(f.rel))
  }

  private def readBytes(p: Path): Array[Byte] = {
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Every sidecar of `files` equals the witness's bytes; nothing staged
    * is left behind.
    */
  private def assertWitnessed(what: String, root: String,
      files: Seq[SnapshotLake.FileEntry], cols: Seq[String]): Unit = {
    assert(files.nonEmpty, s"$what wrote no file")
    assert(files.forall(_.bloomCols == cols.sorted),
      s"$what: ${files.map(_.bloomCols)}")
    val witness = Witness.bloomSidecars(spark, root, files, cols)
    for (f <- files; c <- cols) {
      val got = readBytes(SnapshotLake.bloomPath(root, f.rel, c))
      assert(got.sameElements(witness((f.rel, c))),
        s"$what: sidecar of ${f.rel}.$c differs from the two-pass witness")
    }
    val leftovers = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith(".stage-"))
    assert(leftovers.isEmpty, s"$what left stage dirs: ${leftovers.toSeq}")
    val dataFiles = fs.listFiles(new Path(root, "data"), true)
    while (dataFiles.hasNext) {
      val n = dataFiles.next().getPath.getName
      assert(!n.endsWith(".bloom"), s"$what left a sidecar under data/: $n")
    }
  }

  test("library writes: every in-task sidecar equals the two-pass " +
      "witness byte for byte") {
    val cols = Seq("symbol", "id", "k")
    val root = TempDirs.create("bloom-lib") + "/lake"
    val lake = (lo: Long, hi: Long, v: Long) => rows(lo, hi, v).drop("p")
    assertWitnessed("append", root, written(root)(
      SnapshotLake.append(spark, root, lake(0, 600, 1L), bloomCols = cols)), cols)
    // a file whose string bloom column is all NULL
    assertWitnessed("all-null append", root, written(root)(
      SnapshotLake.append(spark, root,
        lake(600, 700, 1L).withColumn("symbol", lit(null).cast("string"))
          .coalesce(1), bloomCols = cols)), cols)
    assertWitnessed("mergeComposite", root, written(root)(
      SnapshotLake.mergeComposite(spark, root, lake(590, 620, 2L),
        keyCols = Seq("id", "k"), versionCol = "v",
        pruneKeys = Seq("id", "k"))), cols)
    assertWitnessed("delete", root, written(root)(
      SnapshotLake.delete(spark, root, col("id") < 20)), cols)
    assertWitnessed("compact", root, written(root)(
      SnapshotLake.compact(spark, root)), cols)
    assert(SnapshotLake.readPoint(spark, root, Map("id" -> 600L))
      .collect().map(_.getLong(3)).toSeq == Seq(2L))
    // the merge re-wrote 600..619 with their symbols; 620..699 stay NULL
    assert(SnapshotLake.readPoint(spark, root, Map("symbol" -> "sym3"))
      .count() == (20 until 620).count(_ % 7 == 3))
  }

  test("partitioned and relative-root appends: several files per task, " +
      "each with its own witnessed sidecars") {
    val cols = Seq("id", "symbol")
    val root = TempDirs.create("bloom-part") + "/lake"
    val files = written(root)(SnapshotLake.append(spark, root, rows(0, 600, 1L),
      partitionCols = Seq("p"), bloomCols = cols))
    // 2 tasks x 3 partition values
    assert(files.size == 6, files.map(_.rel))
    assertWitnessed("partitioned append", root, files, cols)
    // every id is distinct, so each id filter holds as many keys as its
    // file has rows: the stated fpp holds on 20,000 absent probes
    files.foreach { f =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        readBytes(SnapshotLake.bloomPath(root, f.rel, "id")))
      val fp = (1000000L until 1020000L).count(bf.mightContainLong) / 20000.0
      assert(fp <= 1.5 * graft.sinks.BloomSidecars.Fpp, s"${f.rel}: fpp $fp")
    }
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(TempDirs.create("bloom-rel") + "/lake"))
      .toString
    assert(!new Path(rel).isAbsolute)
    assertWitnessed("relative-root append", rel, written(rel)(
      SnapshotLake.append(spark, rel, rows(0, 300, 1L), bloomCols = cols)), cols)
  }

  test("SQL writes: UPDATE (copy-on-write) and a merge-on-read MERGE " +
      "INTO insert file carry the witnessed sidecars") {
    val cols = Seq("event_id", "symbol")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bloomsc")
    rows(0, 200, 1L).select(col("symbol"), col("id").as("event_id"),
      col("v").cast("double").as("close")).createOrReplaceTempView("bloom_seed")
    Seq("cow" -> "", "mor" -> ", 'dmlMode' 'mor'").foreach { case (t, mode) =>
      spark.sql(s"DROP TABLE IF EXISTS graft.bloomsc.$t")
      spark.sql(s"CREATE TABLE graft.bloomsc.$t (symbol STRING, " +
        "event_id BIGINT, close DOUBLE) USING `graft-snapshot` " +
        s"TBLPROPERTIES ('bloomCols' 'symbol,event_id'$mode)")
      spark.sql(s"INSERT INTO graft.bloomsc.$t SELECT * FROM bloom_seed")
    }
    val cow = s"$warehouse/bloomsc/cow"
    val updated = written(cow)(spark.sql(
      "UPDATE graft.bloomsc.cow SET close = -1 WHERE event_id < 5"))
    assert(SnapshotLake.manifest(spark, cow).op.startsWith("update"))
    assertWitnessed("SQL UPDATE", cow, updated, cols)
    val mor = s"$warehouse/bloomsc/mor"
    val inserted = written(mor)(spark.sql(
      """MERGE INTO graft.bloomsc.mor t
         USING (SELECT 'symX' AS symbol, id + 1000 AS event_id,
                       2.0 AS close FROM range(3)) s
         ON t.event_id = s.event_id
         WHEN MATCHED THEN UPDATE SET close = s.close
         WHEN NOT MATCHED THEN INSERT *"""))
    assert(SnapshotLake.manifest(spark, mor).op == "merge:sql-mor")
    assertWitnessed("merge-on-read MERGE INTO", mor, inserted, cols)
    assert(spark.sql("SELECT count(*) FROM graft.bloomsc.mor " +
      "WHERE symbol = 'symX'").head().getLong(0) == 3)
  }

  test("an append with bloomCols runs as many Spark jobs as one without") {
    def jobs(bloomCols: Seq[String]): Long = {
      val root = TempDirs.create("bloom-jobs") + "/lake"
      SnapshotLake.append(spark, root, rows(0, 100, 1L), bloomCols = bloomCols)
      Ledger.scope(spark)(SnapshotLake.append(spark, root, rows(100, 400, 1L),
        bloomCols = bloomCols))._2.jobs
    }
    val plain = jobs(Nil)
    assert(plain >= 1)
    assert(jobs(Seq("symbol", "id")) == plain)
  }
}
