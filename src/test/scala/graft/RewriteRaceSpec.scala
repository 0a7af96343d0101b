package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.SnapshotLake

/** Lost races through the one rewrite-commit core: a rival `compact`
  * fired through `SnapshotLake.beforeRewriteCommit` lands between each
  * rewrite's staging and its lock commit. Library ops retry to the
  * answer they give without the race; SQL statements abort loudly. Either
  * way the lake reads correctly at its head and the lost attempt leaves
  * no data file, bloom sidecar, delete sidecar or stage dir behind.
  */
class RewriteRaceSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse =
    spark.conf.getOption("spark.sql.catalog.graft.warehouse").getOrElse {
      val wh = TempDirs.create("graft-race-wh")
      spark.conf.set("spark.sql.catalog.graft", "graft.sinks.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      wh
    }

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** (symbol, event_id, v, close) rows; `v` orders versions of a key. */
  private def rows(ids: Seq[Int], v: Long, tag: Double): DataFrame =
    ids.map(i => (s"sym${i % 3}", i.toLong, v, tag + i))
      .toDF("symbol", "event_id", "v", "close")

  private val seedIds = 0 until 12
  /** Updates ids 0 and 3, inserts id 12. */
  private def updates: DataFrame = rows(Seq(0, 3, 12), 2L, 500.0)

  private def sorted(df: DataFrame): Seq[String] =
    df.select("event_id", "v", "close").collect().map(_.toString).toSeq.sorted

  private def expect(ids: Seq[Int], upd: Boolean): Seq[String] = {
    val seed = rows(ids, 1L, 0.0)
    sorted(if (!upd) seed
      else seed.filter(!col("event_id").isin(0, 3, 12)).unionByName(updates))
  }

  /** Files under `dir` (recursive), root-relative to it. */
  private def walk(dir: Path, rel: String = ""): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath, s"$rel${st.getPath.getName}/")
      else Seq(s"$rel${st.getPath.getName}")
    }

  private case class Race(name: String, mode: String, sql: Boolean,
      expected: Seq[String], run: (String, String) => Unit)

  private val races = Seq(
    Race("library compact", "cow", sql = false,
      expect(seedIds, upd = false),
      (root, _) => SnapshotLake.compact(spark, root)),
    Race("library merge on a cow lake", "cow", sql = false,
      expect(seedIds, upd = true),
      (root, _) => SnapshotLake.merge(spark, root, updates,
        keyCols = Seq("event_id"), versionCol = "v", pruneKey = "event_id")),
    Race("library merge on a mor lake", "mor", sql = false,
      expect(seedIds, upd = true),
      (root, _) => SnapshotLake.merge(spark, root, updates,
        keyCols = Seq("event_id"), versionCol = "v", pruneKey = "event_id")),
    Race("library delete", "cow", sql = false,
      expect(seedIds.filter(_ % 4 != 1), upd = false),
      (root, _) => SnapshotLake.delete(spark, root, col("event_id") % 4 === 1)),
    Race("SQL MERGE on a cow lake", "cow", sql = true,
      expect(seedIds, upd = false),
      (_, tbl) => {
        updates.createOrReplaceTempView("race_src")
        spark.sql(s"""MERGE INTO $tbl t USING race_src s
                      ON t.event_id = s.event_id
                      WHEN MATCHED THEN UPDATE SET *
                      WHEN NOT MATCHED THEN INSERT *""")
      }),
    Race("SQL DELETE on a mor lake", "mor", sql = true,
      expect(seedIds, upd = false),
      (_, tbl) => spark.sql(s"DELETE FROM $tbl WHERE event_id % 4 = 1")))

  test("a rival compact landing just before each rewrite's lock commit: " +
      "library ops retry to the one-shot answer, SQL statements abort " +
      "loudly, and the lost attempt leaves no file behind") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.race")
    races.zipWithIndex.foreach { case (race, i) =>
      val tbl = s"graft.race.t$i"
      val root = s"$warehouse/race/t$i"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (symbol STRING, event_id BIGINT, " +
        "v BIGINT, close DOUBLE) USING `graft-snapshot` TBLPROPERTIES " +
        s"('dmlMode' '${race.mode}', 'statsCols' 'event_id', " +
        "'bloomCols' 'symbol')")
      rows(seedIds, 1L, 0.0).repartition(3).createOrReplaceTempView("race_seed")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM race_seed")
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      SnapshotLake.beforeRewriteCommit.set { () =>
        fired.set(true)
        SnapshotLake.compact(spark, root)
      }
      try {
        if (race.sql) {
          val e = intercept[Exception](race.run(root, tbl))
          def chain(t: Throwable): Seq[String] =
            Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
          assert(chain(e).exists(m => m != null && m.contains("concurrent")),
            s"${race.name}: expected the loud statement abort, got ${chain(e)}")
          assert(SnapshotLake.manifest(spark, root).op == "compact",
            s"${race.name}: the aborted statement must publish nothing")
        } else race.run(root, tbl)
      } finally SnapshotLake.beforeRewriteCommit.set(() => ())
      assert(fired.get, s"${race.name}: the rival never fired")
      assert(sorted(SnapshotLake.read(spark, root)) == race.expected,
        s"${race.name}: wrong rows at the head")
      assert(sorted(spark.table(tbl)) == race.expected, race.name)
      // every file is referenced by a retained manifest; nothing staged
      val ms = SnapshotLake.versions(spark, root)
        .map(v => SnapshotLake.manifest(spark, root, Some(v)))
      val files = ms.flatMap(_.files)
      val orphans =
        walk(new Path(root, "data")).filterNot(files.map(_.rel).toSet) ++
          walk(new Path(root, "_blooms")).filterNot(files.flatMap(f =>
            f.bloomCols.map(c => s"${f.rel}.$c.bloom")).toSet) ++
          walk(new Path(root, "_deletes")).filterNot(
            files.flatMap(_.deletes).toSet)
      assert(orphans.isEmpty, s"${race.name}: unreferenced files $orphans")
      assert(!fs.listStatus(new Path(root)).exists(
        _.getPath.getName.startsWith(".stage-")),
        s"${race.name}: a stage dir survived")
      spark.sql(s"DROP TABLE $tbl")
    }
  }
}
