package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.Ledger
import graft.sinks.SnapshotLake

/** Merge-on-read row-level DML (round 14): `dmlMode = 'mor'` routes
  * MERGE/UPDATE/DELETE through Spark's SupportsDelta seam — matched rows
  * land as position-delete sidecars stacked onto the manifest entries
  * they cover, new row versions as ordinary appends, and NO data file is
  * rewritten. Readers (SQL scan + every library path) apply the deletes;
  * compaction absorbs them; vacuum sweeps the sidecars.
  */
class SnapshotMorSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse =
    spark.conf.getOption("spark.sql.catalog.graft.warehouse").getOrElse {
      val wh = TempDirs.create("graft-mor-wh")
      spark.conf.set("spark.sql.catalog.graft", "graft.sinks.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      wh
    }

  private def bars(n: Int, tag: Double): DataFrame =
    (0 until n).map { i =>
      (s"sym${i % 3}",
        Timestamp.valueOf(f"2024-01-10 00:${i % 60}%02d:00"), tag + i,
        i.toLong)
    }.toDF("symbol", "ts", "close", "event_id")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))

  test("MERGE INTO a mor lake: matched rows become position-delete " +
      "sidecars + re-inserts, EVERY data file survives by identity, and " +
      "reads apply the deletes everywhere") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mor")
    spark.sql("DROP TABLE IF EXISTS graft.mor.t")
    spark.sql("CREATE TABLE graft.mor.t (symbol STRING, ts TIMESTAMP_NTZ, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot` " +
      "TBLPROPERTIES ('dmlMode' 'mor', 'statsCols' 'event_id')")
    val root = s"$warehouse/mor/t"
    bars(12, 0.0).repartition(4).createOrReplaceTempView("mor_seed")
    spark.sql("INSERT INTO graft.mor.t SELECT * FROM mor_seed")
    val before = SnapshotLake.manifest(spark, root)
    assert(before.props("dmlMode") == "mor")
    val dataRels = before.files.map(_.rel).toSet
    assert(dataRels.size >= 2, s"fixture wants several files: $dataRels")
    // every third key updates (spread across files), two new keys insert
    bars(12, 500.0).filter(col("event_id") % 3 === 0)
      .unionByName(bars(14, 500.0).filter(col("event_id") >= 12))
      .createOrReplaceTempView("mor_src")
    spark.sql("""MERGE INTO graft.mor.t t USING mor_src s
                 ON t.event_id = s.event_id
                 WHEN MATCHED THEN UPDATE SET close = s.close
                 WHEN NOT MATCHED THEN INSERT *""")
    val after = SnapshotLake.manifest(spark, root)
    assert(after.op == "merge:sql-mor", s"got ${after.op}")
    // the headline: every pre-merge data file is still in the manifest
    // BY IDENTITY — nothing was rewritten
    assert(dataRels.subsetOf(after.files.map(_.rel).toSet),
      "merge-on-read must not rewrite any data file")
    // matched rows are recorded as sidecars on the entries they cover
    val withDeletes = after.files.filter(_.deletes.nonEmpty)
    assert(withDeletes.nonEmpty, "matched files must carry delete sidecars")
    assert(withDeletes.forall(f => dataRels.contains(f.rel)))
    // SQL reads apply the deletes: updated values, inserted keys, no
    // resurrected pre-update rows
    assert(spark.sql("SELECT * FROM graft.mor.t").count() == 14)
    assert(spark.sql("SELECT * FROM graft.mor.t WHERE close >= 500")
      .count() == 4 + 2) // ids 0,3,6,9 updated + ids 12,13 inserted
    assert(spark.sql("SELECT * FROM graft.mor.t " +
      "WHERE event_id = 3 AND close < 500").count() == 0)
    assert(spark.sql(
      "SELECT count(DISTINCT event_id) AS n FROM graft.mor.t")
      .head().getLong(0) == 14)
    // time travel: the pre-merge version still reads the old rows
    assert(spark.sql(
      s"SELECT * FROM graft.mor.t VERSION AS OF ${before.version} " +
        "WHERE close >= 500").count() == 0)
    // the library read applies deletes identically
    assert(SnapshotLake.read(spark, root).filter(col("event_id") === 3)
      .head().getDouble(2) == 503.0)
    // metadata columns: _file and _pos are queryable on a mor lake
    val prov = spark.sql(
      "SELECT _file, _pos FROM graft.mor.t WHERE event_id <= 1").collect()
    assert(prov.forall(r => dataRels.contains(r.getString(0)) ||
      after.files.map(_.rel).contains(r.getString(0))))
    assert(prov.forall(_.getLong(1) >= 0))
    // metadata-only answers refuse while deletes are pending
    intercept[IllegalArgumentException] {
      SnapshotLake.summary(spark, root, Seq("event_id"))
    }
    intercept[IllegalArgumentException] {
      graft.sinks.ManifestFileIndex.readPruned(spark, root)
    }
    // compaction absorbs the sidecars: same rows, no deletes, summary back
    SnapshotLake.compact(spark, root)
    val compacted = SnapshotLake.manifest(spark, root)
    assert(compacted.files.forall(_.deletes.isEmpty))
    assert(spark.sql("SELECT * FROM graft.mor.t").count() == 14)
    assert(spark.sql("SELECT * FROM graft.mor.t WHERE close >= 500")
      .count() == 6)
    assert(SnapshotLake.summary(spark, root, Seq("event_id"))
      .head().getLong(0) == 14L)
    // vacuum sweeps the now-unreferenced sidecar files
    SnapshotLake.vacuum(spark, root, retainLast = 1)
    val delDir = new java.io.File(s"$root/_deletes")
    assert(!delDir.exists() || delDir.listFiles().isEmpty,
      "vacuum must sweep unreferenced delete sidecars")
    spark.sql("DROP TABLE graft.mor.t")
  }

  test("DELETE and UPDATE on a mor lake write positions, not files; " +
      "no-match statements publish nothing") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mor")
    spark.sql("DROP TABLE IF EXISTS graft.mor.d")
    spark.sql("CREATE TABLE graft.mor.d (symbol STRING, ts TIMESTAMP_NTZ, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot` " +
      "TBLPROPERTIES ('dmlMode' 'mor')")
    val root = s"$warehouse/mor/d"
    bars(12, 0.0).repartition(3).createOrReplaceTempView("mor_d_seed")
    spark.sql("INSERT INTO graft.mor.d SELECT * FROM mor_d_seed")
    val before = SnapshotLake.manifest(spark, root)
    // DELETE routes to the delta path on mor lakes (even translatable
    // predicates): positions recorded, no file rewritten
    spark.sql("DELETE FROM graft.mor.d WHERE event_id % 4 = 1")
    val afterDel = SnapshotLake.manifest(spark, root)
    assert(afterDel.op == "delete:sql-mor", s"got ${afterDel.op}")
    assert(before.files.map(_.rel).toSet ==
      afterDel.files.map(_.rel).toSet,
      "mor DELETE must not add or rewrite data files")
    assert(spark.sql("SELECT * FROM graft.mor.d").count() == 9)
    assert(spark.sql(
      "SELECT * FROM graft.mor.d WHERE event_id % 4 = 1").count() == 0)
    // UPDATE = delete + re-insert through the same seam
    spark.sql("UPDATE graft.mor.d SET close = close + 1000 " +
      "WHERE event_id = 2")
    val afterUpd = SnapshotLake.manifest(spark, root)
    assert(afterUpd.op == "update:sql-mor", s"got ${afterUpd.op}")
    assert(before.files.map(_.rel).toSet
      .subsetOf(afterUpd.files.map(_.rel).toSet))
    assert(spark.sql("SELECT close FROM graft.mor.d WHERE event_id = 2")
      .head().getDouble(0) == 1002.0)
    assert(spark.sql("SELECT * FROM graft.mor.d").count() == 9)
    // a no-match statement is a version no-op
    val v = SnapshotLake.latestVersion(spark, root).get
    spark.sql("UPDATE graft.mor.d SET close = 0 WHERE event_id = 999999")
    assert(SnapshotLake.latestVersion(spark, root).get == v,
      "no-match mor DML must publish no version")
    // CDC diff across the mor statements classifies from the delete sets
    val diff = SnapshotLake.diff(spark, root, before.version, v,
      keyCols = Seq("event_id"))
    val byChange = diff.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange.getOrElse("delete", 0L) == 3L, s"got $byChange")
    assert(byChange.getOrElse("update", 0L) == 1L, s"got $byChange")
    spark.sql("DROP TABLE graft.mor.d")
  }

  test("mor statements abort loudly when a rival rewrote (or stacked new " +
      "deletes onto) a candidate file between scan and commit — " +
      "deterministic race replay") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mor")
    spark.sql("DROP TABLE IF EXISTS graft.mor.race")
    spark.sql("CREATE TABLE graft.mor.race (symbol STRING, " +
      "ts TIMESTAMP_NTZ, close DOUBLE, event_id BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES ('dmlMode' 'mor')")
    val root = s"$warehouse/mor/race"
    bars(12, 0.0).repartition(3).createOrReplaceTempView("mor_race_seed")
    spark.sql("INSERT INTO graft.mor.race SELECT * FROM mor_race_seed")
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    // rival = a compact replacing every candidate between the statement's
    // staging and its commit: the recorded positions reference files that
    // no longer exist in the head — publishing would lose the deletes
    SnapshotLake.beforeRewriteCommit.set(() =>
      SnapshotLake.compact(spark, root))
    try {
      val before = SnapshotLake.manifest(spark, root).version
      val e = intercept[Exception] {
        spark.sql("DELETE FROM graft.mor.race WHERE event_id % 4 = 1")
      }
      assert(chain(e).exists(m => m != null && m.contains("concurrent")),
        s"expected the loud statement abort, got ${chain(e)}")
      SnapshotLake.beforeRewriteCommit.set(() => ())
      // the rival's compact won; the lake is consistent, nothing deleted,
      // no orphaned sidecars referenced
      val m = SnapshotLake.manifest(spark, root)
      assert(m.op == "compact" && m.version == before + 1)
      assert(m.files.forall(_.deletes.isEmpty))
      assert(spark.sql("SELECT * FROM graft.mor.race").count() == 12)
      // re-issued against the new head, the statement lands
      spark.sql("DELETE FROM graft.mor.race WHERE event_id % 4 = 1")
      assert(spark.sql("SELECT * FROM graft.mor.race").count() == 9)
      // history exposes the pending sidecars per version (and their
      // absorption by rewrites)
      val hist = spark.sql(
        "CALL graft.system.history(`table` => 'mor.race')").collect()
      val byOp = hist.map(r => r.getString(2) -> r.getLong(5)).toMap
      assert(byOp("delete:sql-mor") >= 1,
        s"history must count pending sidecars, got ${hist.mkString(",")}")
      assert(byOp("compact") == 0)
    } finally {
      SnapshotLake.beforeRewriteCommit.set(() => ())
      spark.sql("DROP TABLE graft.mor.race")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION: the source's new columns land as " +
      "ONE metadata-only evolve commit before the merge — widen-only, " +
      "on both copy-on-write and merge-on-read lakes") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.evo")
    Seq("cow", "mor").foreach { mode =>
      val tbl = s"graft.evo.t_$mode"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (event_id BIGINT, close DOUBLE) " +
        "USING `graft-snapshot` TBLPROPERTIES " +
        s"('dmlMode' '$mode', 'statsCols' 'event_id')")
      val root = s"$warehouse/evo/t_$mode"
      Seq((1L, 1.0), (2L, 2.0)).toDF("event_id", "close")
        .createOrReplaceTempView("evo_seed")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM evo_seed")
      Seq((2L, 20.0, "b"), (3L, 30.0, "c"))
        .toDF("event_id", "close", "venue")
        .createOrReplaceTempView("evo_src")
      // WITHOUT the clause, the extra source column is simply not
      // inserted (stock INSERT-* binding) and the schema stays put
      // (Spark plans an insert-only MERGE as an Append; with no
      // qualifying rows that is an empty append commit)
      spark.sql(s"""MERGE INTO $tbl t USING evo_src s
                    ON t.event_id = s.event_id AND t.event_id < 0
                    WHEN NOT MATCHED BY TARGET AND s.event_id < 0
                    THEN INSERT (event_id, close)
                    VALUES (s.event_id, s.close)""")
      assert(SnapshotLake.manifest(spark, root).schema.fieldNames.toSeq ==
        Seq("event_id", "close"))
      val before = SnapshotLake.manifest(spark, root)
      spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t
                    USING evo_src s ON t.event_id = s.event_id
                    WHEN MATCHED THEN UPDATE SET *
                    WHEN NOT MATCHED THEN INSERT *""")
      val after = SnapshotLake.manifest(spark, root)
      assert(after.schema.fieldNames.toSeq ==
        Seq("event_id", "close", "venue"), s"$mode: schema must widen")
      // the widen was ONE metadata-only evolve commit before the merge
      val evolve = SnapshotLake.versions(spark, root)
        .map(v => SnapshotLake.manifest(spark, root, Some(v)))
        .find(_.op == "evolve").get
      assert(evolve.files.map(_.rel) == before.files.map(_.rel),
        s"$mode: evolve must be metadata-only")
      val rows = spark.sql(
        s"SELECT event_id, close, venue FROM $tbl ORDER BY event_id")
        .collect()
      assert(rows.map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)).getOrElse("-"))).toSeq ==
        Seq((1L, 1.0, "-"), (2L, 20.0, "b"), (3L, 30.0, "c")),
        s"$mode: got ${rows.mkString(",")}")
      if (mode == "mor") {
        // the mor merge stacked sidecars instead of rewriting the seed
        assert(before.files.map(_.rel).toSet
          .subsetOf(after.files.map(_.rel).toSet))
        assert(after.op == "merge:sql-mor")
      }
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("partitioned mor lake: MERGE inserts route hive-partitioned; " +
      "partition-scoped statements prune candidates statically") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mor")
    spark.sql("DROP TABLE IF EXISTS graft.mor.p")
    spark.sql("CREATE TABLE graft.mor.p (symbol STRING, ts TIMESTAMP_NTZ, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot` " +
      "PARTITIONED BY (symbol) TBLPROPERTIES ('dmlMode' 'mor')")
    val root = s"$warehouse/mor/p"
    bars(12, 0.0).createOrReplaceTempView("mor_p_seed")
    spark.sql("INSERT INTO graft.mor.p SELECT symbol, ts, close, event_id " +
      "FROM mor_p_seed")
    val before = SnapshotLake.manifest(spark, root)
    bars(15, 700.0).filter(col("event_id") >= 12)
      .createOrReplaceTempView("mor_p_src")
    spark.sql("""MERGE INTO graft.mor.p t USING mor_p_src s
                 ON t.event_id = s.event_id
                 WHEN MATCHED THEN UPDATE SET close = s.close
                 WHEN NOT MATCHED THEN INSERT (symbol, ts, close, event_id)
                   VALUES (s.symbol, s.ts, s.close, s.event_id)""")
    val after = SnapshotLake.manifest(spark, root)
    assert(after.files.forall(_.rel.startsWith("symbol=")),
      s"mor inserts must land hive-routed: ${after.files.map(_.rel)}")
    assert(spark.sql("SELECT * FROM graft.mor.p").count() == 15)
    assert(spark.sql(
      "SELECT * FROM graft.mor.p WHERE symbol = 'sym0'").count() == 5)
    // partition-scoped UPDATE: only that partition's files can carry new
    // sidecars (static pruning through the hive partition values)
    spark.sql("UPDATE graft.mor.p SET close = close + 1000 " +
      "WHERE symbol = 'sym1' AND event_id < 12")
    val upd = SnapshotLake.manifest(spark, root)
    val sidecarred = upd.files.filter(f =>
      f.deletes.diff(after.files.find(_.rel == f.rel)
        .map(_.deletes).getOrElse(Nil)).nonEmpty)
    assert(sidecarred.nonEmpty &&
      sidecarred.forall(_.rel.startsWith("symbol=sym1/")),
      s"only sym1 files may gain sidecars, got ${sidecarred.map(_.rel)}")
    assert(spark.sql("SELECT * FROM graft.mor.p " +
      "WHERE symbol = 'sym1' AND close >= 1000 AND close < 1700")
      .count() == 4)
    spark.sql("DROP TABLE graft.mor.p")
  }

  test("pending deletes apply executor-side per data file: large " +
      "scattered sets across many files and stacked sidecars read " +
      "exactly, with no driver-side position materialization ceiling") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mor")
    spark.sql("DROP TABLE IF EXISTS graft.mor.big")
    spark.sql("CREATE TABLE graft.mor.big (event_id BIGINT, close DOUBLE) " +
      "USING `graft-snapshot` TBLPROPERTIES " +
      "('dmlMode' 'mor', 'statsCols' 'event_id')")
    val root = s"$warehouse/mor/big"
    val n = 120000L
    spark.range(n).select(col("id").as("event_id"),
        (col("id") % 1000).cast("double").as("close"))
      .repartitionByRange(8, col("event_id"))
      .createOrReplaceTempView("mor_big_seed")
    spark.sql("INSERT INTO graft.mor.big SELECT * FROM mor_big_seed")
    val before = SnapshotLake.manifest(spark, root)
    assert(before.files.size >= 8)
    // two scattered DELETEs -> every file gains sidecars, twice (stacked)
    spark.sql("DELETE FROM graft.mor.big WHERE event_id % 3 = 1")
    spark.sql("DELETE FROM graft.mor.big WHERE event_id % 5 = 2")
    val m = SnapshotLake.manifest(spark, root)
    assert(m.files.map(_.rel).toSet == before.files.map(_.rel).toSet,
      "mor DELETE must rewrite nothing")
    assert(m.files.forall(_.deletes.size >= 2),
      s"every file should carry stacked sidecars: " +
        m.files.map(_.deletes.size).mkString(","))
    // exact survivors: id % 3 != 1 and id % 5 != 2 over [0, n)
    val expected = (0L until n).count(i => i % 3 != 1 && i % 5 != 2)
    assert(spark.sql("SELECT count(*) FROM graft.mor.big")
      .head.getLong(0) == expected)
    // aggregate over the position-filtered scan is exact too
    val expSum = (0L until n).filter(i => i % 3 != 1 && i % 5 != 2)
      .map(_ % 1000).map(_.toDouble).sum
    assert(spark.sql("SELECT sum(close) FROM graft.mor.big")
      .head.getDouble(0) == expSum)
    // deleted rows are gone from point lookups and _pos still serves
    assert(spark.sql(
      "SELECT * FROM graft.mor.big WHERE event_id = 7").count() == 0)
    val posRows = spark.sql("SELECT _file, _pos FROM graft.mor.big " +
      "WHERE event_id < 10").collect()
    assert(posRows.nonEmpty && posRows.forall(_.getLong(1) >= 0))
    // a follow-up MERGE sees the delete-filtered row set as its target
    spark.range(5).select(col("id").as("event_id"),
        lit(-1.0).as("close"))
      .createOrReplaceTempView("mor_big_src")
    spark.sql("""MERGE INTO graft.mor.big t USING mor_big_src s
                 ON t.event_id = s.event_id
                 WHEN MATCHED THEN UPDATE SET close = s.close
                 WHEN NOT MATCHED THEN INSERT *""")
    // ids 0,3 survive as matches (1 killed by %3, 2 killed by %5, 4 killed
    // by %3); 1,2,4 re-insert as new rows
    assert(spark.sql(
      "SELECT count(*) FROM graft.mor.big WHERE close = -1.0")
      .head.getLong(0) == 5)
    assert(spark.sql("SELECT count(*) FROM graft.mor.big")
      .head.getLong(0) == expected + 3)
    spark.sql("DROP TABLE graft.mor.big")
  }

  /** Per data file of `before`, how many sidecars its entry in `after`
    * gained (files `after` no longer holds are left out).
    */
  private def sidecarsGained(before: SnapshotLake.Manifest,
      after: SnapshotLake.Manifest): Map[String, Int] = {
    val was = before.files.map(f => f.rel -> f.deletes.size).toMap
    after.files.collect {
      case f if was.contains(f.rel) => f.rel -> (f.deletes.size - was(f.rel))
    }.toMap
  }

  /** Run `merge` on the lake under `root` and assert that it stacked at
    * most ONE new sidecar on each data file; returns the merge's result
    * and the number of files whose deletes grew.
    */
  private def oneSidecarEach[A](root: String)(merge: => A): (A, Int) = {
    val before = SnapshotLake.manifest(spark, root)
    val out = merge
    val gained = sidecarsGained(before, SnapshotLake.manifest(spark, root))
    assertOneSidecarEach(gained)
    (out, gained.count(_._2 > 0))
  }

  private def assertOneSidecarEach(gained: Map[String, Int]): Unit =
    assert(gained.values.forall(_ <= 1),
      s"a merge must stack at most one sidecar per file: $gained")

  test("library merge and streaming mergeStream on a dmlMode=mor lake " +
      "land as position deletes: zero data files rewritten across " +
      "micro-batches, exactly-once replays, final state identical to " +
      "the copy-on-write mirror") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def kv(rows: (Long, String, Long)*) = rows.toSeq.toDF("id", "v", "ver")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("ver", LongType)))
    val dir = TempDirs.create("mor-stream")
    val morRoot = s"$dir/mor"; val cowRoot = s"$dir/cow"
    SnapshotLake.create(spark, morRoot, schema,
      tableProps = Map("dmlMode" -> "mor", "statsCols" -> "id"))
    val seed = kv((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L), (4L, "d", 1L))
      .repartition(4)
    SnapshotLake.append(spark, morRoot, seed, statsCols = Seq("id"))
    SnapshotLake.append(spark, cowRoot, seed, statsCols = Seq("id"))
    val baseRels = SnapshotLake.manifest(spark, morRoot).files.map(_.rel).toSet
    assert(baseRels.size >= 2)
    val morH = SnapshotLake.mergeStream(morRoot, keyCols = Seq("id"),
      versionCol = "ver", pruneKey = "id", streamId = "m")
    val cowH = SnapshotLake.mergeStream(cowRoot, keyCols = Seq("id"),
      versionCol = "ver", pruneKey = "id", streamId = "m")
    val batches = Seq(
      // update key 1, insert key 5, STALE row for key 2 (must lose)
      0L -> kv((1L, "a2", 2L), (5L, "e", 1L), (2L, "b0", 0L)),
      // in-batch duplicate key 3 collapses to ver 3; update key 5
      1L -> kv((3L, "c2", 2L), (3L, "c3", 3L), (5L, "e2", 2L)))
    batches.foreach { case (bid, df) =>
      oneSidecarEach(morRoot)(morH(df, bid)); cowH(df, bid)
    }
    // crash-replay of batch 1: skipped whole on both
    morH(batches(1)._2, 1L); cowH(batches(1)._2, 1L)
    def state(root: String): Map[Long, (String, Long)] =
      SnapshotLake.read(spark, root).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val expected = Map(1L -> ("a2", 2L), 2L -> ("b", 1L), 3L -> ("c3", 3L),
      4L -> ("d", 1L), 5L -> ("e2", 2L))
    assert(state(cowRoot) == expected, "cow mirror drifted")
    assert(state(morRoot) == expected, "mor mirror must equal the cow one")
    // the headline: across ALL micro-batches, not one seed data file of
    // the mor lake was rewritten — matched rows became sidecars
    val morM = SnapshotLake.manifest(spark, morRoot)
    assert(baseRels.subsetOf(morM.files.map(_.rel).toSet),
      s"mor mergeStream must rewrite nothing: lost ${
        baseRels.diff(morM.files.map(_.rel).toSet)}")
    assert(morM.files.exists(_.deletes.nonEmpty),
      "matched rows must be recorded as position-delete sidecars")
    assert(morM.op.startsWith("merge:stream=m,batch="),
      s"exactly-once marker missing: ${morM.op}")
    assert(SnapshotLake.lastCommittedBatch(spark, morRoot, "m")
      .contains(1L))
    // the cow mirror DID rewrite (the contrast that prices the trade)
    val cowM = SnapshotLake.manifest(spark, cowRoot)
    assert(cowM.files.forall(_.deletes.isEmpty))
    // a later library merge on the mor lake takes the same delta route
    val ((v, sidecarred, _), grown) = oneSidecarEach(morRoot)(
      SnapshotLake.merge(spark, morRoot, kv((4L, "d2", 2L), (6L, "f", 1L)),
        keyCols = Seq("id"), versionCol = "ver", pruneKey = "id"))
    assert(v == morM.version + 1 && sidecarred >= 1)
    assert(sidecarred == grown,
      s"filesGainingDeletes $sidecarred != $grown files whose deletes grew")
    assert(state(morRoot) == expected ++ Map(4L -> ("d2", 2L),
      6L -> ("f", 1L)))
    assert(baseRels.subsetOf(
      SnapshotLake.manifest(spark, morRoot).files.map(_.rel).toSet))
    // compaction absorbs the stream's sidecars; state intact
    SnapshotLake.compact(spark, morRoot)
    assert(SnapshotLake.manifest(spark, morRoot).files
      .forall(_.deletes.isEmpty))
    assert(state(morRoot) == expected ++ Map(4L -> ("d2", 2L),
      6L -> ("f", 1L)))
    // a merge over many candidate files, each losing many positions,
    // still stacks one sidecar per file and reports exactly those files
    val narrow = SnapshotLake.manifest(spark, morRoot).files.size
    SnapshotLake.append(spark, morRoot, spark.range(100, 4100, 1, 8)
      .select(col("id"), lit("w").as("v"), lit(1L).as("ver")),
      statsCols = Seq("id"))
    val wideFiles = SnapshotLake.manifest(spark, morRoot).files.size - narrow
    assert(wideFiles == 8, s"the wide append landed $wideFiles files")
    val ((_, wideGained, _), wideGrown) = oneSidecarEach(morRoot)(
      SnapshotLake.merge(spark, morRoot, spark.range(100, 4100, 3)
        .select(col("id"), lit("w2").as("v"), lit(2L).as("ver")),
        keyCols = Seq("id"), versionCol = "ver", pruneKey = "id"))
    assert(wideGained == wideGrown && wideGrown >= 8,
      s"filesGainingDeletes $wideGained, files whose deletes grew $wideGrown")
    val wide = SnapshotLake.read(spark, morRoot).filter(col("id") >= 100)
    assert(wide.count() == 4000 &&
      wide.filter(col("v") === "w2").count() == 1334)
  }

  test("a library mor merge is one write query: at most 10 Spark jobs and " +
      "2 SQL queries (the range aggregate and the write), where the " +
      "copy-on-write twin runs 4 jobs and 2 queries") {
    val dir = TempDirs.create("mor-jobs")
    val lake = spark.range(0, 200000, 1, 8)
      .select(col("id"), concat(lit("v"), col("id").cast("string")).as("v"),
        lit(1L).as("ver"))
    // every 100th key updated, 112 new keys
    val updates = spark.range(0, 200000, 100)
      .union(spark.range(200000, 200112))
      .select(col("id"), lit("u").as("v"), lit(2L).as("ver"))
    val costs = Seq("mor", "cow").map { mode =>
      val root = s"$dir/$mode"
      SnapshotLake.create(spark, root, lake.schema,
        tableProps = Map("statsCols" -> "id") ++
          (if (mode == "mor") Map("dmlMode" -> "mor") else Map.empty))
      SnapshotLake.append(spark, root, lake, statsCols = Seq("id"))
      val before = SnapshotLake.manifest(spark, root)
      assert(before.files.size == 8)
      val (_, cost) = Ledger.scope(spark)(SnapshotLake.merge(spark, root,
        updates, keyCols = Seq("id"), versionCol = "ver", pruneKey = "id"))
      val got = SnapshotLake.read(spark, root)
      assert(got.count() == 200112 &&
        got.filter(col("v") === "u").count() == 2112, s"$mode merge drifted")
      mode -> (cost, sidecarsGained(before, SnapshotLake.manifest(spark, root)))
    }.toMap
    val (mor, cow) = (costs("mor")._1, costs("cow")._1)
    assert(mor.jobs <= 10 && mor.queries == 2,
      s"mor merge: ${mor.jobs} jobs, ${mor.queries} queries")
    assert(cow.jobs <= 4 && cow.queries == 2,
      s"cow merge: ${cow.jobs} jobs, ${cow.queries} queries")
    assertOneSidecarEach(costs("mor")._2)
  }

  test("library merge evolve=true: a widened update batch lands as ONE " +
      "metadata-only evolve commit + the merge, on BOTH dml modes — old " +
      "files read NULL for the new column, the streaming twin rides " +
      "through, and drift without evolve still refuses") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def kv(rows: (Long, String, Long)*) = rows.toSeq.toDF("id", "v", "ver")
    def kvw(rows: (Long, String, Long, String)*) =
      rows.toSeq.toDF("id", "v", "ver", "w")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("ver", LongType)))
    for (mode <- Seq("cow", "mor")) {
      val root = s"${TempDirs.create(s"evomerge-$mode")}/lake"
      SnapshotLake.create(spark, root, schema,
        tableProps = if (mode == "mor") Map("dmlMode" -> "mor",
          "statsCols" -> "id") else Map("statsCols" -> "id"))
      SnapshotLake.append(spark, root,
        kv((1L, "a", 1L), (2L, "b", 1L)), statsCols = Seq("id"))
      // drift without evolve refuses loudly, nothing commits
      val vBefore = SnapshotLake.manifest(spark, root).version
      val e = intercept[IllegalArgumentException] {
        SnapshotLake.merge(spark, root, kvw((1L, "a2", 2L, "x")),
          keyCols = Seq("id"), versionCol = "ver", pruneKey = "id")
      }
      assert(e.getMessage.contains("schema drift"))
      assert(SnapshotLake.manifest(spark, root).version == vBefore)
      // evolve=true: one evolve commit + the merge commit
      SnapshotLake.merge(spark, root,
        kvw((1L, "a2", 2L, "x"), (3L, "c", 1L, "y")),
        keyCols = Seq("id"), versionCol = "ver", pruneKey = "id",
        evolve = true)
      val m = SnapshotLake.manifest(spark, root)
      assert(m.schema.fieldNames.toSeq == Seq("id", "v", "ver", "w"))
      val got = SnapshotLake.read(spark, root).collect()
        .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(3))))
        .toMap
      assert(got == Map(1L -> ("a2", Some("x")), 2L -> ("b", None),
        3L -> ("c", Some("y"))), s"got $got")
      // mor landed it as sidecars (no data file rewritten)
      if (mode == "mor") {
        val hist = SnapshotLake.versions(spark, root)
          .map(v => SnapshotLake.manifest(spark, root, Some(v)).op)
        assert(hist.contains("evolve"), hist.mkString(","))
        assert(m.files.exists(_.deletes.nonEmpty))
      }
      // the streaming twin rides through the widening on a later batch
      val h = SnapshotLake.mergeStream(root, keyCols = Seq("id"),
        versionCol = "ver", pruneKey = "id", streamId = "evo",
        evolve = true)
      h(kvw((2L, "b2", 3L, "z")).withColumn("w2", col("w")), 0L)
      val m2 = SnapshotLake.manifest(spark, root)
      assert(m2.schema.fieldNames.toSeq == Seq("id", "v", "ver", "w", "w2"))
      val r2 = SnapshotLake.read(spark, root)
        .filter(col("id") === 2L).collect().head
      assert(r2.getString(1) == "b2" && r2.getString(4) == "z")
    }
  }

  test("mor merge classifies per KEY against the newest lake version: " +
      "a mid-version update against stacked lake versions (key-" +
      "discipline-violating appends) is dropped whole — no stale insert " +
      "beside a newer lake row — and a winning update deletes EVERY " +
      "stacked position") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def kv(rows: (Long, String, Long)*) = rows.toSeq.toDF("id", "v", "ver")
    val root = s"${TempDirs.create("mor-stack")}/lake"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("ver", LongType)))
    SnapshotLake.create(spark, root, schema,
      tableProps = Map("dmlMode" -> "mor", "statsCols" -> "id"))
    // plain appends stack TWO versions of key 1 (v1 and v5) — appends
    // do not enforce the merge key discipline
    SnapshotLake.append(spark, root,
      kv((1L, "old", 1L), (2L, "b", 1L)), statsCols = Seq("id"))
    SnapshotLake.append(spark, root,
      kv((1L, "new", 5L), (3L, "c", 1L)), statsCols = Seq("id"))
    // an update at ver 3 sits BETWEEN the stacked versions: the key's
    // newest lake row (ver 5) beats it, so the merge must change
    // NOTHING for key 1 — the r15 per-row rule deleted the v1 position,
    // kept v5, and inserted v3 (a duplicate key)
    val (_, gained, _) = SnapshotLake.merge(spark, root,
      kv((1L, "mid", 3L), (4L, "d", 1L)), keyCols = Seq("id"),
      versionCol = "ver", pruneKey = "id")
    val after = SnapshotLake.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(after == Set((1L, "old", 1L), (1L, "new", 5L), (2L, "b", 1L),
      (3L, "c", 1L), (4L, "d", 1L)),
      s"losing update must leave the lake untouched, got $after")
    assert(gained == 0,
      s"no file may gain deletes from a losing update, got $gained")
    // an update at ver 6 beats the key's newest lake row: EVERY stacked
    // position of key 1 is deleted and exactly one row remains
    SnapshotLake.merge(spark, root, kv((1L, "final", 6L)),
      keyCols = Seq("id"), versionCol = "ver", pruneKey = "id")
    val rows1 = SnapshotLake.read(spark, root).filter(col("id") === 1)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(rows1 == Seq(("final", 6L)),
      s"winning update must collapse every stacked version, got $rows1")
  }
}
