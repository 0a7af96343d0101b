package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.SnapshotLake

/** The snapshot lake as a catalog plugin (`graft.sinks.GraftCatalog`):
  * the full SQL table lifecycle — CREATE/CTAS/INSERT/SELECT with
  * VERSION/TIMESTAMP AS OF/ALTER ADD COLUMNS/RENAME/DROP — against a
  * warehouse directory, with no path options anywhere and no metastore
  * beside the filesystem.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  // Catalog plugins resolve lazily and are then CACHED per session with
  // the conf they first saw — another suite (DriverContractSpec's sn9
  // query) may have initialized `graft` already, so ADOPT its warehouse
  // instead of setting a fresh one the cached instance would ignore.
  // Namespaces keep the suites disjoint.
  private val warehouse =
    spark.conf.getOption("spark.sql.catalog.graft.warehouse").getOrElse {
      val wh = TempDirs.create("graft-catalog-wh")
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

  test("namespace + partitioned CREATE TABLE + INSERT + SELECT: the " +
      "catalog carries the whole lifecycle with no path options") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.prod")
    spark.sql("CREATE TABLE graft.prod.bars (symbol STRING, " +
      "ts TIMESTAMP_NTZ, close DOUBLE, event_id BIGINT) " +
      "USING `graft-snapshot` PARTITIONED BY (symbol)")
    val root = s"$warehouse/prod/bars"
    // CREATE TABLE committed an EMPTY v1 manifest carrying the declared
    // partitioning as a lake prop
    val m1 = SnapshotLake.manifest(spark, root)
    assert(m1.version == 1 && m1.op == "create" && m1.files.isEmpty)
    assert(m1.props("partitionCols") == "symbol")
    assert(spark.sql("SELECT * FROM graft.prod.bars").count() == 0)
    bars(12, 0.0).createOrReplaceTempView("gc_src")
    spark.sql("INSERT INTO graft.prod.bars " +
      "SELECT symbol, ts, close, event_id FROM gc_src")
    // landed hive-partitioned per the declared (prop-carried) transform
    val m2 = SnapshotLake.manifest(spark, root)
    assert(m2.op == "append" && m2.files.forall(_.rel.startsWith("symbol=")))
    assert(m2.props("partitionCols") == "symbol") // props persist
    assert(spark.sql("SELECT * FROM graft.prod.bars").count() == 12)
    assert(spark.sql(
      "SELECT * FROM graft.prod.bars WHERE symbol = 'sym1'").count() == 4)
    assert(spark.sql("SHOW TABLES IN graft.prod").collect()
      .map(_.getString(1)).contains("bars"))
  }

  test("SQL time travel: VERSION AS OF pins a manifest, TIMESTAMP AS OF " +
      "resolves via manifest publish time") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.t (symbol STRING, ts TIMESTAMP_NTZ, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot`")
    bars(5, 0.0).createOrReplaceTempView("gc_tt_src1")
    spark.sql("INSERT INTO graft.tt.t SELECT * FROM gc_tt_src1") // v2
    Thread.sleep(1200) // mtime granularity on local FS is 1 s
    val between = java.time.Instant.now()
    Thread.sleep(1200)
    bars(3, 100.0).createOrReplaceTempView("gc_tt_src2")
    spark.sql("INSERT INTO graft.tt.t SELECT * FROM gc_tt_src2") // v3
    assert(spark.sql("SELECT * FROM graft.tt.t").count() == 8)
    assert(spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 2").count() == 5)
    assert(spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 1").count() == 0)
    val ts = java.sql.Timestamp.from(between)
    assert(spark.sql(
      s"SELECT * FROM graft.tt.t TIMESTAMP AS OF '$ts'").count() == 5)
    // the path-based reader has the same twin options
    val root = s"$warehouse/tt/t"
    assert(spark.read.format("graft-snapshot")
      .option("timestampAsOf", between.toString).load(root).count() == 5)
    intercept[Exception] {
      spark.read.format("graft-snapshot")
        .option("timestampAsOf", "2001-01-01 00:00:00")
        .load(root).count()
    }
    intercept[Exception] {
      spark.read.format("graft-snapshot").option("versionAsOf", "2")
        .option("timestampAsOf", between.toString).load(root).count()
    }
    // a pinned read cannot be written
    intercept[Exception] {
      spark.sql("INSERT INTO graft.tt.t VERSION AS OF 2 SELECT * FROM gc_tt_src1")
    }
  }

  test("CTAS, ALTER TABLE ADD COLUMNS as a metadata-only evolve commit, " +
      "RENAME as a directory move, managed DROP") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl")
    bars(6, 0.0).createOrReplaceTempView("gc_ddl_src")
    spark.sql("CREATE TABLE graft.ddl.ctas USING `graft-snapshot` AS " +
      "SELECT symbol, ts, close, event_id FROM gc_ddl_src")
    assert(spark.sql("SELECT * FROM graft.ddl.ctas").count() == 6)
    val root = s"$warehouse/ddl/ctas"
    val vBefore = SnapshotLake.manifest(spark, root).version
    val filesBefore = SnapshotLake.manifest(spark, root).files.map(_.rel)
    // widen: ONE evolve commit, same files, old rows read NULL
    spark.sql("ALTER TABLE graft.ddl.ctas ADD COLUMNS (venue STRING)")
    val m = SnapshotLake.manifest(spark, root)
    assert(m.op == "evolve" && m.version == vBefore + 1 &&
      m.files.map(_.rel) == filesBefore,
      "ADD COLUMNS must be metadata-only")
    assert(spark.sql(
      "SELECT * FROM graft.ddl.ctas WHERE venue IS NULL").count() == 6)
    // inserts against the widened schema land; narrowing ALTERs refuse
    spark.sql("INSERT INTO graft.ddl.ctas SELECT symbol, ts, close, " +
      "event_id, 'nyse' FROM gc_ddl_src LIMIT 2")
    assert(spark.sql(
      "SELECT * FROM graft.ddl.ctas WHERE venue = 'nyse'").count() == 2)
    // retypes stay refused (narrowing is an explicit migration; DROP and
    // RENAME are supported since round 14 as field-id commits)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl.ctas ALTER COLUMN close TYPE STRING")
    }
    // rename: directory move; old name gone, data + history intact
    // (the target name is CATALOG-RELATIVE — `ddl.ctas2`, not
    // `graft.ddl.ctas2`: Spark resolves RENAME TO within the source's
    // catalog, so a catalog prefix would become a namespace segment)
    spark.sql("ALTER TABLE graft.ddl.ctas RENAME TO ddl.ctas2")
    assert(spark.sql("SELECT * FROM graft.ddl.ctas2").count() == 8)
    assert(!spark.catalog.tableExists("graft.ddl.ctas"))
    // CTAS history: v1 = the empty create, v2 = the data append
    assert(spark.sql("SELECT * FROM graft.ddl.ctas2 VERSION AS OF 1")
      .count() == 0)
    assert(spark.sql("SELECT * FROM graft.ddl.ctas2 VERSION AS OF 2")
      .count() == 6)
    // managed drop deletes the lake
    spark.sql("DROP TABLE graft.ddl.ctas2")
    assert(spark.sql("SHOW TABLES IN graft.ddl").isEmpty)
    assert(!new java.io.File(s"$warehouse/ddl/ctas2").exists())
  }

  test("CREATE TABLE statsCols/bloomCols persist as manifest props: the " +
      "FIRST insert into a catalog-created lake stamps the data-skipping " +
      "index") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.idx")
    spark.sql("CREATE TABLE graft.idx.t (symbol STRING, ts TIMESTAMP_NTZ, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot` " +
      "TBLPROPERTIES ('statsCols' 'event_id,close', 'bloomCols' 'symbol')")
    val root = s"$warehouse/idx/t"
    val m1 = SnapshotLake.manifest(spark, root)
    assert(m1.props("statsCols") == "event_id,close" &&
      m1.props("bloomCols") == "symbol")
    bars(8, 0.0).createOrReplaceTempView("gc_idx_src")
    spark.sql("INSERT INTO graft.idx.t SELECT * FROM gc_idx_src")
    val m2 = SnapshotLake.manifest(spark, root)
    assert(m2.files.nonEmpty &&
      m2.files.forall(f => f.stats.contains("event_id") &&
        f.stats.contains("close") && f.bloomCols == Seq("symbol")),
      s"first insert must carry declared envelopes+blooms, got ${m2.files}")
    // a declared column missing from the schema refuses at CREATE
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.idx.bad (a INT) USING `graft-snapshot` " +
        "TBLPROPERTIES ('statsCols' 'nope')")
    }
    spark.sql("DROP TABLE graft.idx.t")
  }

  test("DROP then re-CREATE at the same identifier: pinned reads of the " +
      "new lake never serve the dropped lake's cached manifests") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.redo")
    bars(9, 0.0).createOrReplaceTempView("gc_redo_src")
    spark.sql("CREATE TABLE graft.redo.t USING `graft-snapshot` AS " +
      "SELECT symbol, ts, close, event_id FROM gc_redo_src") // v1+v2
    // warm the manifest cache with the OLD lake's v2
    assert(spark.sql("SELECT * FROM graft.redo.t VERSION AS OF 2").count() == 9)
    spark.sql("DROP TABLE graft.redo.t")
    bars(4, 500.0).createOrReplaceTempView("gc_redo_src2")
    spark.sql("CREATE TABLE graft.redo.t USING `graft-snapshot` AS " +
      "SELECT symbol, ts, close, event_id FROM gc_redo_src2")
    // without the drop-side invalidate this served the OLD 9-row manifest
    assert(spark.sql("SELECT * FROM graft.redo.t VERSION AS OF 2").count() == 4)
    spark.sql("DROP TABLE graft.redo.t")
  }

  test("positioned ADD COLUMNS (FIRST/AFTER) refuses loudly instead of " +
      "appending at the wrong place") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pos")
    spark.sql("CREATE TABLE graft.pos.t (a INT, b INT) USING `graft-snapshot`")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.pos.t ADD COLUMNS (z INT FIRST)")
    }
    assert(e.getMessage.contains("position") ||
      e.getMessage.contains("FIRST"), e.getMessage)
    spark.sql("DROP TABLE graft.pos.t")
  }

  test("TIMESTAMP AS OF survives a lake copy: commit times are durable " +
      "manifest props, not file mtimes") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dur")
    spark.sql("CREATE TABLE graft.dur.t (symbol STRING, ts TIMESTAMP_NTZ, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot`")
    bars(5, 0.0).createOrReplaceTempView("gc_dur_src1")
    spark.sql("INSERT INTO graft.dur.t SELECT * FROM gc_dur_src1") // v2
    Thread.sleep(5)
    val between = java.time.Instant.now()
    Thread.sleep(5)
    bars(3, 100.0).createOrReplaceTempView("gc_dur_src2")
    spark.sql("INSERT INTO graft.dur.t SELECT * FROM gc_dur_src2") // v3
    val root = s"$warehouse/dur/t"
    // rsync-style copy: fresh mtimes everywhere, manifests byte-identical
    val copy = TempDirs.create("gc-dur-copy") + "/lake"
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(copy)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    // mtime-based resolution would put EVERY version after `between`;
    // the durable commitTimeUs prop keeps v2 resolvable
    assert(spark.read.format("graft-snapshot")
      .option("timestampAsOf", between.toString).load(copy).count() == 5)
    // sub-second precision now works too (no 1 s mtime granularity)
    assert(SnapshotLake.versionAt(spark, copy,
      between.toEpochMilli * 1000L).contains(2L))
    spark.sql("DROP TABLE graft.dur.t")
  }

  test("DELETE/TRUNCATE on a declared-but-empty table are zero-row " +
      "no-ops, not errors") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mt")
    spark.sql("CREATE TABLE graft.mt.t (a INT, b STRING) " +
      "USING `graft-snapshot`")
    spark.sql("DELETE FROM graft.mt.t WHERE a > 3")
    spark.sql("TRUNCATE TABLE graft.mt.t")
    assert(spark.sql("SELECT * FROM graft.mt.t").count() == 0)
    spark.sql("DROP TABLE graft.mt.t")
  }

  test("dynamic partition overwrite on a catalog table: INSERT OVERWRITE " +
      "under partitionOverwriteMode=dynamic replaces exactly the frame's " +
      "own partitions in ONE commit; untouched partitions survive by " +
      "identity") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dyn")
    spark.sql("CREATE TABLE graft.dyn.t (symbol STRING, ts TIMESTAMP_NTZ, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot` " +
      "PARTITIONED BY (symbol) TBLPROPERTIES ('statsCols' 'event_id')")
    bars(30, 0.0).createOrReplaceTempView("gc_dyn_seed")
    spark.sql("INSERT INTO graft.dyn.t SELECT * FROM gc_dyn_seed")
    val root = s"$warehouse/dyn/t"
    val before = SnapshotLake.manifest(spark, root)
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the frame carries only sym1/sym2 rows — exactly those partitions
      // get replaced, derived from the data itself (no static clause)
      bars(5, 500.0).filter(col("symbol") =!= "sym0")
        .createOrReplaceTempView("gc_dyn_src")
      spark.sql("INSERT OVERWRITE graft.dyn.t SELECT * FROM gc_dyn_src")
      val after = SnapshotLake.manifest(spark, root)
      assert(after.op == "overwrite-dynamic" &&
        after.version == before.version + 1,
        s"one atomic commit expected, got ${after.op}@v${after.version}")
      val sym0Before = before.files
        .filter(_.rel.startsWith("symbol=sym0/")).map(_.rel).toSet
      assert(sym0Before.nonEmpty &&
        sym0Before.subsetOf(after.files.map(_.rel).toSet),
        "partitions absent from the frame must survive by identity")
      assert(!after.files.exists(f => before.files.exists(b =>
        b.rel == f.rel && b.rel.startsWith("symbol=sym1/"))),
        "frame-carried partitions must have been replaced")
      assert(spark.sql("SELECT * FROM graft.dyn.t").count() == 10 + 3)
      assert(spark.sql(
        "SELECT * FROM graft.dyn.t WHERE symbol = 'sym0'").count() == 10)
      assert(spark.sql("SELECT * FROM graft.dyn.t WHERE close >= 500")
        .count() == 3)
      // footer envelopes inherited through the options→props→files chain
      assert(after.files.filter(_.rel.startsWith("symbol=sym1"))
        .forall(_.stats.contains("event_id")),
        s"dynamic-overwrite files must carry envelopes: ${after.files}")
      // an EMPTY frame replaces nothing and publishes nothing
      spark.sql("INSERT OVERWRITE graft.dyn.t " +
        "SELECT * FROM gc_dyn_src WHERE 1=0")
      assert(SnapshotLake.manifest(spark, root).version == after.version,
        "empty dynamic overwrite must be a commit no-op")
      // plain INSERT under dynamic conf still appends through V1Write
      spark.sql("INSERT INTO graft.dyn.t SELECT * FROM gc_dyn_src")
      assert(SnapshotLake.manifest(spark, root).op == "append")
      // an UNPARTITIONED table under dynamic conf routes to the plain
      // full overwrite (Spark only picks the dynamic plan for
      // partitioned tables) — an atomic REPLACE, not an error
      spark.sql("CREATE TABLE graft.dyn.flat (symbol STRING, close DOUBLE) " +
        "USING `graft-snapshot`")
      spark.sql("INSERT OVERWRITE graft.dyn.flat " +
        "SELECT symbol, close FROM gc_dyn_src")
      spark.sql("INSERT OVERWRITE graft.dyn.flat " +
        "SELECT symbol, close FROM gc_dyn_src WHERE symbol = 'sym1'")
      assert(spark.sql("SELECT * FROM graft.dyn.flat").count() == 2)
      spark.sql("DROP TABLE graft.dyn.flat")
    } finally {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      spark.sql("DROP TABLE graft.dyn.t")
    }
  }

  test("dynamic overwrite racing-append guard: a concurrent append into " +
      "a touched partition aborts the statement loudly and survives; " +
      "an append into an UNTOUCHED partition rides through") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dynrace")
    spark.sql("CREATE TABLE graft.dynrace.t (symbol STRING, " +
      "ts TIMESTAMP_NTZ, close DOUBLE, event_id BIGINT) " +
      "USING `graft-snapshot` PARTITIONED BY (symbol)")
    bars(30, 0.0).createOrReplaceTempView("gc_dynrace_seed")
    spark.sql("INSERT INTO graft.dynrace.t SELECT * FROM gc_dynrace_seed")
    val root = s"$warehouse/dynrace/t"
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      bars(6, 500.0).filter(col("symbol") === "sym1")
        .createOrReplaceTempView("gc_dynrace_src")
      // deterministic race replay: between the statement's staging and
      // its commit, a rival append lands one row INTO the partition the
      // overwrite is about to replace — dropping it with the partition
      // would silently lose a committed write
      val racing = bars(3, 900.0).filter(col("symbol") === "sym1")
      SnapshotLake.beforeRewriteCommit.set(() =>
        SnapshotLake.append(spark, root, racing,
          partitionCols = Seq("symbol")))
      val before = SnapshotLake.manifest(spark, root)
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE graft.dynrace.t " +
          "SELECT * FROM gc_dynrace_src")
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert(chain(e).exists(m => m != null && m.contains("concurrent")),
        s"expected the loud racing-write abort, got: ${chain(e)}")
      // the racing append SURVIVED; the overwrite published nothing
      val after = SnapshotLake.manifest(spark, root)
      assert(after.op.startsWith("append") &&
        after.version == before.version + 1,
        s"head should be the rival append only, got ${after.op}")
      assert(spark.sql("SELECT * FROM graft.dynrace.t " +
        "WHERE close >= 900").count() == 1)
      assert(spark.sql("SELECT * FROM graft.dynrace.t " +
        "WHERE close >= 500 AND close < 900").count() == 0)
      // a rival append into an UNTOUCHED partition is no conflict: the
      // overwrite drops only statement-start files of its own partitions
      val riding = bars(3, 900.0).filter(col("symbol") === "sym0")
      SnapshotLake.beforeRewriteCommit.set(() =>
        SnapshotLake.append(spark, root, riding,
          partitionCols = Seq("symbol")))
      spark.sql("INSERT OVERWRITE graft.dynrace.t " +
        "SELECT * FROM gc_dynrace_src")
      SnapshotLake.beforeRewriteCommit.set(() => ())
      assert(SnapshotLake.manifest(spark, root).op == "overwrite-dynamic")
      assert(spark.sql("SELECT * FROM graft.dynrace.t " +
        "WHERE symbol = 'sym0' AND close >= 900").count() == 1)
      assert(spark.sql("SELECT * FROM graft.dynrace.t " +
        "WHERE symbol = 'sym1'").count() == 2) // the frame's rows only
    } finally {
      SnapshotLake.beforeRewriteCommit.set(() => ())
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      spark.sql("DROP TABLE graft.dynrace.t")
    }
  }

  test("RENAME/DROP COLUMN are metadata-only field-id commits: renamed " +
      "columns read old files by id, re-added names never resurrect " +
      "dropped data, and id-less lakes refuse") {
    // every new lake is born with parquet field ids; Spark's writer
    // persists them by default (hard precondition of the design)
    assert(spark.conf.get("spark.sql.parquet.fieldId.write.enabled")
      .toBoolean, "field-id writing must be on by default")
    val prevRead = spark.conf
      .getOption("spark.sql.parquet.fieldId.read.enabled")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.fid")
    spark.sql("DROP TABLE IF EXISTS graft.fid.t")
    spark.sql("CREATE TABLE graft.fid.t (symbol STRING, close DOUBLE, " +
      "event_id BIGINT) USING `graft-snapshot`")
    val root = s"$warehouse/fid/t"
    try {
      Seq(("a", 1.5, 1L), ("b", 2.5, 2L), ("c", 3.5, 3L))
        .toDF("symbol", "close", "event_id")
        .createOrReplaceTempView("fid_src")
      spark.sql("INSERT INTO graft.fid.t SELECT * FROM fid_src")
      val filesBefore = SnapshotLake.manifest(spark, root).files.map(_.rel)
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      // RENAME: metadata-only; OLD files resolve the column BY ID
      spark.sql("ALTER TABLE graft.fid.t RENAME COLUMN close TO px")
      val m = SnapshotLake.manifest(spark, root)
      assert(m.op == "rename:close>px" &&
        m.files.map(_.rel) == filesBefore,
        "RENAME COLUMN must be metadata-only")
      assert(m.props("columnMapped") == "true")
      assert(spark.sql("SELECT px FROM graft.fid.t WHERE event_id = 2")
        .head().getDouble(0) == 2.5,
        "pre-rename files must read the renamed column by field id")
      // post-rename INSERT lands under the new name, same id
      spark.sql("INSERT INTO graft.fid.t SELECT 'd', 4.5, 4")
      assert(spark.sql("SELECT sum(px) FROM graft.fid.t").head().getDouble(0)
        == 12.0)
      // DROP then re-ADD the same name: refused while files physically
      // carrying the old column are still referenced (parquet's BY-NAME
      // row-group pruning would evaluate pushed filters against the OLD
      // column's statistics and silently drop rows); a compact rewrites
      // every file under current names and frees the name, and the
      // re-added column then reads NULL everywhere — fresh id, the
      // Iceberg drop contract
      spark.sql("ALTER TABLE graft.fid.t DROP COLUMN px")
      assert(!spark.table("graft.fid.t").schema.fieldNames.contains("px"))
      assert(spark.sql("SELECT * FROM graft.fid.t").count() == 4)
      val eReuse = intercept[Exception] {
        spark.sql("ALTER TABLE graft.fid.t ADD COLUMNS (px DOUBLE)")
      }
      def chain0(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain0(x.getCause))
      assert(chain0(eReuse).exists(msg => msg != null &&
        msg.contains("re-use")), s"got ${chain0(eReuse)}")
      SnapshotLake.compact(spark, root)
      spark.sql("ALTER TABLE graft.fid.t ADD COLUMNS (px DOUBLE)")
      // the filter form matters: a pushed `px IS NULL` must not prune
      // row groups against any old physical column
      assert(spark.sql("SELECT * FROM graft.fid.t WHERE px IS NULL")
        .count() == 4,
        "a re-added column name must read NULL, never the dropped data")
      // library reads honor the mapping identically
      assert(SnapshotLake.read(spark, root).filter(col("px").isNotNull)
        .count() == 0)
      // reads of a column-mapped lake REFUSE when id-resolution is off
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM graft.fid.t").count()
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert(chain(e).exists(msg => msg != null &&
        msg.contains("fieldId.read.enabled")), s"got ${chain(e)}")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      // partition columns refuse (their name is baked into directories)
      spark.sql("DROP TABLE IF EXISTS graft.fid.p")
      spark.sql("CREATE TABLE graft.fid.p (symbol STRING, close DOUBLE) " +
        "USING `graft-snapshot` PARTITIONED BY (symbol)")
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE graft.fid.p RENAME COLUMN symbol TO sym")
      }
      assert(chain(e2).exists(msg => msg != null &&
        msg.contains("partition column")))
      spark.sql("DROP TABLE graft.fid.p")
      // a lake born WITHOUT ids (bare replace) refuses with the
      // migration hint instead of silently mis-reading
      val legacy = TempDirs.create("graft-fid-legacy") + "/lake"
      SnapshotLake.replace(spark, legacy,
        Seq(("a", 1.0)).toDF("symbol", "close"))
      val e3 = intercept[IllegalArgumentException] {
        SnapshotLake.renameColumn(spark, legacy, "close", "px")
      }
      assert(e3.getMessage.contains("predates field ids"))
    } finally {
      prevRead match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.fieldId.read.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
      }
      spark.sql("DROP TABLE IF EXISTS graft.fid.t")
    }
  }

  test("ALTER COLUMN TYPE widening is a metadata-only commit: old files' " +
      "narrower physical values upcast in the reader, pushed filters " +
      "stay sound, narrowing refuses") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.widen")
    spark.sql("DROP TABLE IF EXISTS graft.widen.t")
    spark.sql("CREATE TABLE graft.widen.t (k INT, v FLOAT, sym STRING) " +
      "USING `graft-snapshot` TBLPROPERTIES ('statsCols' 'k', " +
      "'bloomCols' 'k')")
    val root = s"$warehouse/widen/t"
    Seq((1, 1.5f, "a"), (2, 2.5f, "b"), (3, 3.5f, "c"))
      .toDF("k", "v", "sym").createOrReplaceTempView("widen_src")
    spark.sql("INSERT INTO graft.widen.t SELECT * FROM widen_src")
    val before = SnapshotLake.manifest(spark, root)
    spark.sql("ALTER TABLE graft.widen.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graft.widen.t ALTER COLUMN v TYPE DOUBLE")
    val after = SnapshotLake.manifest(spark, root)
    assert(after.files.map(_.rel) == before.files.map(_.rel),
      "widening must be metadata-only")
    assert(after.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(after.schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // same field id (widening is not a re-bind)
    assert(after.schema("k").metadata.getLong("parquet.field.id") ==
      before.schema("k").metadata.getLong("parquet.field.id"))
    // old INT32/FLOAT files read upcast, with filters pushed on the
    // widened column (row-group stats stay sound)
    assert(spark.sql("SELECT sum(k) FROM graft.widen.t").head().getLong(0)
      == 6L)
    assert(spark.sql(
      "SELECT v FROM graft.widen.t WHERE k >= 2 AND v > 2.0 ORDER BY v")
      .collect().map(_.getDouble(0)).toSeq == Seq(2.5, 3.5))
    // post-widen inserts land wide; the mixed lake reads consistently
    spark.sql("INSERT INTO graft.widen.t SELECT CAST(4000000000000 AS " +
      "BIGINT), CAST(4.5 AS DOUBLE), 'd'")
    assert(spark.sql("SELECT max(k) FROM graft.widen.t").head().getLong(0)
      == 4000000000000L)
    // the point-lookup bloom index survives widening: integrals hash
    // through putLong on both sides
    assert(SnapshotLake.readPoint(spark, root, Map("k" -> 2L))
      .count() == 1)
    // narrowing and lossy retypes refuse
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    // narrowing: Spark's own analyzer refuses it before the catalog
    // (Cast.canUpCast gate) — loud either way
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.widen.t ALTER COLUMN k TYPE INT")
    }
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.widen.t ALTER COLUMN k TYPE DOUBLE")
    }
    assert(chain(e2).exists(m => m != null && m.contains("widening")),
      "long->double loses precision past 2^53 and must refuse")
    spark.sql("DROP TABLE graft.widen.t")
  }

  test("SHOW PROCEDURES hygiene: the system verbs are listed only under " +
      "the `system` namespace, and a bare table argument refuses") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sinks.GraftCatalog]
    assert(cat.listProcedures(Array("system")).map(_.name()).toSet
      .contains("optimize"))
    assert(cat.listProcedures(Array.empty[String]).nonEmpty)
    // any OTHER namespace must not advertise phantom procedures
    assert(cat.listProcedures(Array("prod")).isEmpty)
    assert(cat.listProcedures(Array("system", "sub")).isEmpty)
    // a bare 'tbl' (no namespace) must refuse with the contract message,
    // not resolve silently against the warehouse root
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.optimize(`table` => 'bars')").collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("namespace.table")))
  }

  test("SQL maintenance verbs: CALL graft.system.optimize / add_stats / " +
      "zorder / restore / vacuum run the library calls with the " +
      "library's one-commit semantics and return summary rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.maint")
    spark.sql("DROP TABLE IF EXISTS graft.maint.t")
    spark.sql("CREATE TABLE graft.maint.t (symbol STRING, ts TIMESTAMP_NTZ, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot`")
    bars(12, 0.0).createOrReplaceTempView("gc_maint_src")
    (1 to 3).foreach(_ =>
      spark.sql("INSERT INTO graft.maint.t SELECT * FROM gc_maint_src"))
    val root = s"$warehouse/maint/t"
    val beforeFiles = SnapshotLake.manifest(spark, root).files.size
    // optimize: files shrink, rows intact, ONE commit, summary row back
    val opt = spark.sql(
      "CALL graft.system.optimize(`table` => 'maint.t', target_mb => 64)")
      .collect().head
    assert(opt.getLong(1) == beforeFiles && opt.getLong(2) < beforeFiles,
      s"optimize must report the shrink, got $opt")
    assert(SnapshotLake.manifest(spark, root).op == "compact")
    assert(spark.sql("SELECT * FROM graft.maint.t").count() == 36)
    // add_stats: metadata-only envelope backfill
    spark.sql("CALL graft.system.add_stats(`table` => 'maint.t', " +
      "cols => 'event_id')")
    val st = SnapshotLake.manifest(spark, root)
    assert(st.op == "restat", s"expected a restat commit, got ${st.op}")
    assert(st.files.forall(_.stats.contains("event_id")))
    // zorder: clustered rewrite, rows intact
    val z = spark.sql("CALL graft.system.zorder(`table` => 'maint.t', " +
      "cols => 'event_id,close')").collect().head
    assert(z.getLong(0) == st.version + 1)
    assert(spark.sql("SELECT * FROM graft.maint.t").count() == 36)
    // restore: roll back to the single-insert version (v1=create, v2=first)
    spark.sql("CALL graft.system.restore(`table` => 'maint.t', version => 2)")
    assert(spark.sql("SELECT * FROM graft.maint.t").count() == 12)
    // vacuum: retention drop; pinned reads of dropped versions refuse
    val vac = spark.sql("CALL graft.system.vacuum(`table` => 'maint.t', " +
      "retain_last => 1)").collect().head
    assert(vac.getLong(1) > 0, s"vacuum must drop manifests, got $vac")
    assert(spark.sql("SELECT * FROM graft.maint.t").count() == 12)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.maint.t VERSION AS OF 2").count()
    }
    // history: one row per surviving version, manifests only
    val hist = spark.sql(
      "CALL graft.system.history(`table` => 'maint.t')").collect()
    assert(hist.length == 1 && hist.head.getString(2).startsWith("restore"),
      s"post-vacuum history must be the one restored version, got " +
        hist.map(_.toString).mkString("; "))
    assert(!hist.head.isNullAt(5), "round-13 commits carry commit_time_us")
    // unknown verbs refuse loudly (Spark wraps the load failure)
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.shrink_ray(`table` => 'maint.t')")
    }
    assert(e.getMessage.contains("shrink_ray"), e.getMessage)
    spark.sql("DROP TABLE graft.maint.t")
  }

  test("DML through the catalog: DELETE FROM and INSERT OVERWRITE " +
      "carry the doorway's commit semantics") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    bars(10, 0.0).createOrReplaceTempView("gc_dml_src")
    spark.sql("CREATE TABLE graft.dml.t USING `graft-snapshot` AS " +
      "SELECT symbol, ts, close, event_id FROM gc_dml_src")
    spark.sql("DELETE FROM graft.dml.t WHERE event_id >= 7")
    assert(spark.sql("SELECT * FROM graft.dml.t").count() == 7)
    assert(SnapshotLake.manifest(spark,
      s"$warehouse/dml/t").op == "delete")
    spark.sql("INSERT OVERWRITE graft.dml.t " +
      "SELECT symbol, ts, close, event_id FROM gc_dml_src WHERE event_id < 3")
    assert(spark.sql("SELECT * FROM graft.dml.t").count() == 3)
    spark.sql("DROP TABLE graft.dml.t")
  }

  test("constraint DDL: CHECK and NOT NULL table properties gate every " +
      "write path — INSERT, UPDATE, MERGE (cow and mor) refuse violating " +
      "statements whole with no version committed") {
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    def refusal(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(chain(e).exists(_.contains("constraint violation")),
        s"expected a constraint refusal for [$sql], got ${chain(e).take(3)}")
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ct")
    for ((tbl, mode) <- Seq(("graft.ct.c", "cow"), ("graft.ct.m", "mor"))) {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (symbol STRING, close DOUBLE, " +
        "event_id BIGINT) USING `graft-snapshot` TBLPROPERTIES (" +
        "'constraint.positive_close' 'close > 0', " +
        "'notNullCols' 'symbol', " +
        s"'dmlMode' '$mode', 'statsCols' 'event_id')")
      val root = s"$warehouse/ct/${tbl.split('.').last}"
      spark.sql(s"INSERT INTO $tbl VALUES ('a', 1.5, 1), ('b', 2.5, 2)")
      val v = SnapshotLake.latestVersion(spark, root).get
      // INSERT: CHECK and NOT NULL each refuse the whole statement
      refusal(s"INSERT INTO $tbl VALUES ('c', -3.5, 3)")
      refusal(s"INSERT INTO $tbl VALUES (NULL, 3.5, 3)")
      // NULL passes a CHECK (SQL three-valued logic) but not notNullCols
      spark.sql(s"INSERT INTO $tbl VALUES ('c', NULL, 3)")
      // UPDATE: the rewritten row versions are checked (cow rewrite /
      // mor delta insert both route through the same writer seam)
      refusal(s"UPDATE $tbl SET close = -1.0 WHERE event_id = 1")
      // MERGE: inserted rows are checked on both dml modes
      Seq(("d", -9.0, 9L)).toDF("symbol", "close", "event_id")
        .createOrReplaceTempView("ct_bad_src")
      refusal(s"""MERGE INTO $tbl t USING ct_bad_src s
                  ON t.event_id = s.event_id
                  WHEN NOT MATCHED THEN INSERT *""")
      // nothing violating ever landed; the one valid insert did
      assert(SnapshotLake.latestVersion(spark, root).contains(v + 1),
        "refused statements must not commit versions")
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE close <= 0")
        .head.getLong(0) == 0)
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 3)
      // a malformed CHECK refuses at CREATE, not at first write
      val bad = intercept[Exception] {
        spark.sql("CREATE TABLE graft.ct.bad (x INT) USING " +
          "`graft-snapshot` TBLPROPERTIES " +
          "('constraint.broken' 'no_such_col > 0')")
      }
      assert(chain(bad).exists(m => m.contains("no_such_col") ||
        m.contains("UNRESOLVED")), chain(bad).take(3).mkString("; "))
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("legacy lake field-id migration: upgrade_field_ids is metadata-" +
      "only, RENAME then works, pre-migration files read by NAME MAPPING " +
      "(both generations, SQL and library), and compact retires the " +
      "mapping") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mig")
    val root = s"$warehouse/mig/legacy"
    // a LEGACY (pre-round-14) lake: born through a bare replace, so no
    // field ids anywhere — exactly the fixture rename/drop refuse on
    val seed = Seq(("a", 1.5, 1L), ("b", 2.5, 2L), ("c", 3.5, 3L))
      .toDF("symbol", "close", "event_id")
    SnapshotLake.replace(spark, root, seed.repartition(2),
      statsCols = Seq("event_id"))
    val legacy = SnapshotLake.manifest(spark, root)
    assert(legacy.schema.fields.forall(
      !_.metadata.contains("parquet.field.id")))
    val refusal = intercept[IllegalArgumentException] {
      SnapshotLake.renameColumn(spark, root, "close", "px")
    }
    assert(refusal.getMessage.contains("upgradeFieldIds"), refusal.getMessage)
    // the migration: ONE metadata-only commit
    val up = spark.sql("CALL graft.system.upgrade_field_ids(" +
      "`table` => 'mig.legacy')").collect().head
    val m = SnapshotLake.manifest(spark, root)
    assert(up.getLong(0) == m.version && up.getLong(1) == legacy.files.size)
    assert(m.op == "upgradefieldids" &&
      m.files.map(_.rel) == legacy.files.map(_.rel),
      "migration must be metadata-only")
    assert(m.files.forall(_.idless) &&
      m.props("fieldIds") == "migrated" &&
      m.props("nameMapping").nonEmpty)
    assert(m.schema.fields.forall(_.metadata.contains("parquet.field.id")))
    intercept[IllegalArgumentException] { // idempotence guard
      SnapshotLake.upgradeFieldIds(spark, root)
    }
    val prevRead = spark.conf
      .getOption("spark.sql.parquet.fieldId.read.enabled")
    try {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      // RENAME now works; old files must read the renamed column BY the
      // name mapping (they carry no ids to resolve by)
      spark.sql("ALTER TABLE graft.mig.legacy RENAME COLUMN close TO px")
      assert(spark.sql(
        "SELECT px FROM graft.mig.legacy WHERE event_id = 2")
        .head().getDouble(0) == 2.5,
        "pre-migration files must serve the renamed column via the " +
          "name mapping")
      // post-rename files carry ids; BOTH generations read in one scan,
      // filters on untouched columns still prune, library read agrees
      spark.sql("INSERT INTO graft.mig.legacy SELECT 'd', 4.5, 4")
      assert(spark.sql("SELECT sum(px) FROM graft.mig.legacy")
        .head().getDouble(0) == 12.0)
      assert(spark.sql(
        "SELECT symbol FROM graft.mig.legacy WHERE px > 4").collect()
        .map(_.getString(0)).toSeq == Seq("d"))
      assert(SnapshotLake.read(spark, root)
        .agg(sum("px")).head().getDouble(0) == 12.0)
      assert(SnapshotLake.read(spark, root)
        .filter(col("event_id") <= 2).count() == 2)
      // library merge/delete handle the migrated lake (mapped rewrite
      // absorbs the touched files; survivors keep the idless flag)
      val (_, deleted, _, _) = SnapshotLake.delete(spark, root,
        col("event_id") === 1L,
        pruneBox = Map("event_id" -> (1.0, 1.0)))
      assert(deleted == 1)
      assert(spark.sql("SELECT count(*) FROM graft.mig.legacy")
        .head().getLong(0) == 3)
      // SQL row-level DML refuses while id-less files remain
      val dml = intercept[Exception] {
        spark.sql("UPDATE graft.mig.legacy SET px = 0 WHERE event_id = 2")
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ chain(x.getCause))
      assert(chain(dml).exists(_.contains("pre-migration")),
        chain(dml).mkString("; "))
      // compact materializes ids everywhere: flags clear, DML unlocks
      spark.sql("CALL graft.system.optimize(`table` => 'mig.legacy')")
      val compacted = SnapshotLake.manifest(spark, root)
      assert(compacted.files.forall(f => !f.idless))
      spark.sql("UPDATE graft.mig.legacy SET px = 0 WHERE event_id = 2")
      assert(spark.sql("SELECT sum(px) FROM graft.mig.legacy")
        .head().getDouble(0) == 8.0)
    } finally prevRead match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    }
  }

  test("partition-spec evolution: CALL graft.system.repartition_spec " +
      "redirects FUTURE files to the new layout metadata-only; reads " +
      "span both generations (SQL split scan + library union), pruning " +
      "stays correct, DML refuses until optimize migrates, and a column " +
      "left behind in old dirs stays rename-pinned") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pev")
    spark.sql("DROP TABLE IF EXISTS graft.pev.t")
    spark.sql("CREATE TABLE graft.pev.t (y BIGINT, sym STRING, " +
      "close DOUBLE, event_id BIGINT) USING `graft-snapshot` " +
      "PARTITIONED BY (y) TBLPROPERTIES ('statsCols' 'event_id')")
    val root = s"$warehouse/pev/t"
    def rows(n: Int, y0: Long, tag: Double) =
      (0 until n).map(i => (y0 + i % 2, s"s${i % 3}", tag + i, i.toLong))
        .toDF("y", "sym", "close", "event_id")
    rows(12, 2023L, 0.0).createOrReplaceTempView("pev_a")
    spark.sql("INSERT INTO graft.pev.t SELECT * FROM pev_a")
    val genA = SnapshotLake.manifest(spark, root)
    assert(genA.files.forall(_.rel.startsWith("y=")))
    assert(genA.files.forall(f =>
      !f.rel.split('/').exists(_.startsWith("sym="))))
    // evolve the spec: future files land under y=/sym=
    val evolved = spark.sql(
      "CALL graft.system.repartition_spec('pev.t', 'y,sym')").collect()
    assert(evolved.head.getLong(0) == genA.version + 1)
    val mEv = SnapshotLake.manifest(spark, root)
    assert(mEv.op.startsWith("repartition:") &&
      mEv.props("partitionCols") == "y,sym")
    assert(mEv.files.map(_.rel).toSet == genA.files.map(_.rel).toSet,
      "the evolution commit must be metadata-only")
    rows(12, 2025L, 100.0).createOrReplaceTempView("pev_b")
    spark.sql("INSERT INTO graft.pev.t SELECT * FROM pev_b")
    val mixed = SnapshotLake.manifest(spark, root)
    val newFiles = mixed.files.filterNot(f =>
      genA.files.exists(_.rel == f.rel))
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      f.rel.matches("y=\\d+/sym=[^/]+/.*")),
      s"post-evolution files must dir-encode the new spec: ${
        newFiles.map(_.rel)}")
    // SQL reads span both generations through ONE split BatchScan, read
    // vectorized (a ColumnarToRow above the scan serves both)
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    val all = spark.sql("SELECT * FROM graft.pev.t")
    assert(all.queryExecution.executedPlan.toString
      .contains("graft-split-scan"))
    assert(scans(all).size == 1 && all.queryExecution.executedPlan
      .collect { case c: ColumnarToRowExec => c }.nonEmpty)
    assert(all.count() == 24)
    // per-generation values and cross-layout pruning answers: sym is a
    // DATA column in generation A and a DIR column in generation B —
    // the same predicate must see both; one scan serves both generations
    // and the predicate is re-applied above it
    val bySym = spark.sql("SELECT * FROM graft.pev.t WHERE sym = 's1'")
    assert(scans(bySym).size == 1 && bySym.queryExecution.executedPlan
      .collect { case f: FilterExec => f }
      .exists(_.condition.references.exists(_.name == "sym")))
    assert(bySym.count() == 8)
    assert(spark.sql(
      "SELECT sum(close) FROM graft.pev.t WHERE y >= 2025").head.getDouble(0)
      == rows(12, 2025L, 100.0).filter(col("y") >= 2025)
        .agg(org.apache.spark.sql.functions.sum("close")).head.getDouble(0))
    // library read agrees
    assert(SnapshotLake.read(spark, root).count() == 24)
    assert(SnapshotLake.read(spark, root)
      .filter(col("sym") === "s1").count() == 8)
    // time travel to the pre-evolution pin still reads generation A
    assert(spark.sql(
      s"SELECT * FROM graft.pev.t VERSION AS OF ${genA.version}")
      .count() == 12)
    // SQL row-level DML refuses across generations, names the fix
    val eDml = intercept[Exception] {
      spark.sql("UPDATE graft.pev.t SET close = 0 WHERE event_id = 1")
    }
    assert(eDml.getMessage.contains("optimize") ||
      Option(eDml.getCause).exists(_.getMessage.contains("optimize")))
    // a column that LEFT the spec but lives in old dirs stays pinned
    spark.sql("CALL graft.system.repartition_spec('pev.t', 'sym')")
    val eRen = intercept[Exception] {
      spark.sql("ALTER TABLE graft.pev.t RENAME COLUMN y TO yy")
    }
    assert(eRen.getMessage.contains("earlier partition spec") ||
      Option(eRen.getCause).exists(
        _.getMessage.contains("earlier partition spec")))
    // optimize migrates everything to the CURRENT spec; plain scan and
    // DML resume; the freed column renames
    spark.sql("CALL graft.system.optimize('pev.t')")
    val mDone = SnapshotLake.manifest(spark, root)
    assert(mDone.files.forall(f => f.rel.startsWith("sym=") &&
      !f.rel.contains("y=")), s"optimize must migrate: ${
        mDone.files.map(_.rel)}")
    assert(!spark.sql("SELECT * FROM graft.pev.t")
      .queryExecution.executedPlan.toString.contains("graft-split-scan"))
    assert(spark.sql("SELECT * FROM graft.pev.t").count() == 24)
    spark.sql("UPDATE graft.pev.t SET close = -1 WHERE event_id = 1")
    assert(spark.sql(
      "SELECT count(*) FROM graft.pev.t WHERE close = -1").head.getLong(0)
      == 2)
    spark.sql("ALTER TABLE graft.pev.t RENAME COLUMN y TO yy")
    val saved = spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled")
    try {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      assert(spark.sql("SELECT sum(yy) FROM graft.pev.t").head.getLong(0) > 0)
    } finally saved match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    }
  }

  test("SnapshotLake.history and CALL graft.system.history return one " +
      "schema and the same rows: append, merge, merge-on-read delete") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.hist")
    spark.sql("DROP TABLE IF EXISTS graft.hist.t")
    spark.sql("CREATE TABLE graft.hist.t (id BIGINT, v DOUBLE) USING " +
      "`graft-snapshot` TBLPROPERTIES ('dmlMode' 'mor', 'statsCols' 'id')")
    (0L until 20L).map(i => (i, i.toDouble)).toDF("id", "v")
      .createOrReplaceTempView("hist_src")
    spark.sql("INSERT INTO graft.hist.t SELECT * FROM hist_src")
    spark.sql("MERGE INTO graft.hist.t t USING (SELECT id, v + 1 AS v " +
      "FROM hist_src WHERE id < 5) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v")
    spark.sql("DELETE FROM graft.hist.t WHERE id >= 15")
    val lib = SnapshotLake.history(spark, s"$warehouse/hist/t")
    val sql = spark.sql("CALL graft.system.history(`table` => 'hist.t')")
    assert(lib.schema == sql.schema, s"${lib.schema} vs ${sql.schema}")
    assert(lib.schema == SnapshotLake.HistorySchema)
    val rows = lib.collect().toSeq
    assert(rows == sql.collect().toSeq)
    assert(rows.size >= 3 && rows.forall(r => !r.isNullAt(6)))
    assert(rows.last.getAs[Long]("n_delete_files") > 0,
      s"the mor delete must show its sidecars: $rows")
  }
}
