package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Oracle-gated queries for the scale-hardening surface: the salted
  * two-phase aggregation (SURVEY §7.3.3's hot-key mitigation) and the
  * lake-vs-DB reconciliation census (reference
  * pipeline_status_report.py:184-216). Both were previously spec-only;
  * gating them through the DuckDB oracle pins their SEMANTICS, not just
  * their plumbing — the salted path must be indistinguishable from a plain
  * GROUP BY, and the coverage report must reproduce the reference's
  * formula on a deterministic simulated DB state.
  */
object ScaleQueries {

  /** Land `b` in a new snapshot lake as two appends split at the middle
    * of its event_ids, so both carry rows; returns the second's version.
    */
  private def appendHalves(s: SparkSession, root: String, b: DataFrame): Long = {
    val r = b.agg(min("event_id"), max("event_id")).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    Seq(col("event_id") < mid, col("event_id") >= mid).map(half =>
      graft.sinks.SnapshotLake.append(s, root, b.filter(half).repartition(2),
        statsCols = Seq("event_id"))).last
  }

  /** Simulated metadata-DB state (symbol, timeframe, total_records),
    * derived deterministically from the same events the lake side counts
    * so DuckDB can replay it: the DB has registered all bars EXCEPT
    * user_id % 50 == 0 (ingest lag ⇒ MISMATCH rows), never registered the
    * `error` symbol (FILE_ONLY), and still carries a `delisted` symbol the
    * lake no longer has (DB_ONLY).
    */
  private def dbCountsFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val registered = Tables.events(s, dir)
      .filter(col("user_id") % 50 =!= 0 && col("event_type") =!= "error")
      .groupBy(col("event_type").as("symbol"))
      .agg(count(lit(1)).as("total_records"))
      .withColumn("timeframe", lit("1m"))
      .select("symbol", "timeframe", "total_records")
    val dbOnly = Seq(("delisted", "1m", 42L))
      .toDF("symbol", "timeframe", "total_records")
    registered.unionByName(dbOnly)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Two-phase salted aggregation over the hot-key-prone symbol column:
    // must be bit-identical to the direct GROUP BY the oracle runs.
    "sk1_salted_stats" -> ((s, dir) =>
      Skew.saltedStats(Tables.bars(s, dir), col("symbol"), col("event_id"),
          col("close"), buckets = 16)
        .select(col("symbol"), col("n"),
          col("sum").as("sum_close"), col("min").as("min_close"),
          col("max").as("max_close"))),

    // Whole-file archive round trip (reference data_compressor.py +
    // data_storage_manager.py): a bars slice written to parquet,
    // compressed into the reference's .xz whole-file containers,
    // rehydrated by the distributed task path, and read back as an
    // ordinary parquet scan. The oracle reads the ORIGINAL table — a
    // hash match proves the archive cycle is lossless, column types,
    // NTZ timestamps and all. Runs the real file path end-to-end inside
    // the query (scratch dirs are per-run temp; the result is the data).
    "ar1_archive_roundtrip" -> ((s, dir) => {
      val slice = Tables.bars(s, dir)
        .filter(col("event_id") % 7 === 0)
        .select("event_id", "symbol", "ts", "open", "high", "low", "close",
          "volume")
      val work = graft.TempDirs.create("graft-ar1")
      slice.repartition(3).write.mode("overwrite").parquet(s"$work/plain")
      graft.sources.Archive.compressDirectory(s, s"$work/plain",
        s"$work/arch", graft.sources.Archive.Lzma)
      graft.sources.Archive.readArchivedParquet(s, s"$work/arch",
        s"$work/scratch")
        .select("event_id", "symbol", "ts", "open", "high", "low", "close",
          "volume")
    }),

    // Snapshot-lake lifecycle (graft.sinks.SnapshotLake): bars appended in
    // two batches, compacted, vacuumed to the latest version only, read
    // back through the pinned-manifest plan. The oracle reads the ORIGINAL
    // table — a hash match proves the full manifest protocol (stage, lock
    // commit, CAS-merge, retention vacuum) is lossless end-to-end, and the
    // mid-query time-travel asserts version pinning before vacuum.
    "sn1_snapshot_lifecycle" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "open",
        "high", "low", "close", "volume")
      val root = graft.TempDirs.create("graft-sn1") + "/lake"
      val v1 = SnapshotLake.append(s, root, b.filter(col("event_id") % 2 === 0)
        .repartition(3))
      SnapshotLake.append(s, root, b.filter(col("event_id") % 2 =!= 0)
        .repartition(3))
      SnapshotLake.compact(s, root, targetBytes = 256L * 1024 * 1024)
      // pre-vacuum: v1 must still be readable and hold exactly its batch
      require(SnapshotLake.read(s, root, Some(v1))
        .filter(col("event_id") % 2 =!= 0).isEmpty, "time travel leaked rows")
      SnapshotLake.vacuum(s, root, retainLast = 1, staleStageMs = 0)
      SnapshotLake.read(s, root)
    }),

    // Snapshot-lake MERGE: bars land as the base version, an update batch
    // (every 10th event_id, bumped close, version 2) plus an insert batch
    // (brand-new ids) MERGEs in with file-level envelope pruning, the
    // final pinned read must equal the declarative merge the oracle
    // computes. Exercises footer-stats pruning + keep-latest-wins + the
    // lock commit in one relational verdict.
    "sn2_snapshot_merge" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val b = Tables.bars(s, dir)
        .select(col("event_id"), col("symbol"), col("ts"), col("close"))
        .withColumn("ver", lit(1L))
      val root = graft.TempDirs.create("graft-sn2") + "/lake"
      appendHalves(s, root, b) // the update batch prunes to one side
      val updates = b.filter(col("event_id") % 10 === 0)
        .withColumn("close", col("close") + lit(1.0))
        .withColumn("ver", lit(2L))
        .unionByName(b.filter(col("event_id") % 1000 === 7)
          .withColumn("event_id", col("event_id") + lit(1000000000000L))
          .withColumn("ver", lit(2L)))
      SnapshotLake.merge(s, root, updates, keyCols = Seq("event_id"),
        versionCol = "ver", pruneKey = "event_id")
      SnapshotLake.read(s, root)
    }),

    // Incrementally-maintained hourly OHLCV rollup (the reference's
    // TimescaleDB continuous aggregate at lake scale): dbars appended to a
    // base snapshot lake in three TIME slices; the aggregate lake is built
    // from slice 1 and then REFRESHED twice, each refresh folding in only
    // appendsSince(anchor) plus the aggregate files whose bucket envelopes
    // overlap the delta. The oracle computes the full declarative rollup —
    // a hash match proves incremental maintenance (associative decimal /
    // arg-extreme state, manifest provenance, file-pruned combine) equals
    // the one-shot GROUP BY bit-for-bit.
    "mv1_incremental_rollup" -> ((s, dir) => {
      import graft.sinks.{MaterializedRollup => MV, SnapshotLake}
      import graft.functions.epochUs
      val d = QueryFixtures.dbars(s, dir)
        // cast back to NTZ: date_trunc coerces to LTZ, which writes INT96
        // (no footer stats) and would defeat the refresh's file pruning
        .withColumn("bucket_ts",
          date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        // the fixture feeds 1 range agg + 3 slice appends: cache the
        // window-heavy dbars pipeline instead of recomputing it 4x
        .persist()
      val work = graft.TempDirs.create("graft-mv1")
      val base = work + "/base"; val mv = work + "/mv"
      val spec = MV.Spec(
        keyCols = Seq("symbol", "bucket_ts"), pruneKey = "bucket_ts",
        sumCols = Seq("volume"), minCols = Seq("low"), maxCols = Seq("high"),
        orderCol = Some("ts"), firstCols = Seq("open"), lastCols = Seq("close"))
      val r = d.agg(min(epochUs(col("ts"))), max(epochUs(col("ts")))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val us = epochUs(col("ts"))
      SnapshotLake.append(s, base, d.filter(us <= t1).repartition(2),
        statsCols = Seq("bucket_ts"))
      MV.init(s, base, mv, spec)
      SnapshotLake.append(s, base, d.filter(us > t1 && us <= t2).repartition(2),
        statsCols = Seq("bucket_ts"))
      MV.refresh(s, base, mv, spec)
      SnapshotLake.append(s, base, d.filter(us > t2).repartition(2),
        statsCols = Seq("bucket_ts"))
      MV.refresh(s, base, mv, spec)
      d.unpersist()
      MV.readFinal(s, mv, spec).select(
        col("symbol"), col("bucket_ts"),
        col("first_open").as("open"), col("max_high").as("high"),
        col("min_low").as("low"), col("last_close").as("close"),
        col("sum_volume").as("volume"), col("n_rows").as("n_bars"))
    }),

    // MV2 — the distinct-count continuous aggregate (TimescaleDB's
    // hyperloglog column at lake scale): per-(symbol, hour) row counts,
    // exact decimal volume sums AND approx-distinct uid, maintained
    // incrementally — each refresh folds only the delta's HLL registers
    // into per-column companion lakes (elementwise max = idempotent +
    // associative, so incremental == one-shot EXACTLY and replays
    // converge). The oracle computes the full GROUP BY + register
    // replay; a hash match proves the whole maintenance chain.
    "mv2_distinct_rollup" -> ((s, dir) => {
      import graft.sinks.{MaterializedRollup => MV, SnapshotLake}
      import graft.functions.epochUs
      val d = Tables.bars(s, dir)
        .withColumn("bucket_ts",
          date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        .withColumn("uid", col("volume").cast("long"))
        .persist() // 1 range agg + 3 slice appends read it
      val work = graft.TempDirs.create("graft-mv2")
      val base = work + "/base"; val mv = work + "/mv"
      val spec = MV.Spec(
        keyCols = Seq("symbol", "bucket_ts"), pruneKey = "bucket_ts",
        sumCols = Seq("volume"), distinctCols = Seq("uid"))
      val r = d.agg(min(epochUs(col("ts"))), max(epochUs(col("ts")))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val us = epochUs(col("ts"))
      SnapshotLake.append(s, base, d.filter(us <= t1).repartition(2),
        statsCols = Seq("bucket_ts"))
      MV.init(s, base, mv, spec)
      SnapshotLake.append(s, base, d.filter(us > t1 && us <= t2).repartition(2),
        statsCols = Seq("bucket_ts"))
      MV.refresh(s, base, mv, spec)
      SnapshotLake.append(s, base, d.filter(us > t2).repartition(2),
        statsCols = Seq("bucket_ts"))
      MV.refresh(s, base, mv, spec)
      d.unpersist()
      MV.readFinal(s, mv, spec).select(
        col("symbol"), col("bucket_ts"), col("n_rows"),
        col("sum_volume"), col("approx_distinct_uid"))
    }),

    // SN6 — the lake's SQL doorway: bars land through the REGISTERED
    // batch format (df.write.format("graft-snapshot"), two id-ranged
    // appends with footer envelopes), and the result is read back with
    // plain spark.sql over a view of spark.read.format(...) — no
    // library call anywhere on the read path. The WHERE prunes data
    // files through ManifestFileIndex at planning time (plan shape
    // pinned in SnapshotFormatSpec; CREATE TABLE ... USING pinned
    // there too). The oracle computes the same split + filter
    // declaratively — a hash match proves the whole doorway lossless.
    "sn6_sql_format" -> ((s, dir) => {
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "close")
      val root = graft.TempDirs.create("graft-sn6") + "/lake"
      val r = b.agg(min("event_id"), max("event_id")).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      b.filter(col("event_id") < mid).repartition(2)
        .write.format("graft-snapshot").option("statsCols", "event_id")
        .save(root)
      b.filter(col("event_id") >= mid).repartition(2)
        .write.format("graft-snapshot").mode("append")
        .option("statsCols", "event_id").save(root)
      s.read.format("graft-snapshot").load(root)
        .createOrReplaceTempView("sn6_lake")
      s.sql(s"SELECT event_id, symbol, ts, close FROM sn6_lake " +
        s"WHERE event_id < $mid")
    }),

    // SN7 — the round-12 DSv2 doorway end-to-end: a hive-PARTITIONED
    // lake (first half, format write with partitionCols + envelopes),
    // then the second half landed through the SQL WRITE surface —
    // `INSERT INTO` a catalog table is ONE manifest append commit via
    // SnapshotTable's V1Write (footer stats inherited from the head,
    // spec-pinned in SnapshotFormatSpec) — and read back with plain SQL
    // whose symbol predicate prunes partition DIRECTORIES through
    // Spark's own partition pruning (the V1 relation refused
    // partitioned lakes outright). The oracle recomputes declaratively;
    // a hash match proves the partitioned write → SQL insert → SQL
    // read loop lossless.
    "sn7_sql_insert_partitioned" -> ((s, dir) => {
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "close")
      val root = graft.TempDirs.create("graft-sn7") + "/lake"
      val r = b.agg(min("event_id"), max("event_id")).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      b.filter(col("event_id") < mid).repartition(2)
        .write.format("graft-snapshot")
        .option("partitionCols", "symbol").option("statsCols", "event_id")
        .save(root)
      s.sql("DROP TABLE IF EXISTS sn7_lake")
      s.sql(s"CREATE TABLE sn7_lake USING `graft-snapshot` " +
        s"OPTIONS (path '$root')")
      b.filter(col("event_id") >= mid).repartition(2)
        .createOrReplaceTempView("sn7_src")
      s.sql("INSERT INTO sn7_lake " +
        "SELECT event_id, symbol, ts, close FROM sn7_src")
      s.sql("SELECT event_id, symbol, ts, close FROM sn7_lake " +
        "WHERE symbol = (SELECT min(symbol) FROM sn7_lake)")
    }),

    // SN14 — PARTITION-SPEC EVOLUTION (round 16): bars land partitioned
    // by symbol, one metadata-only `repartitionSpec` re-grains the lake
    // to (symbol, y) — derived from the timestamp — and the second half
    // lands under the NEW layout: two dir generations in one lake, read
    // back through one SQL scan (the generalized split scan plans one
    // vectorized parquet scan per generation and permutes onto a
    // canonical column order). The oracle is the plain declarative
    // slice: a hash match proves the cross-generation read — partition
    // values from dirs where a generation encodes them, from data
    // everywhere else — row-exact.
    "sn14_partition_evolution" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val b = Tables.bars(s, dir).select(col("event_id"), col("symbol"),
          col("ts"), col("close"))
        .withColumn("y", year(col("ts")).cast("long"))
      val root = graft.TempDirs.create("graft-sn14") + "/lake"
      val r = b.agg(min("event_id"), max("event_id")).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      SnapshotLake.append(s, root, b.filter(col("event_id") < mid)
        .repartition(2), partitionCols = Seq("symbol"),
        statsCols = Seq("event_id"))
      SnapshotLake.repartitionSpec(s, root, Seq("symbol", "y"))
      SnapshotLake.append(s, root, b.filter(col("event_id") >= mid)
        .repartition(2), partitionCols = Seq("symbol", "y"),
        statsCols = Seq("event_id"))
      s.read.format("graft-snapshot").load(root)
        .filter(col("symbol") >= "sym")
        .select("event_id", "symbol", "ts", "close", "y")
    }),

    // SN8 — SQL `DELETE FROM` through the DSv2 doorway: bars land as two
    // id-ranged format appends (disjoint event_id envelopes), then a
    // ranged+keyed DELETE runs as ONE atomic delete commit whose prune
    // box — derived from the SQL predicate itself — rewrites only the
    // envelope-overlapping files (file-identity survival spec-pinned in
    // SnapshotFormatSpec; untranslatable predicates refuse loudly there
    // too). The oracle applies NOT(predicate) declaratively; a hash
    // match proves the doorway's delete semantics row-exact.
    "sn8_sql_delete" -> ((s, dir) => {
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "close")
      val root = graft.TempDirs.create("graft-sn8") + "/lake"
      val r = b.agg(min("event_id"), max("event_id"), min("symbol")).head
      val (lo, hi, sym) = (r.getLong(0), r.getLong(1), r.getString(2))
      val mid = (lo + hi) / 2
      val (q1, q3) = (lo + (hi - lo) / 4, lo + 3 * ((hi - lo) / 4))
      b.filter(col("event_id") < mid).repartition(2)
        .write.format("graft-snapshot").option("statsCols", "event_id")
        .save(root)
      b.filter(col("event_id") >= mid).repartition(2)
        .write.format("graft-snapshot").mode("append")
        .option("statsCols", "event_id").save(root)
      s.sql("DROP TABLE IF EXISTS sn8_lake")
      s.sql(s"CREATE TABLE sn8_lake USING `graft-snapshot` " +
        s"OPTIONS (path '$root')")
      s.sql(s"DELETE FROM sn8_lake WHERE event_id >= $q1 " +
        s"AND event_id < $q3 AND symbol = '$sym'")
      s.sql("SELECT event_id, symbol, ts, close FROM sn8_lake")
    }),

    // SN9 — the CATALOG lifecycle end-to-end (GraftCatalog, the
    // Delta/Iceberg catalog-plugin pattern): CTAS creates a managed lake
    // under the warehouse with no path options, `ALTER TABLE ADD
    // COLUMNS` widens it as ONE metadata-only evolve commit (old files
    // read the new column as NULL — no byte rewritten), and a
    // post-evolve INSERT lands against the widened schema. The oracle
    // replays the widen declaratively: first half NULL-src, second half
    // tagged — a hash match proves CTAS + evolve + insert lossless.
    // Catalog instances cache per session with their first options, so
    // the warehouse is fixed per JVM and the query is made idempotent
    // with DROP IF EXISTS (Bench runs it twice in one session).
    "sn9_catalog_lifecycle" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft", "graft.sinks.GraftCatalog")
      if (s.conf.getOption("spark.sql.catalog.graft.warehouse").isEmpty)
        s.conf.set("spark.sql.catalog.graft.warehouse",
          graft.TempDirs.create("graft-sn9-wh"))
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "close")
      val r = b.agg(min("event_id"), max("event_id")).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sn9")
      s.sql("DROP TABLE IF EXISTS graft.sn9.t")
      b.filter(col("event_id") < mid).createOrReplaceTempView("sn9_lo")
      b.filter(col("event_id") >= mid).createOrReplaceTempView("sn9_hi")
      s.sql("CREATE TABLE graft.sn9.t USING `graft-snapshot` AS " +
        "SELECT event_id, symbol, ts, close FROM sn9_lo")
      s.sql("ALTER TABLE graft.sn9.t ADD COLUMNS (src STRING)")
      s.sql("INSERT INTO graft.sn9.t " +
        "SELECT event_id, symbol, ts, close, 'late' FROM sn9_hi")
      s.sql("SELECT event_id, symbol, ts, close, src FROM graft.sn9.t")
    }),

    // SN10 — SQL `MERGE INTO` through the row-level doorway
    // (SnapshotRowLevelOperation, the group-based copy-on-write seam):
    // matched keys update in place, unmatched source keys insert, ONE
    // atomic commit, the distributed write through the DSv2 BatchWrite
    // into the lake's stage convention. The oracle replays the upsert
    // declaratively (CASE for updates, UNION for inserts) — a hash
    // match proves the whole MERGE rewrite row-exact, NULL closes and
    // all.
    "sn10_sql_merge" -> ((s, dir) => {
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "close")
      val root = graft.TempDirs.create("graft-sn10") + "/lake"
      b.repartition(4).write.format("graft-snapshot")
        .option("statsCols", "event_id").save(root)
      s.sql("DROP TABLE IF EXISTS sn10_lake")
      s.sql(s"CREATE TABLE sn10_lake USING `graft-snapshot` " +
        s"OPTIONS (path '$root')")
      b.filter(col("event_id") % 10 === 0)
        .unionByName(b.filter(col("event_id") % 1000 === 7)
          .withColumn("event_id", col("event_id") + lit(1000000000000L)))
        .withColumn("close", col("close") + lit(1000.0))
        .createOrReplaceTempView("sn10_src")
      s.sql("""MERGE INTO sn10_lake t USING sn10_src s
               ON t.event_id = s.event_id
               WHEN MATCHED THEN UPDATE SET close = s.close
               WHEN NOT MATCHED THEN INSERT *""")
      s.sql("SELECT event_id, symbol, ts, close FROM sn10_lake")
    }),

    // SN11 — SQL MERGE INTO on a HIVE-PARTITIONED lake through the
    // row-level doorway (round 13): executors route every surviving row
    // to its symbol= directory (partition columns live in the path, not
    // the file, exactly like a library append), runtime group filtering
    // narrows the copy-on-write to the files the join matched, and the
    // untouched partitions ride through by identity — file-identity
    // pinned in SnapshotDmlSpec; here the oracle replays the one-symbol
    // upsert declaratively and the hash match proves the partitioned
    // rewrite row-exact.
    "sn11_sql_merge_partitioned" -> ((s, dir) => {
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "close")
      val root = graft.TempDirs.create("graft-sn11") + "/lake"
      b.repartition(2).write.format("graft-snapshot")
        .option("partitionCols", "symbol").option("statsCols", "event_id")
        .save(root)
      s.sql("DROP TABLE IF EXISTS sn11_lake")
      s.sql(s"CREATE TABLE sn11_lake USING `graft-snapshot` " +
        s"OPTIONS (path '$root')")
      val sym = b.agg(min("symbol")).head.getString(0)
      b.filter(col("symbol") === sym && col("event_id") % 10 === 0)
        .withColumn("close", col("close") + lit(1000.0))
        .unionByName(b.filter(col("symbol") === sym &&
            col("event_id") % 1000 === 7)
          .withColumn("event_id", col("event_id") + lit(1000000000000L))
          .withColumn("close", col("close") + lit(1000.0)))
        .createOrReplaceTempView("sn11_src")
      s.sql("""MERGE INTO sn11_lake t USING sn11_src s
               ON t.event_id = s.event_id
               WHEN MATCHED THEN UPDATE SET close = s.close
               WHEN NOT MATCHED THEN INSERT *""")
      s.sql("SELECT event_id, symbol, ts, close FROM sn11_lake")
    }),

    // SN12 — dynamic partition overwrite (round 13): under
    // partitionOverwriteMode=dynamic, `INSERT OVERWRITE` on a
    // catalog-managed partitioned lake replaces EXACTLY the partitions
    // present in the incoming frame in ONE atomic commit (the
    // nightly-reload idiom — replaceWhere derived from the data itself,
    // stray rows impossible by construction). The frame rewrites one
    // symbol with doubled closes; the oracle stitches untouched symbols
    // to the rewritten one declaratively.
    "sn12_dynamic_overwrite" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft", "graft.sinks.GraftCatalog")
      if (s.conf.getOption("spark.sql.catalog.graft.warehouse").isEmpty)
        s.conf.set("spark.sql.catalog.graft.warehouse",
          graft.TempDirs.create("graft-sn12-wh"))
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "close")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sn12")
      s.sql("DROP TABLE IF EXISTS graft.sn12.t")
      b.createOrReplaceTempView("sn12_seed")
      s.sql("CREATE TABLE graft.sn12.t (event_id BIGINT, ts TIMESTAMP_NTZ, " +
        "close DOUBLE, symbol STRING) USING `graft-snapshot` " +
        "PARTITIONED BY (symbol) TBLPROPERTIES ('statsCols' 'event_id')")
      s.sql("INSERT INTO graft.sn12.t " +
        "SELECT event_id, ts, close, symbol FROM sn12_seed")
      val sym = b.agg(min("symbol")).head.getString(0)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        s.sql("INSERT OVERWRITE graft.sn12.t " +
          s"SELECT event_id, ts, close * 2 AS close, symbol FROM sn12_seed " +
          s"WHERE symbol = '$sym'")
      } finally
        s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.sql("SELECT event_id, ts, close, symbol FROM graft.sn12.t")
    }),

    // SN13 — merge-on-read SQL MERGE (round 14): dmlMode=mor routes the
    // statement through Spark's SupportsDelta seam — matched rows land
    // as position-delete sidecars stacked onto the manifest entries
    // they cover, new row versions and inserts as ordinary appends, and
    // NO data file is rewritten. The fixture is COW's worst case: every
    // 10th key matches, so EVERY seed file holds matched rows and a
    // copy-on-write MERGE would rewrite the whole lake; here the seed
    // files all survive by identity (asserted in-query against the
    // manifest). The oracle replays the upsert declaratively — the hash
    // match proves the sidecar write plus the read-side position
    // anti-join row-exact.
    "sn13_mor_merge" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      s.conf.set("spark.sql.catalog.graft", "graft.sinks.GraftCatalog")
      if (s.conf.getOption("spark.sql.catalog.graft.warehouse").isEmpty)
        s.conf.set("spark.sql.catalog.graft.warehouse",
          graft.TempDirs.create("graft-sn13-wh"))
      val b = Tables.bars(s, dir).select("event_id", "symbol", "ts", "close")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sn13")
      s.sql("DROP TABLE IF EXISTS graft.sn13.t")
      s.sql("CREATE TABLE graft.sn13.t (event_id BIGINT, symbol STRING, " +
        "ts TIMESTAMP_NTZ, close DOUBLE) USING `graft-snapshot` " +
        "TBLPROPERTIES ('dmlMode' 'mor', 'statsCols' 'event_id')")
      b.repartition(8).createOrReplaceTempView("sn13_seed")
      s.sql("INSERT INTO graft.sn13.t " +
        "SELECT event_id, symbol, ts, close FROM sn13_seed")
      val root = s.conf.get("spark.sql.catalog.graft.warehouse") + "/sn13/t"
      val seedRels = SnapshotLake.manifest(s, root).files.map(_.rel).toSet
      b.filter(col("event_id") % 10 === 0)
        .unionByName(b.filter(col("event_id") % 1000 === 7)
          .withColumn("event_id", col("event_id") + lit(1000000000000L)))
        .withColumn("close", col("close") + lit(1000.0))
        .createOrReplaceTempView("sn13_src")
      s.sql("""MERGE INTO graft.sn13.t t USING sn13_src s
               ON t.event_id = s.event_id
               WHEN MATCHED THEN UPDATE SET close = s.close
               WHEN NOT MATCHED THEN INSERT *""")
      val head = SnapshotLake.manifest(s, root)
      require(head.op == "merge:sql-mor",
        s"sn13 must take the merge-on-read path, got ${head.op}")
      require(seedRels.subsetOf(head.files.map(_.rel).toSet),
        "sn13: merge-on-read must not rewrite any seed data file")
      require(head.files.exists(_.deletes.nonEmpty),
        "sn13: matched files must carry position-delete sidecars")
      s.sql("SELECT event_id, symbol, ts, close FROM graft.sn13.t")
    }),

    // Manifest-powered CDC: bars land in two appends (ver 1), a MERGE
    // upserts bumped-close updates + brand-new ids (ver 2), a DELETE
    // removes every 97th key — then diff(pre-merge, head) classifies the
    // row-level changes reading ONLY the files the two manifests don't
    // share. The oracle derives insert/update/delete declaratively from
    // the same deterministic predicates.
    "cdc1_snapshot_diff" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val b = Tables.bars(s, dir)
        .select(col("event_id"), col("symbol"), col("ts"), col("close"))
        .withColumn("ver", lit(1L))
      val root = graft.TempDirs.create("graft-cdc1") + "/lake"
      val vFrom = appendHalves(s, root, b)
      val updates = b.filter(col("event_id") % 10 === 0)
        .withColumn("close", col("close") + lit(1.0))
        .withColumn("ver", lit(2L))
        .unionByName(b.filter(col("event_id") % 1000 === 7)
          .withColumn("event_id", col("event_id") + lit(1000000000000L))
          .withColumn("ver", lit(2L)))
      SnapshotLake.merge(s, root, updates, keyCols = Seq("event_id"),
        versionCol = "ver", pruneKey = "event_id")
      SnapshotLake.delete(s, root, col("event_id") % 97 === 3)
      val vTo = SnapshotLake.latestVersion(s, root).get
      SnapshotLake.diff(s, root, vFrom, vTo, keyCols = Seq("event_id"))
    }),

    // CDC as SQL (round 14): `startingVersion`/`endingVersion` read
    // options on the graft-snapshot format select exactly the rows
    // APPENDED in that version window — the SQL twin of the library's
    // appendsSince, same changelog contract (a rewrite inside the window
    // refuses loudly; one AFTER it is invisible — asserted in-query).
    // Bars land in three deterministic appends; the window [2,3] must
    // return appends 2+3 and exclude both append 1 and the post-window
    // merge. The oracle derives the same slice declaratively.
    "cdc2_sql_changes" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val b = Tables.bars(s, dir)
        .select(col("event_id"), col("symbol"), col("ts"), col("close"))
      val root = graft.TempDirs.create("graft-cdc2") + "/lake"
      val r = b.agg(min("event_id"), max("event_id")).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val t1 = lo + (hi - lo) / 3
      val t2 = lo + 2 * (hi - lo) / 3
      SnapshotLake.append(s, root, b.filter(col("event_id") < t1)
        .repartition(2), statsCols = Seq("event_id")) // v1
      SnapshotLake.append(s, root, b.filter(col("event_id") >= t1 &&
        col("event_id") < t2).repartition(2),
        statsCols = Seq("event_id")) // v2
      SnapshotLake.append(s, root, b.filter(col("event_id") >= t2)
        .repartition(2), statsCols = Seq("event_id")) // v3
      // a post-window rewrite must be INVISIBLE to [2,3] (and the same
      // options across it would refuse — the library contract)
      SnapshotLake.merge(s, root,
        b.filter(col("event_id") % 1000 === 7)
          .withColumn("close", col("close") + lit(9999.0)),
        keyCols = Seq("event_id"), versionCol = "close",
        pruneKey = "event_id") // v4
      require(SnapshotLake.latestVersion(s, root).contains(4L),
        "cdc2 fixture expects versions 1..4")
      s.read.format("graft-snapshot")
        .option("startingVersion", "2").option("endingVersion", "3")
        .load(root)
        .select("event_id", "symbol", "ts", "close")
    }),

    // Row-level CDC as SQL (round 15): the `graft-changes` format
    // replays the FULL diff classification — insert/update/delete
    // across merges and deletes, not just appended windows — through
    // plain spark.read, with `_change_type` tagging each row (Delta's
    // table_changes personality). Same fixture as cdc1, consumed
    // without one library import.
    "cdc3_sql_diff" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val b = Tables.bars(s, dir)
        .select(col("event_id"), col("symbol"), col("ts"), col("close"))
        .withColumn("ver", lit(1L))
      val root = graft.TempDirs.create("graft-cdc3") + "/lake"
      val vFrom = appendHalves(s, root, b)
      val updates = b.filter(col("event_id") % 10 === 0)
        .withColumn("close", col("close") + lit(1.0))
        .withColumn("ver", lit(2L))
        .unionByName(b.filter(col("event_id") % 1000 === 7)
          .withColumn("event_id", col("event_id") + lit(1000000000000L))
          .withColumn("ver", lit(2L)))
      SnapshotLake.merge(s, root, updates, keyCols = Seq("event_id"),
        versionCol = "ver", pruneKey = "event_id")
      SnapshotLake.delete(s, root, col("event_id") % 97 === 3)
      s.read.format("graft-changes")
        .option("fromVersion", vFrom.toString)
        .option("keyCols", "event_id") // toVersion defaults to the head
        .load(root)
    }),

    // STREAMING row-level CDC (round 16): the `readChangeFeed`
    // personality of the graft-snapshot streaming source — per-trigger
    // PAIRWISE version diffs, each row `_change_type`-tagged and
    // `_commit_version`-stamped (Delta's readChangeFeed on readStream,
    // derived from the manifest diff). Same lake shape as cdc3 (two
    // appends, a merge, a delete), consumed LIVE: the stream starts
    // before the DML, sees the initial snapshot as inserts at the
    // then-head, then each commit's classified rows as they land. The
    // oracle replays the whole feed in closed form — including the
    // updated-then-deleted keys, whose delete rows carry the UPDATED
    // values (per-version history, not the window's net effect).
    "cdc4_stream_changes" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val b = Tables.bars(s, dir)
        .select(col("event_id"), col("symbol"), col("ts"), col("close"))
        .withColumn("ver", lit(1L))
      val work = graft.TempDirs.create("graft-cdc4")
      val root = s"$work/lake"
      appendHalves(s, root, b)
      val sinkName = "cdc4_feed_" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      val q = s.readStream.format("graft-snapshot")
        .option("readChangeFeed", "true").option("keyCols", "event_id")
        .load(root)
        .writeStream.format("memory").queryName(sinkName)
        .option("checkpointLocation", s"$work/ckpt").start()
      try {
        q.processAllAvailable() // initial snapshot: inserts @ v2
        val updates = b.filter(col("event_id") % 10 === 0)
          .withColumn("close", col("close") + lit(1.0))
          .withColumn("ver", lit(2L))
          .unionByName(b.filter(col("event_id") % 1000 === 7)
            .withColumn("event_id", col("event_id") + lit(1000000000000L))
            .withColumn("ver", lit(2L)))
        SnapshotLake.merge(s, root, updates, keyCols = Seq("event_id"),
          versionCol = "ver", pruneKey = "event_id")
        q.processAllAvailable() // update/insert rows @ v3
        SnapshotLake.delete(s, root, col("event_id") % 97 === 3)
        q.processAllAvailable() // delete rows @ v4, last values
      } finally q.stop()
      s.table(sinkName)
    }),

    // Bloom-sidecar point lookup: documents land in three HASH-sliced
    // appends (every file's doc_id min/max spans ~the whole domain, so
    // envelope pruning cannot skip anything — the regime the per-file
    // bloom index exists for), then five deterministic keys (four present,
    // one past the max = absent) are served through readPoint, which
    // consults the sidecars and opens only might-contain files. The
    // oracle is the plain IN-list filter — a hash match proves bloom
    // pruning never drops a row (no false negatives), including the
    // absent-key empty result.
    "sn3_point_lookup" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val docs = Tables.documents(s, dir)
        .select("doc_id", "lang", "source", "n_chars")
      val root = graft.TempDirs.create("graft-sn3") + "/lake"
      (0 until 3).foreach { k =>
        SnapshotLake.append(s, root,
          docs.filter(pmod(col("doc_id"), lit(3)) === k).repartition(2),
          statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      }
      val r = docs.agg(min("doc_id"), max("doc_id")).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val keys = Seq(lo, lo + (hi - lo) / 3, lo + (hi - lo) / 2, hi, hi + 1)
        .distinct
      keys.map(k => SnapshotLake.readPoint(s, root, Map("doc_id" -> k)))
        .reduce(_ unionByName _)
    }),

    // Metadata-only aggregates: bars land as two snapshot appends with
    // footer envelopes on (event_id, close); count(*)/min/max are then
    // answered from the MANIFEST alone — summary() runs zero Spark jobs
    // and opens zero data files (it is a driver-side fold over FileEntry
    // rows + envelopes). The oracle computes the same aggregate the slow
    // way, over the actual rows — a hash match proves the manifest's
    // metadata path is exact, the Iceberg/Delta "stats-only scan".
    "sn4_manifest_agg" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val b = Tables.bars(s, dir).select("event_id", "symbol", "close")
      val root = graft.TempDirs.create("graft-sn4") + "/lake"
      SnapshotLake.append(s, root,
        b.filter(col("event_id") % 2 === 0).repartition(3),
        statsCols = Seq("event_id", "close"))
      SnapshotLake.append(s, root,
        b.filter(col("event_id") % 2 =!= 0).repartition(3),
        statsCols = Seq("event_id", "close"))
      SnapshotLake.summary(s, root, Seq("event_id", "close"))
    }),

    // TRANSPARENT metadata-only aggregates (graft.plans.ManifestAggRewrite,
    // active via spark.sql.extensions in the Verify/Bench sessions): the
    // user just writes agg(count/min/max) over a readPruned snapshot scan
    // and the optimizer collapses it to a LocalRelation answered from the
    // manifest — zero data files opened. The oracle computes the same
    // aggregates over the actual rows; a hash match proves the metadata
    // path exact, including the post-aggregate arithmetic (close_span)
    // folded over the substituted literals. Correct with the rule OFF too
    // (it falls back to the scan) — the plan shape itself is pinned in
    // ManifestAggSpec.
    "sn5_agg_rewrite" -> ((s, dir) => {
      import graft.sinks.{ManifestFileIndex, SnapshotLake}
      val b = Tables.bars(s, dir).select("event_id", "close")
      val root = graft.TempDirs.create("graft-sn5") + "/lake"
      SnapshotLake.append(s, root,
        b.filter(col("event_id") % 3 === 0).repartition(2),
        statsCols = Seq("event_id", "close"))
      SnapshotLake.append(s, root,
        b.filter(col("event_id") % 3 =!= 0).repartition(2),
        statsCols = Seq("event_id", "close"))
      ManifestFileIndex.readPruned(s, root)
        .agg(count(lit(1)).as("n_rows"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"),
          min(col("close")).as("min_close"),
          max(col("close")).as("max_close"),
          (max(col("close")) - min(col("close"))).as("close_span"))
    }),

    // HLL1 — mergeable approximate COUNT DISTINCT (graft.operators.Hll):
    // per-event-type distinct users via 512-register HyperLogLog whose
    // register table merges by max (the incremental/rollup-able sketch).
    // The oracle rebuilds the identical registers from the same md5 hash
    // and replays the exact scaled harmonic sum + estimator branches —
    // a hash match proves the sketch math end to end, not just "close".
    "hll1_approx_distinct" -> ((s, dir) =>
      Hll.approxDistinct(Tables.events(s, dir), Seq("event_type"),
        col("user_id"), p = 9)),

    // QS1 — mergeable bottom-k sample quantiles (graft.operators.Sketch):
    // per-symbol close percentiles estimated from a deterministic
    // 2048-row KMV sample keyed by event_id hash. The oracle rebuilds
    // the IDENTICAL sample membership (one ROW_NUMBER window over the
    // same md5 order — the salted two-phase Spark trim is provably the
    // same set) and takes quantile_cont over it — bit-exact, proving
    // sample + estimator end to end.
    "qs1_quantile_sketch" -> ((s, dir) =>
      Sketch.approxQuantiles(Tables.bars(s, dir), Seq("symbol"),
        col("event_id"), col("close"), k = 2048,
        qs = Seq(0.25, 0.5, 0.9))),

    // HH1 — heavy hitters by sample-then-verify: the value distribution
    // floor(sqrt(event_id % 10000)) is deterministically SKEWED (share of
    // v is ~(2v+1)/10000), so the 1.5% threshold cuts mid-distribution.
    // Candidates come from the deterministic bottom-k sample; the
    // reported counts are EXACT (a broadcast-filtered aggregate over just
    // the candidates), so the result is a pure function of the data and
    // the oracle replays it bit-for-bit.
    "hh1_heavy_hitters" -> ((s, dir) =>
      Sketch.heavyHitters(
        Tables.events(s, dir).withColumn("v",
          floor(sqrt(col("event_id") % 10000)).cast("long")),
        Seq("event_type"), col("event_id"), col("v"),
        k = 4096, minShare = 0.015)),

    // PR1 — one-stop dataset profiling (graft.operators.Profile): the
    // ANALYZE/profile report over bars as the tall (column, metric,
    // value) frame — exact count/nulls/min/max, HLL distincts for
    // string/integral columns, sample quantiles for numerics — three
    // bounded passes at any width; every value a pure function of the
    // data, so the oracle replays the whole report bit-for-bit.
    "pr1_profile" -> ((s, dir) =>
      Profile.dataset(Tables.bars(s, dir), keyCol = "event_id",
        cols = Seq("event_id", "symbol", "close", "volume"))),

    // PR4 — the profiler's "top values" field (graft.operators.Profile
    // .frequentValues): per-column frequent values with EXACT counts
    // over the documents corpus's categorical columns, via one exploded
    // (column, value) pass + sample-then-verify heavy hitters — the
    // ANALYZE most_common_vals analog at 100 TB (the near-unique tail
    // never reaches a shuffle). Pure hash membership + exact verify
    // counts ⇒ bit-exact oracle replay.
    "pr4_frequent_values" -> ((s, dir) =>
      Profile.frequentValues(Tables.documents(s, dir), keyCol = "doc_id",
        cols = Seq("lang", "source"), k = 2048, minShare = 0.02)),

    // TS1 — theta/KMV distinct-set overlap (graft.operators.Sketch
    // .thetaOverlap): which customers ordered in BOTH year-parities,
    // estimated from two 4096-hash sketches instead of a distinct-join
    // of the full key sets — the snapshot-overlap / retention question
    // at 100 TB. Pure hash membership ⇒ the oracle replays the row
    // bit-for-bit.
    "ts1_theta_overlap" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      Sketch.thetaOverlap(
        o.filter(year(col("o_orderdate")) % 2 === 0),
        o.filter(year(col("o_orderdate")) % 2 === 1),
        col("o_custkey"), col("o_custkey"))
    }),

    // PR2 — PSI feature drift between two slices (graft.operators
    // .Profile.drift): edges from the baseline sample's deciles, exact
    // bucket counts (one scan per side), smoothed shares and libm-ln PSI
    // contributions — the corpus-version drift monitor. The even/odd
    // event_id slices of bars genuinely differ (close's null/perturbation
    // pattern is event_id-modular), so the PSI is non-trivial.
    "pr2_profile_drift" -> ((s, dir) => {
      val b = Tables.bars(s, dir)
      Profile.drift(
        b.filter(col("event_id") % 2 === 0),
        b.filter(col("event_id") % 2 === 1),
        keyCol = "event_id", cols = Seq("close", "volume"))
    }),

    // WS1 — exact-k weighted sampling without replacement (Sketch
    // .weightedSampleBottomK, Efraimidis–Spirakis): inclusion ∝ weight,
    // membership a pure hash+libm function of the data — the importance-
    // sampling prep step (weight = quality/recency score) with a
    // bit-exact oracle. Weight here is a deterministic 1..7 score.
    "ws1_weighted_sample" -> ((s, dir) =>
      Sketch.weightedSampleBottomK(
        Tables.events(s, dir), Seq("event_type"), col("event_id"),
        (col("event_id") % 7 + 1).cast("double"), k = 2048)
        .select("event_type", "event_id", "user_id")),

    // TS2 — per-group theta overlap (Sketch.thetaOverlapByGroup): the
    // distinct-user overlap per event_type between the even/odd event_id
    // halves of events — ts1's algebra with every step per-group and
    // in-plan (salted per-group KMV trim, full-outer theta resolution,
    // trimmed-set counts); group cardinality never touches the driver.
    "ts2_theta_overlap_group" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      Sketch.thetaOverlapByGroup(
        e.filter(col("event_id") % 2 === 0),
        e.filter(col("event_id") % 2 === 1),
        Seq("event_type"), col("user_id"), col("user_id"), k = 1024)
    }),

    // PR3 — per-group PSI drift, fully distributed (Profile.driftByGroup):
    // the unbounded-group form of pr2 — per-symbol decile edges from the
    // grouped baseline sample, one counts row per (group, side), shares /
    // jlog contributions / the summary fold all in-plan (libm JavaLog ==
    // DuckDB ln bit-for-bit). Nothing collects; group cardinality is free.
    "pr3_group_drift" -> ((s, dir) => {
      val b = Tables.bars(s, dir)
      Profile.driftByGroup(
        b.filter(col("event_id") % 2 === 0),
        b.filter(col("event_id") % 2 === 1),
        Seq("symbol"), keyCol = "event_id", valueCol = "close")
    }),

    // Lake-vs-DB coverage census: file side = actual per-symbol lake rows,
    // DB side = the simulated registration state above.
    "rec1_coverage" -> ((s, dir) => {
      val fileSide = graft.meta.Reconcile.lakeCounts(Tables.bars(s, dir), "1m")
        .withColumnRenamed("lake_rows", "file_rows")
      graft.meta.Reconcile.coverage(fileSide,
        graft.meta.Reconcile.dbCounts(dbCountsFrame(s, dir)))
    })
  )

  val oracle: Map[String, String] = Map(
    "ar1_archive_roundtrip" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts, open, high, low, close, volume
         |FROM bars WHERE event_id % 7 = 0""".stripMargin),

    "sn1_snapshot_lifecycle" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts, open, high, low, close, volume
         |FROM bars""".stripMargin),

    "sn2_snapshot_merge" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts,
         |       CASE WHEN event_id % 10 = 0 THEN close + 1.0 ELSE close END AS close,
         |       CAST(CASE WHEN event_id % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ver
         |FROM bars
         |UNION ALL
         |SELECT event_id + 1000000000000, symbol, ts, close, CAST(2 AS BIGINT) AS ver
         |FROM bars WHERE event_id % 1000 = 7""".stripMargin),

    "mv2_distinct_rollup" -> (Tables.barsSql +
      s""", mvb AS (
         |  SELECT symbol,
         |         make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_ts,
         |         volume, CAST(volume AS BIGINT) AS uid
         |  FROM bars
         |), mvagg AS (
         |  SELECT symbol, bucket_ts, count(*) AS n_rows,
         |         CAST(sum(CAST(volume AS DECIMAL(38,10))) AS DOUBLE) AS sum_volume
         |  FROM mvb GROUP BY 1, 2
         |), mvhll AS (
         |  SELECT * FROM (
         |    WITH ${graft.operators.Hll.approxDistinctSql("mvb",
                Seq("symbol", "bucket_ts"), "CAST(uid AS VARCHAR)")}
         |  )
         |)
         |SELECT a.symbol, a.bucket_ts, a.n_rows, a.sum_volume,
         |       h.approx_distinct AS approx_distinct_uid
         |FROM mvagg a LEFT JOIN mvhll h
         |  ON a.symbol = h.symbol AND a.bucket_ts = h.bucket_ts""".stripMargin),

    "mv1_incremental_rollup" -> (QueryFixtures.dbarsSql +
      s""", agg AS (
         |  SELECT symbol,
         |         make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_ts,
         |         arg_min(open, ts) AS open, max(high) AS high, min(low) AS low,
         |         arg_max(close, ts) AS close,
         |         CAST(sum(CAST(volume AS DECIMAL(38,10))) AS DOUBLE) AS volume,
         |         count(*) AS n_bars
         |  FROM dbars GROUP BY 1, 2
         |)
         |SELECT symbol, bucket_ts, open, high, low, close, volume, n_bars
         |FROM agg""".stripMargin),

    "sn6_sql_format" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts, close
         |FROM bars
         |WHERE event_id <
         |  (SELECT (min(event_id) + max(event_id)) // 2 FROM bars)""".stripMargin),

    "sn14_partition_evolution" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts, close,
         |       CAST(year(ts) AS BIGINT) AS y
         |FROM bars WHERE symbol >= 'sym'""".stripMargin),

    "sn7_sql_insert_partitioned" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts, close
         |FROM bars
         |WHERE symbol = (SELECT min(symbol) FROM bars)""".stripMargin),

    "sn8_sql_delete" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts, close
         |FROM bars
         |WHERE NOT (
         |  event_id >= (SELECT min(event_id) + (max(event_id) - min(event_id)) // 4 FROM bars)
         |  AND event_id < (SELECT min(event_id) + 3 * ((max(event_id) - min(event_id)) // 4) FROM bars)
         |  AND symbol = (SELECT min(symbol) FROM bars))""".stripMargin),

    "sn9_catalog_lifecycle" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts, close, CAST(NULL AS VARCHAR) AS src
         |FROM bars
         |WHERE event_id < (SELECT (min(event_id) + max(event_id)) // 2 FROM bars)
         |UNION ALL
         |SELECT event_id, symbol, ts, close, 'late' AS src
         |FROM bars
         |WHERE event_id >= (SELECT (min(event_id) + max(event_id)) // 2 FROM bars)""".stripMargin),

    "sn10_sql_merge" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts,
         |       CASE WHEN event_id % 10 = 0 THEN close + 1000.0
         |            ELSE close END AS close
         |FROM bars
         |UNION ALL
         |SELECT event_id + 1000000000000, symbol, ts, close + 1000.0
         |FROM bars WHERE event_id % 1000 = 7""".stripMargin),

    "sn11_sql_merge_partitioned" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts,
         |       CASE WHEN symbol = (SELECT min(symbol) FROM bars)
         |             AND event_id % 10 = 0 THEN close + 1000.0
         |            ELSE close END AS close
         |FROM bars
         |UNION ALL
         |SELECT event_id + 1000000000000, symbol, ts, close + 1000.0
         |FROM bars
         |WHERE event_id % 1000 = 7
         |  AND symbol = (SELECT min(symbol) FROM bars)""".stripMargin),

    "sn12_dynamic_overwrite" -> (Tables.barsSql +
      s"""
         |SELECT event_id, ts,
         |       CASE WHEN symbol = (SELECT min(symbol) FROM bars)
         |            THEN close * 2 ELSE close END AS close,
         |       symbol
         |FROM bars""".stripMargin),

    // same upsert as sn10 — the MOR path must be row-identical to COW
    "sn13_mor_merge" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts,
         |       CASE WHEN event_id % 10 = 0 THEN close + 1000.0
         |            ELSE close END AS close
         |FROM bars
         |UNION ALL
         |SELECT event_id + 1000000000000, symbol, ts, close + 1000.0
         |FROM bars WHERE event_id % 1000 = 7""".stripMargin),

    "cdc1_snapshot_diff" -> (Tables.barsSql +
      s"""
         |SELECT 'update' AS change, event_id, symbol, ts,
         |       close + 1.0 AS close, CAST(2 AS BIGINT) AS ver
         |FROM bars WHERE event_id % 10 = 0 AND event_id % 97 <> 3
         |UNION ALL
         |SELECT 'delete', event_id, symbol, ts, close, CAST(1 AS BIGINT)
         |FROM bars WHERE event_id % 97 = 3
         |UNION ALL
         |SELECT 'insert', event_id + 1000000000000, symbol, ts, close,
         |       CAST(2 AS BIGINT)
         |FROM bars
         |WHERE event_id % 1000 = 7 AND (event_id + 1000000000000) % 97 <> 3""".stripMargin),

    "cdc3_sql_diff" -> (Tables.barsSql +
      s"""
         |SELECT 'update' AS _change_type, event_id, symbol, ts,
         |       close + 1.0 AS close, CAST(2 AS BIGINT) AS ver
         |FROM bars WHERE event_id % 10 = 0 AND event_id % 97 <> 3
         |UNION ALL
         |SELECT 'delete', event_id, symbol, ts, close, CAST(1 AS BIGINT)
         |FROM bars WHERE event_id % 97 = 3
         |UNION ALL
         |SELECT 'insert', event_id + 1000000000000, symbol, ts, close,
         |       CAST(2 AS BIGINT)
         |FROM bars
         |WHERE event_id % 1000 = 7 AND (event_id + 1000000000000) % 97 <> 3""".stripMargin),

    "cdc4_stream_changes" -> (Tables.barsSql +
      s"""
         |SELECT 'insert' AS _change_type, event_id, symbol, ts, close,
         |       CAST(1 AS BIGINT) AS ver, CAST(2 AS BIGINT) AS _commit_version
         |FROM bars
         |UNION ALL
         |SELECT 'update', event_id, symbol, ts, close + 1.0,
         |       CAST(2 AS BIGINT), CAST(3 AS BIGINT)
         |FROM bars WHERE event_id % 10 = 0
         |UNION ALL
         |SELECT 'insert', event_id + 1000000000000, symbol, ts, close,
         |       CAST(2 AS BIGINT), CAST(3 AS BIGINT)
         |FROM bars WHERE event_id % 1000 = 7
         |UNION ALL
         |SELECT 'delete', event_id, symbol, ts,
         |       CASE WHEN event_id % 10 = 0 THEN close + 1.0 ELSE close END,
         |       CAST(CASE WHEN event_id % 10 = 0 THEN 2 ELSE 1 END AS BIGINT),
         |       CAST(4 AS BIGINT)
         |FROM bars WHERE event_id % 97 = 3
         |UNION ALL
         |SELECT 'delete', event_id + 1000000000000, symbol, ts, close,
         |       CAST(2 AS BIGINT), CAST(4 AS BIGINT)
         |FROM bars
         |WHERE event_id % 1000 = 7 AND (event_id + 1000000000000) % 97 = 3""".stripMargin),

    "cdc2_sql_changes" -> (Tables.barsSql +
      s"""
         |SELECT event_id, symbol, ts, close
         |FROM bars,
         |     (SELECT min(event_id) AS lo, max(event_id) AS hi
         |      FROM bars) bnd
         |WHERE event_id >= bnd.lo + (bnd.hi - bnd.lo) // 3""".stripMargin),

    "sn3_point_lookup" ->
      s"""WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d, b
         |WHERE d.doc_id IN (b.lo, b.lo + (b.hi - b.lo) // 3,
         |                   b.lo + (b.hi - b.lo) // 2, b.hi, b.hi + 1)""".stripMargin,

    "sn4_manifest_agg" -> (Tables.barsSql +
      s"""
         |SELECT count(*) AS n_rows,
         |       CAST(min(event_id) AS DOUBLE) AS min_event_id,
         |       CAST(max(event_id) AS DOUBLE) AS max_event_id,
         |       min(close) AS min_close,
         |       max(close) AS max_close
         |FROM bars""".stripMargin),

    "sn5_agg_rewrite" -> (Tables.barsSql +
      s"""
         |SELECT count(*) AS n_rows,
         |       min(event_id) AS min_event_id,
         |       max(event_id) AS max_event_id,
         |       min(close) AS min_close,
         |       max(close) AS max_close,
         |       max(close) - min(close) AS close_span
         |FROM bars""".stripMargin),

    "hll1_approx_distinct" -> ("WITH " + Hll.approxDistinctSql(
      "events", Seq("event_type"), "CAST(user_id AS VARCHAR)", p = 9)),

    "qs1_quantile_sketch" -> (Tables.barsSql + ",\n" +
      Sketch.approxQuantilesSql("bars", Seq("symbol"), "event_id", "close",
        k = 2048, qs = Seq(0.25, 0.5, 0.9))),

    "hh1_heavy_hitters" -> ("WITH ev AS (SELECT event_type, event_id, " +
      "CAST(floor(sqrt(event_id % 10000)) AS BIGINT) AS v FROM events),\n" +
      Sketch.heavyHittersSql("ev", Seq("event_type"), "event_id", "v",
        k = 4096, minShare = 0.015)),

    "pr4_frequent_values" -> ("WITH " +
      Profile.frequentValuesSql("documents", "doc_id",
        Seq("lang", "source"), k = 2048, minShare = 0.02)),

    "ts1_theta_overlap" -> (
      "WITH theta_oa AS (SELECT * FROM orders WHERE year(o_orderdate) % 2 = 0),\n" +
      "theta_ob AS (SELECT * FROM orders WHERE year(o_orderdate) % 2 = 1),\n" +
      Sketch.thetaOverlapSql("theta_oa", "theta_ob",
        "o_custkey", "o_custkey")),

    "pr2_profile_drift" -> (Tables.barsSql + ",\n" +
      "drift_base AS (SELECT * FROM bars WHERE event_id % 2 = 0),\n" +
      "drift_cur AS (SELECT * FROM bars WHERE event_id % 2 = 1),\n" +
      Profile.driftSql("drift_base", "drift_cur", "event_id",
        Seq("close", "volume"))),

    "ws1_weighted_sample" -> ("WITH " + Sketch.weightedSampleSql(
      "events", Seq("event_type"), "event_id", "(event_id % 7 + 1)",
      k = 2048, outCols = Seq("event_type", "event_id", "user_id"))),

    "ts2_theta_overlap_group" -> (
      "WITH theta_ea AS (SELECT * FROM events WHERE event_id % 2 = 0),\n" +
      "theta_eb AS (SELECT * FROM events WHERE event_id % 2 = 1),\n" +
      Sketch.thetaOverlapByGroupSql("theta_ea", "theta_eb",
        Seq("event_type"), "user_id", "user_id", k = 1024)),

    "pr3_group_drift" -> (Tables.barsSql + ",\n" +
      "drift_base AS (SELECT * FROM bars WHERE event_id % 2 = 0),\n" +
      "drift_cur AS (SELECT * FROM bars WHERE event_id % 2 = 1),\n" +
      Profile.driftByGroupSql("drift_base", "drift_cur", Seq("symbol"),
        "event_id", "close")),

    "pr1_profile" -> (Tables.barsSql + "\n" +
      Profile.datasetSql("bars", "event_id",
        target = Seq("event_id", "symbol", "close", "volume"),
        numeric = Seq("event_id", "close", "volume"),
        hllable = Seq("event_id", "symbol"))),

    "sk1_salted_stats" -> (Tables.barsSql +
      s"""
         |SELECT symbol, count(*) AS n,
         |       CAST(sum(CAST(close AS DECIMAL(38,10))) AS DOUBLE) AS sum_close,
         |       min(close) AS min_close, max(close) AS max_close
         |FROM bars GROUP BY symbol""".stripMargin),

    "rec1_coverage" -> (Tables.barsSql +
      s""", file_side AS (
         |  SELECT symbol, '1m' AS interval, count(*) AS file_rows
         |  FROM bars GROUP BY symbol
         |), db_side AS (
         |  SELECT event_type AS symbol, '1m' AS interval,
         |         count(*) AS db_rows
         |  FROM events
         |  WHERE user_id % 50 <> 0 AND event_type <> 'error'
         |  GROUP BY 1
         |  UNION ALL
         |  SELECT 'delisted', '1m', 42
         |)
         |SELECT coalesce(f.symbol, d.symbol) AS symbol,
         |       coalesce(f.interval, d.interval) AS interval,
         |       f.file_rows, d.db_rows,
         |       CASE WHEN f.file_rows IS NOT NULL AND f.file_rows > 0
         |            THEN CAST(d.db_rows AS DOUBLE) / CAST(f.file_rows AS DOUBLE) * 100.0
         |       END AS coverage_pct,
         |       CASE WHEN f.file_rows IS NULL THEN 'DB_ONLY'
         |            WHEN d.db_rows IS NULL THEN 'FILE_ONLY'
         |            WHEN f.file_rows = d.db_rows THEN 'MATCH'
         |            ELSE 'MISMATCH' END AS status
         |FROM file_side f FULL OUTER JOIN db_side d
         |  ON f.symbol = d.symbol AND f.interval = d.interval""".stripMargin)
  )
}
