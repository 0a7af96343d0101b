package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sinks.SnapshotLake

/** Manifest-pinned snapshot lake: serializable reads, lock-protocol
  * commits, non-blocking compaction, retention-bounded vacuum.
  */
class SnapshotLakeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def bars(month: Int, n: Int, tag: Double) =
    (1 to n).map(i => (s"sym${i % 3}", ts(f"2024-$month%02d-10 00:0${i % 6}:00"),
      tag + i)).toDF("symbol", "ts", "close")

  private def freshRoot(): String =
    TempDirs.create("snap") + "/lake"

  // ---------------------------------------------------------------- probes

  test("platform probe: rename-onto-existing is FS-specific; " +
      "createNewFile is the exclusive primitive the protocol rests on") {
    val d = TempDirs.create("renprobe")
    val src = new Path(d, "src"); val dst = new Path(d, "dst")
    val o1 = fs.create(src); o1.write("SRC".getBytes); o1.close()
    val o2 = fs.create(dst); o2.write("DST".getBytes); o2.close()
    // Hadoop's ChecksumFileSystem wrapper happens to refuse here (false),
    // but raw POSIX rename(2) clobbers and S3 has no rename — the commit
    // protocol must not bet on either behavior, and doesn't: it only ever
    // renames onto a name it exclusively owns via the lock.
    val renamed = fs.rename(src, dst)
    val in = fs.open(dst); val buf = new Array[Byte](8)
    val n = in.read(buf); in.close()
    assert(!renamed && new String(buf, 0, n) == "DST")
    // createNewFile IS exclusive everywhere (O_CREAT|O_EXCL / namenode op)
    val claim = new Path(d, "claim")
    assert(fs.createNewFile(claim))
    assert(!fs.createNewFile(claim))
  }

  // ------------------------------------------------------- core lifecycle

  test("append/read/time-travel: latest is the union, old versions pinned") {
    val root = freshRoot()
    val v1 = SnapshotLake.append(spark, root, bars(1, 10, 100.0))
    val v2 = SnapshotLake.append(spark, root, bars(2, 5, 200.0))
    assert((v1, v2) == (1L, 2L))
    assert(SnapshotLake.read(spark, root).count() == 15)
    assert(SnapshotLake.read(spark, root, Some(1)).count() == 10)
    val h = SnapshotLake.history(spark, root)
      .select("version", "parent", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(h == Seq((1L, 0L, "append"), (2L, 1L, "append")))
    // the pinned plan reads EXACTLY the manifest's files — no listing
    val m1 = SnapshotLake.manifest(spark, root, Some(1))
    val planned = SnapshotLake.read(spark, root, Some(1)).inputFiles
      .map(u => new Path(u).toUri.getPath.replaceFirst("^/+", "/")).toSet
    assert(planned == m1.files.map(f => s"$root/data/${f.rel}").toSet)
  }

  test("schema drift on append fails loudly") {
    val root = freshRoot()
    SnapshotLake.append(spark, root, bars(1, 3, 0.0))
    val drifted = bars(2, 3, 0.0).withColumn("extra", lit(1))
    val e = intercept[IllegalArgumentException] {
      SnapshotLake.append(spark, root, drifted)
    }
    assert(e.getMessage.contains("schema drift"))
  }

  test("hive-partitioned appends keep partition columns through the " +
      "pinned read") {
    val root = freshRoot()
    val df = bars(1, 6, 0.0).unionByName(bars(2, 6, 50.0))
      .withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
    SnapshotLake.append(spark, root, df, partitionCols = Seq("year", "month"))
    val m = SnapshotLake.manifest(spark, root)
    assert(m.files.forall(_.rel.startsWith("year=2024/month=")))
    val back = SnapshotLake.read(spark, root)
    assert(back.columns.toSet == Set("symbol", "ts", "close", "year", "month"))
    assert(back.filter(col("month") === 2).count() == 6)
    // partition pruning still applies on the explicit file-list plan
    val pruned = back.filter(col("month") === 2)
    assert(pruned.count() == 6)
  }

  // --------------------------------------- maintenance vs readers contract

  test("compact is invisible to a pinned reader; latest sees fewer files") {
    val root = freshRoot()
    (1 to 4).foreach(i => SnapshotLake.append(spark, root,
      bars(i, 8, i * 10.0).repartition(3)))
    val pinned = SnapshotLake.read(spark, root, Some(4)) // planned pre-compact
    val filesBefore = SnapshotLake.manifest(spark, root).files.size
    val (v, before, after) = SnapshotLake.compact(spark, root,
      targetBytes = Long.MaxValue) // everything into one file
    assert(v == 5 && before == filesBefore && after == 1)
    // the pre-compact plan executes AFTER the compact without error or
    // row loss — no FileNotFound, no re-plan
    assert(pinned.count() == 32)
    assert(SnapshotLake.read(spark, root).count() == 32)
    assert(SnapshotLake.manifest(spark, root).files.size == 1)
    assert(SnapshotLake.read(spark, root).agg(sum("close")).head.getDouble(0)
      == pinned.agg(sum("close")).head.getDouble(0))
  }

  test("racing appends all land; compact racing appends drops no rows") {
    val root = freshRoot()
    SnapshotLake.append(spark, root, bars(1, 4, 0.0))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // 4 concurrent appenders + 1 compactor, all through the lock protocol
    val appends = (2 to 5).map(i => Future {
      SnapshotLake.append(spark, root, bars(i, 4, i * 100.0))
    })
    val compaction = Future {
      SnapshotLake.compact(spark, root, targetBytes = Long.MaxValue)
    }
    Await.result(Future.sequence(appends :+ compaction.map(_._1)), 120.seconds)
    val finalDf = SnapshotLake.read(spark, root)
    assert(finalDf.count() == 20) // nothing dropped, nothing doubled
    assert(finalDf.select("symbol", "ts", "close").distinct().count() == 20)
    // versions dense 1..6
    assert(SnapshotLake.versions(spark, root) == (1L to 6L))
  }

  test("8-writer commit storm: versions stay dense, rows exactly-once — " +
      "covers the local-FS lock TOCTOU (createNewFile is exists+create, " +
      "so the publish rename is the real CAS)") {
    val root = freshRoot()
    val (writers, perWriter) = (8, 4)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((0 until writers).map(w => Future {
      (0 until perWriter).foreach { i =>
        val base = w * 1000000L + i * 1000L
        SnapshotLake.append(spark, root,
          spark.range(base, base + 50L, 1, 1).toDF("id"),
          statsCols = Seq("id"))
      }
    })), 300.seconds)
    // density: every commit won exactly one version, none double-numbered
    assert(SnapshotLake.versions(spark, root) ==
      (1L to writers.toLong * perWriter))
    val df = SnapshotLake.read(spark, root)
    assert(df.count() == writers.toLong * perWriter * 50)
    assert(df.distinct().count() == writers.toLong * perWriter * 50)
  }

  test("vacuum deletes only unreferenced files; dropped versions fail " +
      "loudly; retained pinned reads keep working") {
    val root = freshRoot()
    (1 to 3).foreach(i => SnapshotLake.append(spark, root, bars(i, 6, 0.0)))
    SnapshotLake.compact(spark, root, targetBytes = Long.MaxValue) // v4
    val dataFiles = fs.listFiles(new Path(root, "data"), true)
    def countData(): Int = {
      val it = fs.listFiles(new Path(root, "data"), true)
      var n = 0; while (it.hasNext) { it.next(); n += 1 }; n
    }
    val beforeVacuum = countData()
    assert(beforeVacuum > 1) // pre-compact files still on disk
    val (deleted, dropped) = SnapshotLake.vacuum(spark, root, retainLast = 1,
      staleStageMs = 0)
    assert(deleted == beforeVacuum - 1 && dropped == 3)
    assert(countData() == 1)
    assert(SnapshotLake.read(spark, root).count() == 18)
    val e = intercept[IllegalArgumentException] {
      SnapshotLake.read(spark, root, Some(2))
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("merge rewrites only envelope-overlapping files; untouched files " +
      "survive by identity; keep-latest-wins") {
    val root = freshRoot()
    def rows(ids: Range, v: Long, pay: Double) =
      ids.map(i => (i.toLong, v, pay + i)).toDF("id", "v", "payload")
    // three appends with disjoint id envelopes
    SnapshotLake.append(spark, root, rows(1 to 100, 1L, 0.0),
      statsCols = Seq("id"))
    SnapshotLake.append(spark, root, rows(1001 to 1100, 1L, 0.0),
      statsCols = Seq("id"))
    SnapshotLake.append(spark, root, rows(5001 to 5100, 1L, 0.0),
      statsCols = Seq("id"))
    val before = SnapshotLake.manifest(spark, root).files
    val pinned = SnapshotLake.read(spark, root, Some(3))
    // updates hit only the middle envelope + one brand-new id; one stale
    val updates = Seq(
      (1001L, 2L, 777.0),   // wins (higher v)
      (1050L, 0L, -1.0),    // stale — loses
      (2000L, 1L, 42.0)     // insert (inside no existing envelope... gap)
    ).toDF("id", "v", "payload")
    val (v, rewritten, untouched) = SnapshotLake.merge(spark, root, updates,
      keyCols = Seq("id"), versionCol = "v", pruneKey = "id")
    // updates range [1001, 2000] overlaps ONLY the middle append's files
    val midFiles = before.filter(f =>
      f.stats("id")._2 >= 1001.0 && f.stats("id")._1 <= 2000.0)
    assert(rewritten == midFiles.size &&
      untouched == before.size - midFiles.size)
    val after = SnapshotLake.manifest(spark, root).files.map(_.rel).toSet
    // untouched files carried by identity (same rel path, not rewritten)
    assert(before.filterNot(midFiles.contains).forall(f => after(f.rel)))
    assert(midFiles.forall(f => !after(f.rel)))
    val got = SnapshotLake.read(spark, root)
    assert(got.count() == 301) // 300 base + 1 insert
    assert(got.filter(col("id") === 1001).select("v", "payload").head
      == org.apache.spark.sql.Row(2L, 777.0))     // update won
    assert(got.filter(col("id") === 1050).select("v").head.getLong(0) == 1L) // stale lost
    assert(got.filter(col("id") === 2000).count() == 1)                     // insert
    // a reader pinned pre-merge still sees the pre-merge world
    assert(pinned.count() == 300)
    assert(pinned.filter(col("id") === 1001).select("payload").head
      .getDouble(0) == 1001.0)
    assert(v == 4)
  }

  test("merge: equal-version batch duplicates pick one winner on every lake") {
    // two batch rows share (symbol, ts) AND v — the winner must be the
    // same row every time (whole-row hash tie-break), not whichever task
    // finished first
    val dup = Seq(
      ("sym1", ts("2024-05-01 00:00:00"), 111.0, 5L),
      ("sym1", ts("2024-05-01 00:00:00"), 999.0, 5L)
    ).toDF("symbol", "ts", "close", "v")
    val picks = (1 to 3).map { _ =>
      val root = freshRoot()
      SnapshotLake.append(spark, root, bars(1, 4, 0.0).withColumn("v", lit(1L)))
      SnapshotLake.merge(spark, root, dup, keyCols = Seq("symbol", "ts"),
        versionCol = "v", pruneKey = "ts")
      SnapshotLake.read(spark, root).filter(month(col("ts")) === 5)
        .select("close").collect().map(_.getDouble(0)).toSeq
    }
    assert(picks.forall(_.length == 1))
    assert(picks.distinct.size == 1, s"nondeterministic winners: $picks")
  }

  test("merge: an empty update batch publishes no version, rows unchanged") {
    val root = freshRoot()
    val base = bars(1, 6, 0.0).withColumn("v", lit(1L))
    SnapshotLake.append(spark, root, base)
    val before = SnapshotLake.read(spark, root).collect().map(_.toString).sorted
    val (v, rewritten, _) = SnapshotLake.merge(spark, root,
      base.filter(col("v") < 0), keyCols = Seq("symbol", "ts"),
      versionCol = "v", pruneKey = "ts")
    assert(v == 1 && rewritten == 0)
    assert(SnapshotLake.versions(spark, root) == Seq(1L))
    val after = SnapshotLake.read(spark, root).collect().map(_.toString).sorted
    assert(after.sameElements(before))
  }

  test("conflicting rewrite detected: a merge landing between compact's " +
      "base read and its commit aborts the stale commit, retries from the " +
      "new head, and leaves no duplicated rows and no orphaned files") {
    val root = freshRoot()
    def rows(ids: Range, v: Long, pay: Double) =
      ids.map(i => (i.toLong, v, pay + i)).toDF("id", "v", "payload")
    SnapshotLake.append(spark, root, rows(1 to 100, 1L, 0.0),
      statsCols = Seq("id"))                                   // v1
    SnapshotLake.append(spark, root, rows(1001 to 1100, 1L, 0.0),
      statsCols = Seq("id"))                                   // v2
    // the rival: rewrites the second append's files (id 1001 updated),
    // landing between compact's base read (v2) and its commit — the
    // exact interleaving where the old build published the merged-away
    // row 1001 back into the lake next to the merge's replacement file.
    var v3 = -1L
    SnapshotLake.beforeRewriteCommit.set { () =>
      v3 = SnapshotLake.merge(spark, root,
        Seq((1001L, 2L, 777.0)).toDF("id", "v", "payload"),
        keyCols = Seq("id"), versionCol = "v", pruneKey = "id")._1
    }
    val (v4, _, _) =
      try SnapshotLake.compact(spark, root, lockExpiryMs = 60000L)
      finally SnapshotLake.beforeRewriteCommit.set(() => ())
    assert(v3 == 3)
    assert(v4 == 4)
    val got = SnapshotLake.read(spark, root)
    assert(got.count() == 200)                        // no resurrection
    val r1001 = got.filter(col("id") === 1001).collect()
    assert(r1001.length == 1 && r1001.head.getLong(1) == 2L &&
      r1001.head.getDouble(2) == 777.0)               // merge result intact
    // the aborted attempt's staged files were deleted: every data file
    // is referenced by some retained manifest
    val referenced = (1L to 4L).flatMap(v =>
      SnapshotLake.manifest(spark, root, Some(v)).files.map(_.rel)).toSet
    val dd = new Path(root, "data")
    def walk(p: Path, rel: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath, s"$rel${st.getPath.getName}/")
        else Seq(s"$rel${st.getPath.getName}")
      }
    val onDisk = walk(dd, "").toSet
    assert(onDisk.subsetOf(referenced),
      s"orphaned staged files survived: ${onDisk.diff(referenced)}")
  }

  test("delete prunes to the envelope, rewrites without matches, no-ops " +
      "cleanly; restore rolls back by manifest alone") {
    val root = freshRoot()
    def rows(ids: Range) = ids.map(i => (i.toLong, s"u${i % 7}")).toDF("id", "user")
    SnapshotLake.append(spark, root, rows(1 to 100), statsCols = Seq("id"))
    SnapshotLake.append(spark, root, rows(1001 to 1100), statsCols = Seq("id"))
    val before = SnapshotLake.manifest(spark, root).files
    // GDPR-style: remove one id, prune by its value
    val (v3, deleted, rewritten, untouched) = SnapshotLake.delete(spark, root,
      col("id") === 1050, pruneBox = Map("id" -> (1050.0, 1050.0)))
    assert(v3 == 3 && deleted == 1)
    // pruning is per-FILE: only files whose envelope contains 1050 rewrite
    val hit = before.filter(f =>
      f.stats("id")._1 <= 1050.0 && f.stats("id")._2 >= 1050.0)
    assert(rewritten == hit.size && untouched == before.size - hit.size)
    val after = SnapshotLake.manifest(spark, root).files.map(_.rel).toSet
    assert(before.filterNot(hit.contains).forall(f => after(f.rel))) // identity
    assert(SnapshotLake.read(spark, root).count() == 199)
    assert(SnapshotLake.read(spark, root).filter(col("id") === 1050).isEmpty)
    // no-match delete publishes NO version (no empty diffs in history)
    val (v4, d0, r0, _) = SnapshotLake.delete(spark, root,
      col("id") === 99999, pruneBox = Map("id" -> (99999.0, 99999.0)))
    assert(v4 == 3 && d0 == 0 && r0 == 0)
    assert(SnapshotLake.latestVersion(spark, root).contains(3L))
    // restore to pre-delete: metadata-only rollback, history preserved
    val v5 = SnapshotLake.restore(spark, root, 2)
    assert(v5 == 4)
    assert(SnapshotLake.read(spark, root).count() == 200)
    assert(SnapshotLake.read(spark, root, Some(3)).count() == 199) // still there
    assert(SnapshotLake.manifest(spark, root).op == "restore:v2")
  }

  test("readPruned: ordinary filters prune files through the manifest " +
      "stats at planning time — rows identical to the unpruned read") {
    import graft.sinks.ManifestFileIndex
    val root = freshRoot()
    SnapshotLake.append(spark, root, bars(1, 10, 0.0), statsCols = Seq("close"))
    SnapshotLake.append(spark, root, bars(2, 10, 100.0), statsCols = Seq("close"))
    SnapshotLake.append(spark, root, bars(3, 10, 1000.0), statsCols = Seq("close"))
    val nAll = SnapshotLake.manifest(spark, root).files.size
    val pruned = ManifestFileIndex.readPruned(spark, root)
      .filter(col("close") >= 100.0 && col("close") <= 200.0)
    // end-to-end: the physical scan planned only the overlapping files
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = pruned.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size == 1)
      // collect() executes THIS dataset's plan (count() would build a new
      // one and leave our scan node's metrics untouched)
      assert(pruned.collect().length == 10)
      val numFiles = scans.head.metrics("numFiles").value
      assert(numFiles < nAll && numFiles > 0,
        s"expected pruning: $numFiles of $nAll files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // row identity vs the explicit-list read
    val full = SnapshotLake.read(spark, root)
      .filter(col("close") >= 100.0 && col("close") <= 200.0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // timestamp filters prune too (Catalyst literals arrive as micros)
    val tsPruned = {
      val r2 = freshRoot()
      SnapshotLake.append(spark, r2, bars(1, 5, 0.0), statsCols = Seq("ts"))
      SnapshotLake.append(spark, r2, bars(6, 5, 0.0), statsCols = Seq("ts"))
      val df = ManifestFileIndex.readPruned(spark, r2)
        .filter(col("ts") >= ts("2024-06-01 00:00:00"))
      df.count() == 5 && df.inputFiles.nonEmpty
    }
    assert(tsPruned)
    // partitioned lakes refuse loudly, naming the alternative
    val r3 = freshRoot()
    SnapshotLake.append(spark, r3, bars(1, 4, 0.0)
      .withColumn("m", month(col("ts"))), partitionCols = Seq("m"))
    val e = intercept[IllegalArgumentException] {
      ManifestFileIndex.readPruned(spark, r3)
    }
    assert(e.getMessage.contains("readBox"))
  }

  test("appendsSince tails exactly the new rows; refuses across rewrites") {
    val root = freshRoot()
    SnapshotLake.append(spark, root, bars(1, 5, 0.0))   // v1
    SnapshotLake.append(spark, root, bars(2, 5, 10.0))  // v2
    SnapshotLake.append(spark, root, bars(3, 5, 20.0))  // v3
    val delta = SnapshotLake.appendsSince(spark, root, 1)
    assert(delta.count() == 10)
    val expect = bars(2, 5, 10.0).unionByName(bars(3, 5, 20.0))
    assert(delta.exceptAll(expect).isEmpty && expect.exceptAll(delta).isEmpty)
    assert(SnapshotLake.appendsSince(spark, root, 3).count() == 0)
    // schema evolution mid-stream: the tail reads with the widened schema
    SnapshotLake.append(spark, root,
      bars(4, 2, 30.0).withColumn("src", lit("x")), evolve = true) // v4
    val widened = SnapshotLake.appendsSince(spark, root, 3)
    assert(widened.columns.contains("src") && widened.count() == 2)
    // a compact breaks file provenance — loud refusal naming the version
    SnapshotLake.compact(spark, root, targetBytes = Long.MaxValue) // v5
    val e = intercept[IllegalArgumentException] {
      SnapshotLake.appendsSince(spark, root, 3)
    }
    assert(e.getMessage.contains("v5=compact"))
    // but tailing from AFTER the compact works again
    SnapshotLake.append(spark, root,
      bars(5, 3, 40.0).withColumn("src", lit("y"))) // v6
    assert(SnapshotLake.appendsSince(spark, root, 5).count() == 3)
  }

  // ------------------------------------------------------- crash recovery

  test("crashed committer: stale lock is broken after expiry; lock with a " +
      "published manifest is broken immediately") {
    val root = freshRoot()
    SnapshotLake.append(spark, root, bars(1, 3, 0.0))
    val mdir = new Path(root, "_manifests")
    // (a) owner died mid-commit: fresh lock for v2, no manifest — append
    // with a short lease breaks it and proceeds
    val lock2 = new Path(mdir, "v00000002.lock")
    assert(fs.createNewFile(lock2))
    val t0 = System.nanoTime
    val v2 = SnapshotLake.append(spark, root, bars(2, 3, 0.0),
      lockExpiryMs = 200)
    assert(v2 == 2)
    assert((System.nanoTime - t0) / 1e6 >= 200) // actually waited the lease out
    // (b) owner died after publish, before releasing: lock v3 AND
    // manifest v3 both exist — the version is consumed, so the dead lock
    // never blocks anyone (head already includes v3); vacuum sweeps it
    val m3bytes = {
      val in = fs.open(new Path(mdir, "v00000002.manifest"))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      Iterator.continually(in.read(buf)).takeWhile(_ > 0)
        .foreach(out.write(buf, 0, _))
      in.close(); out.toByteArray
    }
    val v3m = new String(m3bytes).replace("version=2", "version=3")
      .replace("parent=1", "parent=2")
    val o = fs.create(new Path(mdir, "v00000003.manifest"), true)
    o.write(v3m.getBytes); o.close()
    assert(fs.createNewFile(new Path(mdir, "v00000003.lock")))
    val v4 = SnapshotLake.append(spark, root, bars(3, 3, 0.0),
      lockExpiryMs = 60000) // long lease: must NOT wait — version consumed
    assert(v4 == 4)
    SnapshotLake.vacuum(spark, root, retainLast = 1, staleStageMs = 0)
    assert(!fs.exists(new Path(mdir, "v00000003.lock")))
  }

  // ------------------------------------- stats skipping / evolution / stream

  test("manifest footer stats prune box reads to the overlapping files " +
      "only; row identity preserved") {
    val root = freshRoot()
    // three appends with disjoint close ranges -> three prunable envelopes
    SnapshotLake.append(spark, root, bars(1, 10, 0.0),
      statsCols = Seq("close"))    // close in [1, 10]
    SnapshotLake.append(spark, root, bars(2, 10, 100.0),
      statsCols = Seq("close"))    // close in [101, 110]
    SnapshotLake.append(spark, root, bars(3, 10, 1000.0),
      statsCols = Seq("close"))    // close in [1001, 1010]
    val all = SnapshotLake.manifest(spark, root).files
    assert(all.forall(_.stats.contains("close")))
    val box = Map("close" -> (100.0, 200.0))
    val cands = SnapshotLake.candidateEntries(spark, root, box)
    assert(cands.size < all.size && cands.nonEmpty)
    val pruned = SnapshotLake.readBox(spark, root, box)
    val full = SnapshotLake.read(spark, root)
      .filter(col("close") >= 100.0 && col("close") <= 200.0)
    assert(pruned.count() == 10 && full.count() == 10)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // compaction recomputes the envelopes on the rewritten files
    SnapshotLake.compact(spark, root, targetBytes = Long.MaxValue)
    val after = SnapshotLake.manifest(spark, root).files
    assert(after.forall(_.stats.contains("close")))
    assert(SnapshotLake.readBox(spark, root, box).count() == 10)
  }

  test("readBox opens at most the candidate files; impossible box is empty") {
    val root = freshRoot()
    // three appends of two files each with disjoint close ranges
    Seq(0.0, 100.0, 1000.0).zipWithIndex.foreach { case (tag, i) =>
      SnapshotLake.append(spark, root, bars(i + 1, 20, tag).repartition(2),
        statsCols = Seq("close"))
    }
    val box = Map("close" -> (100.0, 200.0))
    val nCand = SnapshotLake.candidateEntries(spark, root, box).size
    assert(nCand > 0 && nCand < SnapshotLake.manifest(spark, root).files.size)
    val pruned = SnapshotLake.readBox(spark, root, box)
    val expect = SnapshotLake.read(spark, root)
      .filter(col("close") >= 100.0 && col("close") <= 200.0)
    // identical rows...
    assert(pruned.count() == 20 && expect.count() == 20)
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)
    // ...with I/O bounded by the candidate list, not the file set
    pruned.collect()
    val opened = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum
    assert(opened > 0 && opened <= nCand,
      s"pruned read opened $opened files, $nCand candidates")
    // an impossible box: no files opened, empty result, schema intact
    val none = SnapshotLake.readBox(spark, root, Map("close" -> (-2e18, -1e18)))
    assert(none.count() == 0)
    assert(none.schema == SnapshotLake.manifest(spark, root).schema)
  }

  test("optimizeZOrder: one commit swaps in the clustered layout with " +
      "tight 2-D envelopes; box pruning improves, rows and pinned " +
      "readers unaffected, appendsSince refuses across it") {
    val root = freshRoot()
    // hash-ordered ingest: every file's x AND y envelopes span ~the whole
    // domain, so a 2-D box can prune nothing — the regime z-order fixes
    val n = 4096
    val grid = (0 until n)
      .map(i => (((i * 2654435761L) % n) % 64, ((i * 2654435761L) % n) / 64,
        i.toLong))
      .toDF("x", "y", "id")
    (0 until 4).foreach { k =>
      SnapshotLake.append(spark, root,
        grid.filter(pmod(col("id"), lit(4)) === k).repartition(1),
        statsCols = Seq("x", "y"))
    }
    val before = SnapshotLake.manifest(spark, root)
    val box = Map("x" -> (0.0, 7.0), "y" -> (0.0, 7.0)) // 1/64 of the grid
    assert(SnapshotLake.candidateEntries(spark, root, box).size ==
      before.files.size) // ingest layout: zero pruning
    val want = SnapshotLake.readBox(spark, root, box).collect().toSet

    val (v, nBefore, nAfter) = SnapshotLake.optimizeZOrder(spark, root,
      Seq("x", "y"), targetBytes = math.max(1L, before.bytes / 8), bits = 6)
    assert(nBefore == 4 && nAfter >= 8)
    assert(SnapshotLake.manifest(spark, root).op == "zorder")
    // the z-layout's envelopes prune the same box to a fraction of files
    val cands = SnapshotLake.candidateEntries(spark, root, box)
    assert(cands.size < nAfter / 2,
      s"expected z-order pruning, got ${cands.size}/$nAfter candidates")
    // identical rows through the pruned read and the full read
    assert(SnapshotLake.readBox(spark, root, box).collect().toSet == want)
    assert(SnapshotLake.read(spark, root).count() == n)
    assert(SnapshotLake.read(spark, root).exceptAll(grid).isEmpty)
    // pre-rewrite version stays pinned and readable
    assert(SnapshotLake.read(spark, root, Some(v - 1)).count() == n)
    // a rewrite is not an append: incremental tails refuse loudly
    val e = intercept[IllegalArgumentException](
      SnapshotLake.appendsSince(spark, root, v - 1).collect())
    assert(e.getMessage.contains("zorder"))
  }

  test("addStats backfills envelopes and legacy row counts metadata-only: " +
      "no data rewritten, pruning/summary turn on, appendsSince crosses " +
      "the restat") {
    val root = freshRoot()
    // appended WITHOUT statsCols: no envelopes, no pruning
    val v1 = SnapshotLake.append(spark, root, bars(1, 10, 0.0).repartition(2))
    SnapshotLake.append(spark, root, bars(2, 10, 100.0).repartition(2))
    val before = SnapshotLake.manifest(spark, root)
    assert(before.files.forall(_.stats.isEmpty))
    val box = Map("close" -> (0.0, 50.0))
    assert(SnapshotLake.candidateEntries(spark, root, box).size ==
      before.files.size)
    val relsBefore = before.files.map(_.rel).toSet
    val v = SnapshotLake.addStats(spark, root, Seq("close"))
    val after = SnapshotLake.manifest(spark, root)
    // identical file set — nothing rewritten — but envelopes exist now
    assert(after.files.map(_.rel).toSet == relsBefore && after.op == "restat")
    assert(after.files.forall(_.stats.contains("close")))
    assert(SnapshotLake.candidateEntries(spark, root, box).size <
      after.files.size)
    assert(SnapshotLake.readBox(spark, root, box).count() == 10)
    // summary serves from the enriched manifest
    val s = SnapshotLake.summary(spark, root, Seq("close")).head
    assert(s.getLong(0) == 20 && s.getDouble(1) == 1.0 && s.getDouble(2) == 110.0)
    // a metadata-only restat does NOT break the incremental tail
    assert(SnapshotLake.appendsSince(spark, root, v1).count() == 10)
    // legacy pre-rows entries: strip stats+rows, then restat backfills
    val fs2 = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new Path(new Path(root, "_manifests"), f"v$v%08d.manifest")
    val in = fs2.open(mPath)
    val raw = scala.io.Source.fromInputStream(in).mkString; in.close()
    val legacy = raw.split("\n").map { l =>
      val c = l.split('\t'); if (c.length >= 3) s"${c(0)}\t${c(1)}" else l
    }.mkString("\n")
    val o = fs2.create(mPath, true); o.write(legacy.getBytes); o.close()
    SnapshotLake.invalidateManifestCache(root) // rewrote a published manifest
    intercept[IllegalArgumentException](SnapshotLake.summary(spark, root))
    SnapshotLake.addStats(spark, root, Seq("close"))
    assert(SnapshotLake.summary(spark, root, Seq("close"))
      .head.getLong(0) == 20)
  }

  test("schema evolution widens with NULL backfill; retype and drop refuse") {
    val root = freshRoot()
    SnapshotLake.append(spark, root, bars(1, 4, 0.0))
    val widened = bars(2, 4, 10.0).withColumn("source", lit("feed-b"))
    SnapshotLake.append(spark, root, widened, evolve = true)
    val back = SnapshotLake.read(spark, root)
    assert(back.columns.toSeq == Seq("symbol", "ts", "close", "source"))
    assert(back.filter(col("source").isNull).count() == 4)  // old files
    assert(back.filter(col("source") === "feed-b").count() == 4)
    // retype refused
    val retyped = bars(3, 2, 0.0).withColumn("close", col("close").cast("int"))
      .withColumn("source", lit("x"))
    val e1 = intercept[IllegalArgumentException] {
      SnapshotLake.append(spark, root, retyped, evolve = true)
    }
    assert(e1.getMessage.contains("cannot retype"))
    // drop refused
    val e2 = intercept[IllegalArgumentException] {
      SnapshotLake.append(spark, root, bars(3, 2, 0.0), evolve = true)
    }
    assert(e2.getMessage.contains("cannot drop"))
  }

  test("exactly-once streaming ingest: replayed micro-batches are skipped, " +
      "contents match the batch union") {
    val root = freshRoot()
    val handler = SnapshotLake.appendStream(root, streamId = "ingest")
    handler(bars(1, 5, 0.0), 0L)
    handler(bars(2, 5, 10.0), 1L)
    assert(SnapshotLake.read(spark, root).count() == 10)
    // crash-replay: Spark re-delivers batch 1 (checkpoint lagged the sink)
    handler(bars(2, 5, 10.0), 1L)
    assert(SnapshotLake.read(spark, root).count() == 10) // exactly-once
    assert(SnapshotLake.lastCommittedBatch(spark, root, "ingest").contains(1L))
    // a different stream's ids are independent
    handler(bars(3, 5, 20.0), 2L)
    SnapshotLake.appendStream(root, streamId = "backfill")(bars(4, 2, 30.0), 0L)
    assert(SnapshotLake.read(spark, root).count() == 17)
    // and the real plumbing end-to-end: a MemoryStream through foreachBatch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(String, Double)](spark)
    val stRoot = freshRoot()
    val q = ms.toDF().toDF("symbol", "close").writeStream
      .foreachBatch(SnapshotLake.appendStream(stRoot, streamId = "ms"))
      .option("checkpointLocation", TempDirs.create("snap-ckpt"))
      .start()
    ms.addData(("a", 1.0), ("b", 2.0)); q.processAllAvailable()
    ms.addData(("c", 3.0)); q.processAllAvailable()
    q.stop()
    assert(SnapshotLake.read(spark, stRoot).count() == 3)
    assert(SnapshotLake.lastCommittedBatch(spark, stRoot, "ms").contains(1L))
  }

  test("exactly-once streaming MERGE: each micro-batch upserts keyed " +
      "state, replays are skipped whole, batch-internal duplicates " +
      "collapse, the CDC mirror composes end-to-end") {
    val root = freshRoot()
    def kv(rows: (Long, String, Long)*) =
      rows.toSeq.toDF("id", "v", "ver")
    val handler = SnapshotLake.mergeStream(root, keyCols = Seq("id"),
      versionCol = "ver", pruneKey = "id", streamId = "cdc")
    // batch 0 on a FRESH root: bootstrap + merge; in-batch duplicate key
    // (1) collapses to the higher ver
    handler(kv((1L, "a", 1L), (1L, "a2", 2L), (2L, "b", 1L)), 0L)
    def state(): Map[Long, (String, Long)] =
      SnapshotLake.read(spark, root).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(state() == Map(1L -> ("a2", 2L), 2L -> ("b", 1L)))
    // batch 1 updates key 1, inserts key 3
    handler(kv((1L, "a3", 3L), (3L, "c", 1L)), 1L)
    assert(state() == Map(1L -> ("a3", 3L), 2L -> ("b", 1L), 3L -> ("c", 1L)))
    // crash-replay of batch 1: skipped whole, state unchanged
    handler(kv((1L, "a3", 3L), (3L, "c", 1L)), 1L)
    assert(state() == Map(1L -> ("a3", 3L), 2L -> ("b", 1L), 3L -> ("c", 1L)))
    assert(SnapshotLake.lastCommittedBatch(spark, root, "cdc").contains(1L))
    // a STALE row (lower ver than the lake's) loses keep-latest
    handler(kv((1L, "old", 1L)), 2L)
    assert(state()(1L) == ("a3", 3L))
    // real plumbing: source lake -> StreamSnapshotSource tail -> mergeStream
    // mirror = the lake-to-lake CDC materialization
    val src = freshRoot(); val dst = freshRoot()
    SnapshotLake.append(spark, src, kv((10L, "x", 1L)), statsCols = Seq("id"))
    val reader = spark.readStream
      .format("graft.streaming.SnapshotSourceProvider").load(src)
    val q = reader.writeStream
      .foreachBatch(SnapshotLake.mergeStream(dst, keyCols = Seq("id"),
        versionCol = "ver", pruneKey = "id", streamId = "mirror"))
      .option("checkpointLocation", TempDirs.create("snap-merge-ckpt"))
      .start()
    q.processAllAvailable()
    SnapshotLake.append(spark, src, kv((10L, "x2", 2L), (11L, "y", 1L)),
      statsCols = Seq("id"))
    q.processAllAvailable()
    q.stop()
    val mirrored = SnapshotLake.read(spark, dst).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(mirrored == Map(10L -> ("x2", 2L), 11L -> ("y", 1L)))
  }

  test("edges: empty append, stats-free readBox, 2-column manifest lines") {
    val root = freshRoot()
    SnapshotLake.append(spark, root, bars(1, 5, 0.0))
    // zero-row append commits a version (an auditable no-op, not a crash)
    val v2 = SnapshotLake.append(spark, root, bars(2, 5, 0.0).limit(0))
    assert(v2 == 2 && SnapshotLake.read(spark, root).count() == 5)
    // box on a column with NO recorded stats: conservative — all files kept
    val cands = SnapshotLake.candidateEntries(spark, root,
      Map("close" -> (0.0, 1.0)))
    assert(cands.size == SnapshotLake.manifest(spark, root).files.size)
    assert(SnapshotLake.readBox(spark, root, Map("close" -> (1.0, 3.0)))
      .count() == 3)
    // manifests written before the stats column existed (2-col file lines)
    // still parse: strip the stats column from the latest manifest
    val mdir = new Path(root, "_manifests")
    val mPath = new Path(mdir, "v00000002.manifest")
    val in = fs.open(mPath)
    val raw = scala.io.Source.fromInputStream(in).mkString; in.close()
    val legacy = raw.split("\n").map { l =>
      val c = l.split('\t'); if (c.length >= 3) s"${c(0)}\t${c(1)}" else l
    }.mkString("\n")
    val o = fs.create(mPath, true); o.write(legacy.getBytes); o.close()
    SnapshotLake.invalidateManifestCache(root) // rewrote a published manifest
    assert(SnapshotLake.read(spark, root).count() == 5)
    assert(SnapshotLake.manifest(spark, root).files.forall(_.stats.isEmpty))
    // legacy entries carry no row counts: the metadata-only summary must
    // refuse (not guess), and name the backfill path
    val e = intercept[IllegalArgumentException](
      SnapshotLake.summary(spark, root))
    assert(e.getMessage.contains("compact"))
  }

  test("summary answers count/min/max from the manifest alone, stays " +
      "exact through compact/merge/delete, refuses uncovered columns") {
    val root = freshRoot()
    val b = bars(1, 40, 10.0)
    SnapshotLake.append(spark, root, b.filter($"close" <= 30).repartition(2),
      statsCols = Seq("close"))
    SnapshotLake.append(spark, root, b.filter($"close" > 30).repartition(2),
      statsCols = Seq("close"))
    def check(): Unit = {
      val got = SnapshotLake.summary(spark, root, Seq("close")).head
      val want = SnapshotLake.read(spark, root)
        .agg(count("*"), min("close"), max("close")).head
      assert(got.getLong(0) == want.getLong(0))
      assert(got.getDouble(1) == want.getDouble(1))
      assert(got.getDouble(2) == want.getDouble(2))
    }
    check()
    SnapshotLake.compact(spark, root)
    check()
    SnapshotLake.merge(spark, root, bars(1, 10, 100.0),
      keyCols = Seq("close"), versionCol = "close", pruneKey = "close")
    check()
    SnapshotLake.delete(spark, root, $"close" > 105.0,
      pruneBox = Map("close" -> (105.0, 1e18)))
    check()
    // a zero-row lake answers 0 with NULL min/max, not a crash
    val empty = freshRoot()
    SnapshotLake.append(spark, empty, b.limit(0), statsCols = Seq("close"))
    val z = SnapshotLake.summary(spark, empty, Seq("close")).head
    assert(z.getLong(0) == 0L && z.isNullAt(1) && z.isNullAt(2))
    // a column never given statsCols refuses loudly — a metadata answer
    // that might be wrong is worse than none
    val e = intercept[IllegalArgumentException](
      SnapshotLake.summary(spark, root, Seq("symbol")))
    assert(e.getMessage.contains("envelope"))
  }

  test("diff classifies insert/update/delete from non-common files only; " +
      "a pure compact diffs to zero changes") {
    val root = freshRoot()
    def rows(ids: Range, v: Long, pay: Double) =
      ids.map(i => (i.toLong, v, pay + i)).toDF("id", "v", "payload")
    SnapshotLake.append(spark, root, rows(1 to 100, 1L, 0.0),
      statsCols = Seq("id"))
    val vFrom = SnapshotLake.append(spark, root, rows(1001 to 1100, 1L, 0.0),
      statsCols = Seq("id"))
    // merge: one real update, one stale (loses — must NOT diff), one insert
    val updates = Seq(
      (1001L, 2L, 777.0), (1050L, 0L, -1.0), (2000L, 1L, 42.0)
    ).toDF("id", "v", "payload")
    SnapshotLake.merge(spark, root, updates, keyCols = Seq("id"),
      versionCol = "v", pruneKey = "id")
    SnapshotLake.delete(spark, root, col("id") <= 3,
      pruneBox = Map("id" -> (1.0, 3.0)))
    val vTo = SnapshotLake.latestVersion(spark, root).get
    val d = SnapshotLake.diff(spark, root, vFrom, vTo, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(d == Set(
      ("update", 1001L, 2L, 777.0),
      ("insert", 2000L, 1L, 42.0),
      ("delete", 1L, 1L, 1.0), ("delete", 2L, 1L, 2.0),
      ("delete", 3L, 1L, 3.0)))
    // the 1050 stale loser and every untouched row produce NO change row;
    // rows rewritten bit-identically by maintenance don't either:
    val (vc, _, _) = SnapshotLake.compact(spark, root)
    assert(SnapshotLake.diff(spark, root, vTo, vc, Seq("id")).isEmpty)
    // self-diff is trivially empty and reads nothing
    assert(SnapshotLake.diff(spark, root, vc, vc, Seq("id")).isEmpty)
  }

  test("diff across widening evolution: appended rows are inserts; old " +
      "rows read NULL for the new column; retype refuses") {
    val root = freshRoot()
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    SnapshotLake.append(spark, root, a, statsCols = Seq("id"))
    val wide = Seq((3L, "z", 9.0)).toDF("id", "s", "score")
    SnapshotLake.append(spark, root, wide, evolve = true,
      statsCols = Seq("id"))
    val d = SnapshotLake.diff(spark, root, 1L, 2L, Seq("id")).collect()
    assert(d.length == 1 && d.head.getString(0) == "insert" &&
      d.head.getLong(1) == 3L && d.head.getDouble(3) == 9.0)
    val bad = intercept[IllegalArgumentException] {
      // fabricate a non-widening comparison by diffing backwards with a
      // key that exists only widened — fromVersion > toVersion refuses
      SnapshotLake.diff(spark, root, 2L, 1L, Seq("id"))
    }
    assert(bad.getMessage.contains("fromVersion"))
  }

  test("crashed stage dir is invisible to readers and swept by vacuum") {
    val root = freshRoot()
    SnapshotLake.append(spark, root, bars(1, 5, 0.0))
    val stage = new Path(root, ".stage-deadbeef")
    fs.mkdirs(stage)
    val o = fs.create(new Path(stage, "part-zombie.parquet")); o.close()
    assert(SnapshotLake.read(spark, root).count() == 5) // unaffected
    SnapshotLake.vacuum(spark, root, retainLast = 1, staleStageMs = 0)
    assert(!fs.exists(stage))
  }

  // ----------------------------------------------------------- bloom index

  private def scattered(n: Int) =
    (1 to n).map(i => (i.toLong, s"user-$i", i * 1.5))
      .toDF("id", "who", "v")

  test("bloom sidecars prune point lookups where min/max cannot: " +
      "hash-scattered keys, long and string, present and absent") {
    val root = freshRoot()
    // 3 hash-sliced appends x 2 files: every file's id min/max spans
    // ~the whole domain, so envelope pruning keeps all 6 — the bloom is
    // the only index that can skip files here
    (0 until 3).foreach { k =>
      SnapshotLake.append(spark, root,
        scattered(3000).filter(pmod(col("id"), lit(3)) === k).repartition(2),
        statsCols = Seq("id"), bloomCols = Seq("id", "who"))
    }
    val m = SnapshotLake.manifest(spark, root)
    assert(m.files.size == 6 &&
      m.files.forall(_.bloomCols == Seq("id", "who")))
    // stats alone keep everything (scattered keys)
    assert(SnapshotLake.candidateEntries(spark, root,
      Map("id" -> (1500.0, 1500.0))).size == 6)
    // bloom: a present long key opens ~1 file (fpp slack: allow 2)
    val hit = SnapshotLake.pointCandidates(spark, root, Map("id" -> 1500L))
    assert(hit.size <= 2 && hit.nonEmpty)
    val row = SnapshotLake.readPoint(spark, root, Map("id" -> 1500L)).collect()
    assert(row.length == 1 && row.head.getString(1) == "user-1500")
    // a present string key likewise
    val sHit = SnapshotLake.pointCandidates(spark, root,
      Map("who" -> "user-2999"))
    assert(sHit.size <= 2 && sHit.nonEmpty)
    assert(SnapshotLake.readPoint(spark, root, Map("who" -> "user-2999"))
      .collect().map(_.getLong(0)).toSeq == Seq(2999L))
    // conjunctive lookup intersects the pruning
    assert(SnapshotLake.readPoint(spark, root,
      Map("id" -> 77L, "who" -> "user-77")).count() == 1)
    // absent keys: numeric out-of-envelope prunes via stats to 0; an
    // in-range absent key is a pure bloom miss (<=1 file of fpp slack)
    assert(SnapshotLake.pointCandidates(spark, root,
      Map("id" -> 999999L)).isEmpty)
    // fp slack 2 of 6: false positives are per-(file, probe) coin flips
    // at ~1%, and this fixture's probe happens to land two — soundness is
    // the readPoint emptiness below, tightness is "4 of 6 skipped"
    assert(SnapshotLake.pointCandidates(spark, root,
      Map("who" -> "user-nope")).size <= 2)
    assert(SnapshotLake.readPoint(spark, root, Map("who" -> "user-nope"))
      .isEmpty)
  }

  test("bloom discipline survives compact and merge; vacuum sweeps dead " +
      "sidecars; files without sidecars stay conservative") {
    val root = freshRoot()
    (0 until 2).foreach { k =>
      SnapshotLake.append(spark, root,
        scattered(2000).filter(pmod(col("id"), lit(2)) === k).repartition(2),
        statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    val bloomsBefore = fs.globStatus(
      new Path(root, "_blooms/*")).length
    assert(bloomsBefore == 4)
    // compact rewrites; new files re-bloom (inherited from the manifest)
    SnapshotLake.compact(spark, root, targetBytes = 16L * 1024)
    val m = SnapshotLake.manifest(spark, root)
    assert(m.files.forall(_.bloomCols == Seq("id")))
    m.files.foreach(f => assert(fs.exists(
      SnapshotLake.bloomPath(root, f.rel, "id"))))
    assert(SnapshotLake.readPoint(spark, root, Map("id" -> 1234L))
      .count() == 1)
    // merge keeps the sidecar columns on rewritten files too
    val up = Seq((1234L, "user-1234", -1.0)).toDF("id", "who", "v")
      .withColumn("v", col("v"))
    SnapshotLake.merge(spark, root, up, keyCols = Seq("id"),
      versionCol = "v", pruneKey = "id")
    assert(SnapshotLake.manifest(spark, root).files
      .forall(_.bloomCols == Seq("id")))
    // vacuum to the head only: sidecars of dead files are swept, live
    // ones stay, and lookups still serve
    SnapshotLake.vacuum(spark, root, retainLast = 1, staleStageMs = 0)
    val live = SnapshotLake.manifest(spark, root).files
      .map(f => s"${f.rel}.id.bloom").toSet
    val onDisk = fs.globStatus(new Path(root, "_blooms/*"))
      .map(_.getPath.getName).toSet
    assert(onDisk == live)
    assert(SnapshotLake.readPoint(spark, root, Map("id" -> 777L))
      .count() == 1)
    // a legacy entry with no recorded bloom column is conservatively kept
    val noBloom = SnapshotLake.manifest(spark, root).files.map(_.copy(
      bloomCols = Nil))
    assert(noBloom.forall(_.bloomCols.isEmpty)) // probe path: bloomCols
    // empty => pointCandidates cannot bloom-prune => falls back to stats
  }

  test("bloom refuses partition columns and non-key types loudly") {
    val root = freshRoot()
    val e1 = intercept[IllegalArgumentException] {
      SnapshotLake.append(spark, root, scattered(10),
        partitionCols = Seq("who"), bloomCols = Seq("who"))
    }
    assert(e1.getMessage.contains("partition columns"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotLake.append(spark, root, scattered(10), bloomCols = Seq("v"))
    }
    assert(e2.getMessage.contains("min/max envelopes"))
    val e3 = intercept[IllegalArgumentException] {
      SnapshotLake.append(spark, root, scattered(10), bloomCols = Seq("nope"))
    }
    assert(e3.getMessage.contains("not in the written data columns"))
    // refused before anything is staged: no stage dir, data file or
    // sidecar is left behind
    def under(p: Path): Seq[String] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap(st =>
        st.getPath.toString +: (if (st.isDirectory) under(st.getPath) else Nil))
    val left = under(new Path(root))
    assert(left.isEmpty, s"refused appends left behind: $left")
  }

  test("library merge and compact stamp the lake's declared statsCols " +
      "and bloomCols on every file they write") {
    import org.apache.spark.sql.types._
    val root = freshRoot()
    SnapshotLake.create(spark, root, StructType(Seq(
      StructField("symbol", StringType), StructField("id", LongType),
      StructField("v", LongType), StructField("close", DoubleType))),
      tableProps = Map("statsCols" -> "close", "bloomCols" -> "symbol"))
    def rows(ids: Range, v: Long) = ids.map(i =>
      (s"sym${i % 3}", i.toLong, v, i * 1.5)).toDF("symbol", "id", "v", "close")
    // library appends that pass no index columns stamp none
    SnapshotLake.append(spark, root, rows(0 until 20, 1L).repartition(2))
    SnapshotLake.append(spark, root, rows(20 until 40, 1L))
    assert(SnapshotLake.manifest(spark, root).files
      .forall(f => f.stats.isEmpty && f.bloomCols.isEmpty))
    def written(op: => Any): Seq[SnapshotLake.FileEntry] = {
      val before = SnapshotLake.manifest(spark, root).files.map(_.rel).toSet
      op
      SnapshotLake.manifest(spark, root).files.filterNot(f => before(f.rel))
    }
    val merged = written(SnapshotLake.merge(spark, root, rows(5 until 8, 2L),
      keyCols = Seq("id"), versionCol = "v", pruneKey = "id"))
    val compacted = written(SnapshotLake.compact(spark, root))
    Seq("merge" -> merged, "compact" -> compacted).foreach { case (op, files) =>
      assert(files.nonEmpty, s"$op wrote no file")
      assert(files.forall(f =>
        f.stats.contains("close") && f.bloomCols == Seq("symbol")),
        s"$op: ${files.map(f => (f.stats.keySet, f.bloomCols))}")
    }
    assert(SnapshotLake.read(spark, root).count() == 40)
    assert(SnapshotLake.readPoint(spark, root, Map("symbol" -> "sym1"))
      .count() == 13)
  }

  test("bloom append and readPoint under a relative lake root") {
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(freshRoot())).toString
    assert(!new Path(rel).isAbsolute)
    SnapshotLake.append(spark, rel, scattered(300).repartition(2),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    assert(SnapshotLake.manifest(spark, rel).files.forall(_.bloomCols == Seq("id")))
    assert(SnapshotLake.read(spark, rel).count() == 300)
    assert(SnapshotLake.readPoint(spark, rel, Map("id" -> 150L)).collect()
      .map(_.getString(1)).toSeq == Seq("user-150"))
  }

  test("metadata-only schema commits racing rewrites are never clobbered: " +
      "compact retries onto the evolved schema, appends ride a widening " +
      "through, and a rename racing an append refuses loudly") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // --- compact vs evolve (deterministic via the rewrite-commit seam) ---
    val root = TempDirs.create("snaplake-schemarace") + "/lake"
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("event_id", "close")
    SnapshotLake.append(spark, root, df.repartition(2),
      statsCols = Seq("event_id")) // v1
    // first attempt reads the PRE-EVOLVE base: same file list (the
    // read-set check alone cannot see the drift), stale schema — the
    // schema guard must abort it and the retry publishes the evolved one
    SnapshotLake.beforeRewriteCommit.set(() =>
      SnapshotLake.addColumns(spark, root,
        StructType(Seq(StructField("venue", StringType))))) // v2, evolve
    try SnapshotLake.compact(spark, root,
      targetBytes = 256L * 1024 * 1024, lockExpiryMs = 60000)
    finally SnapshotLake.beforeRewriteCommit.set(() => ())
    val m = SnapshotLake.manifest(spark, root)
    assert(m.op == "compact" &&
      m.schema.fieldNames.toSeq == Seq("event_id", "close", "venue"),
      s"compact must not clobber the racing evolve: ${m.schema.simpleString}")
    assert(SnapshotLake.read(spark, root).filter(col("venue").isNull)
      .count() == 3)
    // --- append vs evolve: the widening rides through (ONE-SHOT hook) ---
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    SnapshotLake.beforeAppendCommit = () =>
      if (fired.compareAndSet(false, true))
        SnapshotLake.addColumns(spark, root,
          StructType(Seq(StructField("src", StringType))))
    try {
      SnapshotLake.append(spark, root,
        Seq((4L, 4.0)).toDF("event_id", "close")
          .withColumn("venue", lit("x")))
    } finally SnapshotLake.beforeAppendCommit = () => ()
    val m2 = SnapshotLake.manifest(spark, root)
    assert(m2.op == "append" && m2.schema.fieldNames.toSeq ==
      Seq("event_id", "close", "venue", "src"),
      s"append must publish the concurrently-widened schema, got " +
        m2.schema.simpleString)
    assert(SnapshotLake.read(spark, root).count() == 4)
    assert(SnapshotLake.read(spark, root)
      .filter(col("event_id") === 4 && col("src").isNull).count() == 1)
    // --- append vs rename: not a widening — refuses loudly on retry ---
    val fired2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    SnapshotLake.beforeAppendCommit = () =>
      if (fired2.compareAndSet(false, true))
        SnapshotLake.renameColumn(spark, root, "close", "px")
    val e = try intercept[IllegalArgumentException] {
      SnapshotLake.append(spark, root,
        Seq((5L, 5.0)).toDF("event_id", "close")
          .withColumn("venue", lit("x")).withColumn("src", lit("y")))
    } finally SnapshotLake.beforeAppendCommit = () => ()
    assert(e.getMessage.contains("schema drift"), e.getMessage)
    // the rename won; the lake is consistent under the new name
    val prevRead = spark.conf
      .getOption("spark.sql.parquet.fieldId.read.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      assert(SnapshotLake.manifest(spark, root).schema.fieldNames
        .contains("px"))
      assert(SnapshotLake.read(spark, root).filter(col("px") === 2.0)
        .count() == 1)
    } finally prevRead match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    }
  }

  test("append racing a DROP COLUMN aborts instead of resurrecting the " +
      "dropped column (head-subset-of-ours is NOT 'we are the widener')") {
    val root = TempDirs.create("snaplake-droprace") + "/lake"
    val df = Seq((1L, 1.0, "a"), (2L, 2.0, "b"))
      .toDF("event_id", "close", "venue")
    SnapshotLake.append(spark, root, df, statsCols = Seq("event_id")) // v1
    // rival drops `venue` between this append's staging and its commit:
    // the head schema is then a SUBSET of the append's — the exact shape
    // an evolve-append's own widening also produces. The append must NOT
    // claim "ours supersedes" (that would republish `venue` under its
    // old field id and resurrect the dropped data); it aborts, and the
    // retry's fresh compatibility check refuses loudly.
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    SnapshotLake.beforeAppendCommit = () =>
      if (fired.compareAndSet(false, true))
        SnapshotLake.dropColumn(spark, root, "venue")
    val e = try intercept[IllegalArgumentException] {
      SnapshotLake.append(spark, root,
        Seq((3L, 3.0, "c")).toDF("event_id", "close", "venue"))
    } finally SnapshotLake.beforeAppendCommit = () => ()
    assert(e.getMessage.contains("schema drift"), e.getMessage)
    // the drop won and stays won
    val m = SnapshotLake.manifest(spark, root)
    assert(m.schema.fieldNames.toSeq == Seq("event_id", "close"),
      s"DROP COLUMN must survive the racing append: ${m.schema.simpleString}")
    val prevRead = spark.conf
      .getOption("spark.sql.parquet.fieldId.read.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try assert(SnapshotLake.read(spark, root).count() == 2)
    finally prevRead match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    }
  }

  test("vacuum gives never-referenced files the stage age grace: a " +
      "racing commit's in-flight data file and delete sidecar survive") {
    val root = TempDirs.create("snaplake-vacgrace") + "/lake"
    SnapshotLake.append(spark, root, bars(1, 6, 0.0)) // v1
    SnapshotLake.append(spark, root, bars(2, 6, 100.0)) // v2
    SnapshotLake.compact(spark, root) // v3: v1/v2's files now known-dead
    // simulate a racing MOR/append commit that has MOVED its files into
    // place but not yet published its manifest: young files referenced
    // by NO manifest
    val inFlightData = new Path(root, "data/part-inflight.parquet")
    val out1 = fs.create(inFlightData); out1.write("x".getBytes); out1.close()
    val delDir = new Path(root, "_deletes")
    fs.mkdirs(delDir)
    val inFlightDel = new Path(delDir, "tok-delete-inflight.parquet")
    val out2 = fs.create(inFlightDel); out2.write("y".getBytes); out2.close()
    // default grace (24 h): both survive, while files referenced only by
    // DROPPED manifests are swept as before
    val (deleted, dropped) = SnapshotLake.vacuum(spark, root, retainLast = 1)
    assert(dropped == 2)
    assert(deleted > 0, "v1's files are known-dead and must be swept")
    assert(fs.exists(inFlightData),
      "a young never-referenced data file may belong to an in-flight " +
        "commit — vacuum must not delete it")
    assert(fs.exists(inFlightDel),
      "a young never-referenced delete sidecar may belong to an " +
        "in-flight MOR commit — vacuum must not delete it")
    // past the grace window the litter goes (staleStageMs = 0)
    Thread.sleep(20)
    SnapshotLake.vacuum(spark, root, retainLast = 1, staleStageMs = 0)
    assert(!fs.exists(inFlightData) && !fs.exists(inFlightDel),
      "stale never-referenced files are crashed-writer litter")
  }

  test("bloom-pruned merge candidates: a small keyed merge against " +
      "hash-scattered files (envelopes useless) touches only files whose " +
      "bloom might contain an update key; results identical") {
    val root = TempDirs.create("snaplake-mergeprune") + "/lake"
    // hash-scattered layout: every file's id min/max spans ~the whole
    // domain, so envelope pruning keeps everything — the bloom regime
    val seed = spark.range(4000).select(col("id"),
        (col("id") % 100).cast("double").as("v"))
      .repartition(8, org.apache.spark.sql.functions.xxhash64(col("id")))
    SnapshotLake.append(spark, root, seed, statsCols = Seq("id"),
      bloomCols = Seq("id"))
    val before = SnapshotLake.manifest(spark, root)
    assert(before.files.size == 8 &&
      before.files.forall(_.bloomCols.contains("id")))
    // 2 update keys -> at most the 2 files holding them rewrite (plus
    // bloom false positives at fpp 0.03 — allow 1)
    val updates = Seq((7L, 999.0), (3888L, 888.0)).toDF("id", "v")
    val (v, rewritten, untouched) = SnapshotLake.merge(spark, root,
      updates, keyCols = Seq("id"), versionCol = "v", pruneKey = "id")
    assert(rewritten <= 3,
      s"bloom pruning must narrow 8 scattered files to ~2, got $rewritten")
    assert(rewritten + untouched == 8)
    val got = SnapshotLake.read(spark, root)
      .filter(col("id").isin(7L, 3888L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(7L -> 999.0, 3888L -> 888.0))
    assert(SnapshotLake.read(spark, root).count() == 4000)
    // a large batch skips the refinement (collect must stay trivial):
    // all-lose updates (version below every lake row's) change nothing
    val big = spark.range(4000).select(col("id"), lit(-1.0).as("v"))
    SnapshotLake.merge(spark, root, big,
      keyCols = Seq("id"), versionCol = "v", pruneKey = "id")
    assert(SnapshotLake.read(spark, root).filter(col("v") === -1.0)
      .count() == 0, "all-lose batch must change nothing")
    assert(SnapshotLake.read(spark, root).count() == 4000)
  }

  test("composite merge prune keys: a (g, ts)-keyed merge intersects " +
      "per-column envelopes — fewer files opened than EITHER " +
      "single-column prune — and per-column bloom probes compose the " +
      "same way; results identical on every path") {
    // grid layout: 2 g-ranges x 2 ts-ranges = 4 files; an update at one
    // (g, ts) cell envelope-overlaps 2 files per single column but only
    // 1 under the intersection
    def cell(g0: Long, t0: Long) =
      (0 until 50).map(i => (g0 + i % 2, t0 + i % 10, 1L, s"v$g0-$t0"))
        .toDF("g", "ts", "ver", "v").coalesce(1)
    def mkLake(name: String): String = {
      val root = TempDirs.create(name) + "/lake"
      Seq((0L, 0L), (0L, 100L), (100L, 0L), (100L, 100L)).foreach {
        case (g0, t0) => SnapshotLake.append(spark, root, cell(g0, t0),
          statsCols = Seq("g", "ts"))
      }
      assert(SnapshotLake.manifest(spark, root).files.size == 4)
      root
    }
    val upd = Seq((0L, 5L, 2L, "upd")).toDF("g", "ts", "ver", "v")
    def state(root: String) = SnapshotLake.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val rootG = mkLake("comp-g"); val rootT = mkLake("comp-t")
    val rootC = mkLake("comp-c")
    val (_, rewG, _) = SnapshotLake.merge(spark, rootG, upd,
      keyCols = Seq("g", "ts"), versionCol = "ver", pruneKey = "g")
    val (_, rewT, _) = SnapshotLake.merge(spark, rootT, upd,
      keyCols = Seq("g", "ts"), versionCol = "ver", pruneKey = "ts")
    val (_, rewC, _) = SnapshotLake.mergeComposite(spark, rootC, upd,
      keyCols = Seq("g", "ts"), versionCol = "ver",
      pruneKeys = Seq("g", "ts"))
    assert(rewG == 2 && rewT == 2,
      s"single-column prunes should each keep 2 files, got $rewG/$rewT")
    assert(rewC == 1,
      s"the composite prune must intersect down to 1 file, got $rewC")
    assert(state(rootG) == state(rootC) && state(rootT) == state(rootC),
      "pruning must never change answers")
    assert(state(rootC).contains((0L, 5L, 2L, "upd")))
    // bloom probes compose per column the same way: hash-scattered on
    // BOTH columns (envelopes useless), blooms declared on both — a
    // one-tuple update opens ~the files that might hold BOTH components
    val rootB = TempDirs.create("comp-bloom") + "/lake"
    val seed = spark.range(4000).select(
        (col("id") * 37 % 1000).as("g"), (col("id") * 91 % 1000).as("ts"),
        lit(1L).as("ver"), col("id").cast("string").as("v"))
      .repartition(8, org.apache.spark.sql.functions.xxhash64(col("g"),
        col("ts")))
    SnapshotLake.append(spark, rootB, seed, statsCols = Seq("g", "ts"),
      bloomCols = Seq("g", "ts"))
    val one = SnapshotLake.read(spark, rootB).limit(1).collect().head
    val updB = Seq((one.getLong(0), one.getLong(1), 2L, "upd"))
      .toDF("g", "ts", "ver", "v")
    val (_, rewB, untB) = SnapshotLake.mergeComposite(spark, rootB, updB,
      keyCols = Seq("g", "ts"), versionCol = "ver",
      pruneKeys = Seq("g", "ts"))
    assert(rewB + untB == 8)
    assert(rewB <= 4,
      s"two bloom probes must narrow 8 scattered files sharply, got $rewB")
    assert(SnapshotLake.read(spark, rootB)
      .filter(col("g") === one.getLong(0) && col("ts") === one.getLong(1))
      .collect().map(_.getString(3)).toSeq == Seq("upd"))
  }

  test("CDC windows crossing a field-id migration: appendsSince and diff " +
      "read pre-migration files by the name mapping (id-resolution reads " +
      "enabled), never by ids those files do not carry") {
    val root = TempDirs.create("snaplake-migwin") + "/lake"
    def kv(rows: (Long, Double)*) = rows.toSeq.toDF("id", "v")
    // legacy (id-less) lake: v1 replace, v2 append
    SnapshotLake.replace(spark, root, kv((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      statsCols = Seq("id"))
    SnapshotLake.append(spark, root, kv((4L, 4.0), (5L, 5.0)))
    SnapshotLake.upgradeFieldIds(spark, root) // v3, metadata-only
    SnapshotLake.append(spark, root, kv((6L, 6.0))) // v4, id-carrying files
    val prevRead = spark.conf
      .getOption("spark.sql.parquet.fieldId.read.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      // the incremental window [v1, v4] spans the migration: both file
      // generations must read (B idless via the window-newest entries)
      val inc = SnapshotLake.appendsSince(spark, root, 1L, Some(4L))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(inc == Map(4L -> 4.0, 5L -> 5.0, 6L -> 6.0), inc)
      // row-level diff whose FROM side predates the migration: the merge
      // rewrites pre-migration files, so the old side is read through
      // the name mapping — classification must still be exact
      SnapshotLake.merge(spark, root, kv((1L, 100.0)), keyCols = Seq("id"),
        versionCol = "v", pruneKey = "id") // v5
      val d = SnapshotLake.diff(spark, root, 2L, 5L, keyCols = Seq("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(d.toSet == Set(("update", 1L, 100.0), ("insert", 6L, 6.0)),
        d.mkString(", "))
    } finally prevRead match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    }
  }
}
