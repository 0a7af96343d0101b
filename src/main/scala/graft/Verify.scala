package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's own extensions: custom SQL functions + the rollup /
      // manifest-agg rewrite rules (no-ops unless their relations appear)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // At 100x gate scales a driver full-GC can stall past the default
      // 120 s heartbeat horizon, and in local mode "removing" the one
      // executor kills the JVM mid-suite. These only widen tolerances —
      // they change no query result.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Round-5 lesson: a swallowed per-query exception leaves no output dir,
    // the driver's compare only looks at outputs that exist, and the round
    // silently reads as all-pass with half the suite never executed. Record
    // every failure explicitly and exit nonzero so a broken suite can never
    // look green.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    // SPARK_GRAFT_VERIFY_RESUME=1: skip queries whose dump already exists
    // COMPLETE (Spark's _SUCCESS marker — a killed run leaves partial dirs
    // without it, so resume can never trust a torn write). Used by the
    // long sf10 gate so a mid-run kill doesn't repeat hours of finished
    // queries; the driver's own per-round gate runs without it.
    val resume = sys.env.get("SPARK_GRAFT_VERIFY_RESUME").contains("1")
    // SPARK_GRAFT_VERIFY_SHARD="i/n": run only queries with
    // floorMod(name.hashCode, n) == i. Lets the LONG gates (sf10) run as
    // n cooperating JVMs over disjoint query subsets — single queries
    // rarely saturate the whole box (single-task dump writes, few-
    // partition stages), so two 16-thread shards finish well under one
    // 32-thread serial sweep. Shards write to the same outDir (disjoint
    // names, no collisions); the driver's per-round gate doesn't set it.
    // An out-of-range index would silently run ZERO queries and exit 0 —
    // a shard that never ran must be loud, not green — so validate hard.
    val shard = sys.env.get("SPARK_GRAFT_VERIFY_SHARD").map { s =>
      val Array(i, n) = s.split("/").map(_.trim.toInt)
      require(n > 0 && i >= 0 && i < n,
        s"SPARK_GRAFT_VERIFY_SHARD=$s invalid: need 0 <= i < n, n > 0")
      (i, n)
    }
    def inShard(name: String): Boolean = shard match {
      case Some((i, n)) => math.floorMod(name.hashCode, n) == i
      case None => true
    }
    // SPARK_GRAFT_VERIFY_ONLY="name,name": dump ONLY the named queries —
    // the targeted-gate form (new queries at a big SF without re-running
    // the whole suite). Unknown names fail loudly (a typo must not read as
    // an empty-and-green run). A filtered run never writes queries.json:
    // that manifest asserts full-suite coverage, which a filtered dump
    // cannot, and the compare's completeness check would rightly flag it.
    val onlyNames = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    onlyNames.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }
    def selected(name: String): Boolean =
      onlyNames.forall(_.contains(name)) && inShard(name)
    // A stale single-JVM manifest in a re-used outDir would be trusted by
    // consumers of the sharded run; any shard may delete it (idempotent).
    if (shard.isDefined)
      Files.deleteIfExists(Paths.get(s"$outDir/verify_errors.json"))
    var attempted = 0
    SparkEntry.queries.keys.foreach { name =>
      if (!selected(name)) ()
      else
      // repartition(1), NOT coalesce(1): coalesce folds the query's
      // whole final stage into one task (a serialized window/join pass
      // at 10x scales); repartition adds a shuffle boundary so the
      // query computes parallel and only the file write is single-task.
      // SPARK_GRAFT_VERIFY_PARTS widens the dump to N files for the
      // 100x gates, where a single task writing a 10^8-row dump is
      // minutes of dead serial time (every compare tool reads the
      // whole directory, so file count is invisible to the gate).
      if (resume && Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))) ()
      else {
      attempted += 1
      val cache = spark.sharedState.cacheManager
      val wasEmpty = cache.isEmpty
      try {
        SparkEntry.run(spark, name, sfDir)(_
          .repartition(sys.env.getOrElse("SPARK_GRAFT_VERIFY_PARTS", "1").toInt)
          .write.mode("overwrite")
          .parquet(s"$outDir/$name"))
        // a query owns what it caches: one that leaves a cache entry
        // behind is a failure, not a warning in the log
        if (wasEmpty && !cache.isEmpty) throw new IllegalStateException(
          s"$name left cache entries behind")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // All file writes below go through temp-file + ATOMIC_MOVE: n shard
    // JVMs share this outDir, and a plain truncate-and-rewrite of a file
    // another process is reading (or a kill mid-write) yields a torn JSON
    // that the compare's json.load would choke on.
    def writeAtomic(path: String, content: String): Unit = {
      val target = Paths.get(path)
      val tmp = Files.createTempFile(target.getParent, ".tmp-", ".json")
      Files.writeString(tmp, content)
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // oracle_sql.json is identical from every shard — only shard 0 (or
    // the unsharded driver run) writes it, so concurrent shards never
    // race on it at all.
    if (shard.forall(_._1 == 0)) {
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      writeAtomic(s"$outDir/oracle_sql.json", json)
      // Registry manifest: EVERY declared query name, so the compare can
      // prove coverage (output dir present or an error recorded) instead
      // of trusting whatever dirs happen to exist — the round-5 silent-
      // all-pass hole, closed at the artifact level. A filtered
      // (VERIFY_ONLY) run must NOT write it — see the filter comment.
      if (onlyNames.isEmpty)
        writeAtomic(s"$outDir/queries.json",
          SparkEntry.queries.keys.map(q).mkString("[", ",", "]"))
    }
    // Explicit failure manifest: {query: "ExceptionClass: msg"} for every
    // attempted query that threw, written even when empty so its absence
    // is itself a signal.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // sharded runs write per-shard error manifests so the last shard to
    // finish can't clobber another shard's failures
    val errName = shard match {
      case Some((i, n)) => s"verify_errors_${i}_of_$n.json"
      case None => "verify_errors.json"
    }
    writeAtomic(s"$outDir/$errName", errJson)
    // Once every shard's manifest exists, fold them into the canonical
    // verify_errors.json (the documented completeness signal). The last
    // shard to finish sees all n and writes it; if two finish together
    // both write identical content through ATOMIC_MOVE — harmless.
    // (Assumes shards are launched together, which the gate scripts do:
    // the stale-manifest delete above happens before any shard finishes.)
    shard.foreach { case (_, n) =>
      val parts = (0 until n).map(j => Paths.get(s"$outDir/verify_errors_${j}_of_$n.json"))
      if (parts.forall(Files.exists(_))) {
        val merged = parts.map(Files.readString(_).trim)
          .map(s => s.substring(1, s.length - 1)).filter(_.nonEmpty)
          .mkString("{", ",", "}")
        writeAtomic(s"$outDir/verify_errors.json", merged)
      }
    }
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size}/$attempted attempted queries FAILED: " +
          failures.keys.mkString(", "))
      sys.exit(3)
    }
  }
}
