package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark surface for the driver: times every declared query at the
  * SF dir in SPARK_GRAFT_SF_DIR and reports ONE JSON line.
  *
  * Measurement discipline:
  *   - `noop` sink, not `count()` — count() lets Catalyst prune computed
  *     columns (a windowed-indicator query would time almost nothing);
  *     the noop write evaluates every output column distributedly.
  *   - warm JVM (one throwaway aggregate before the loop).
  *   - best of 2 full sweeps — the shared host's steal bursts only ever
  *     ADD time, so the per-query min across two suite sweeps (minutes
  *     apart) is the robust estimate (see the measurement loop comment).
  *   - the JSON is written to BENCH.json (sole content) AND printed as the
  *     last stdout line after spark.stop(), so no Spark shutdown logging
  *     or build-tool noise can trail it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // same session shape as Verify: the engine's extensions ride along
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen warmup so the first measured query isn't charged for it:
    // exercise the aggregate, window, AND parquet-scan paths — otherwise
    // the alphabetically-first query absorbs parquet footer reads and the
    // first whole-stage codegen compile (~3 s measured on a10)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.sql(
      s"SELECT max(sum_v) FROM (SELECT sum(l_quantity) OVER (ORDER BY l_orderkey ROWS " +
        s"BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sum_v FROM " +
        s"(SELECT * FROM parquet.`$sfDir/lineitem.parquet` LIMIT 1000))").collect()
    // Best of 2 FULL SWEEPS per query: this container shares an
    // oversubscribed host (measured: a 32-way CPU spin runs 2.2x its
    // 1-way time, with minute-scale steal bursts that inflate a single
    // pass by 5-50x on random queries — identical suites measured 95 s to
    // 194 s back to back). A stall can only ADD time, so the per-query
    // MINIMUM is the robust estimate; taking it across two whole-suite
    // sweeps (rather than back-to-back passes) spaces each query's two
    // measurements minutes apart, so even a sustained burst can't cover
    // both.
    // A failed query must NEVER masquerade as a fast timing (the round-5
    // lesson: 57 broken queries recorded ~0.05 s each and the merged bench
    // looked like an improvement). Failures carry through as None and are
    // reported in an explicit "failed" list with a null timing.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val ioProbeFile = ioProbe()
    // Round-7 lesson: both sweeps used to traverse the suite in the SAME
    // alphabetical order at similar pace, so one sustained host-steal
    // burst sat on the same contiguous block in both passes and the
    // min-of-2 discipline was defeated (the r7 artifact's m1..o7 block,
    // 3-8x inflated with untouched code). Shuffling each sweep with its
    // own FIXED seed decorrelates which queries share a wall-clock
    // window while keeping runs reproducible.
    def sweep(seed: Long): Seq[(String, Option[Double])] =
      new scala.util.Random(seed).shuffle(SparkEntry.queries.keys.toSeq.sorted)
        .map { name =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.run(spark, name, sfDir)(
            _.write.format("noop").mode("overwrite").save())
          name -> Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
          failures(name) = e.getClass.getSimpleName
          name -> None
        }
      }
    val canary1 = canary(spark); val canaryMem1 = canaryMem(spark)
    val canaryIo1 = canaryIo(ioProbeFile)
    val first = sweep(seed = 1).sortBy(_._1)
    val canary2 = canary(spark); val canaryMem2 = canaryMem(spark)
    val canaryIo2 = canaryIo(ioProbeFile)
    val second = sweep(seed = 2).toMap
    val canarySec = math.min(canary1, canary2)
    val canaryMemSec = math.min(canaryMem1, canaryMem2)
    val canaryIoSec =
      if (canaryIo1 < 0 || canaryIo2 < 0) math.max(canaryIo1, canaryIo2)
      else math.min(canaryIo1, canaryIo2)
    // min of the two sweeps; a query that failed in EITHER sweep is failed.
    val results = first.map { case (name, t) =>
      name -> (for (a <- t; b <- second(name)) yield math.min(a, b))
    }
    val qs = results.map {
      case (k, Some(v)) => "\"" + k + "\":" + v
      case (k, None)    => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val failedJson = failures.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // Self-adjudicating artifact (VERDICT r8 #4): scale the total by
    // canary_ref/canary_sec so the committed number is directly comparable
    // across rounds without consulting a separate clean-session artifact.
    // canary_ref = the round-8 adjudicated clean-host canary (BENCH.json at
    // febdbca: 0.487 s for the constant 50 M-row hash-agg). normalized_total
    // is the ESTIMATE of what this sweep would cost on that reference host;
    // raw `value` + `canary_sec` stay primary for anyone re-deriving it.
    val canaryRef = 0.487
    // canary_mem_ref: measured in round 11 with the standalone canary
    // probe (now `graft.tools.Prof canary`) on a host
    // window whose CPU canary sat AT the reference (0.40-0.54 vs 0.487):
    // mem probe 1.80-1.89 s steady. First round the probe exists, so this
    // IS the reference by definition (BASELINE.md round-11 section).
    val canaryMemRef = 1.80
    // canary_io_ref: the 512 MB O_DIRECT read measured in round 16 —
    // min 0.33 s (~1.6 GB/s) across repeated probes on a window whose
    // CPU canary sat at reference parity; the same window showed single
    // probes spanning 0.33-3.3 s, which is precisely the axis the
    // CPU/mem probes were blind to in the round-15 adjudication. First
    // round the probe exists, so this IS the reference by definition
    // (BASELINE.md round-16 section). Cross-round totals on scan-bound
    // suites divide by THIS probe's ratio, not the CPU one.
    val canaryIoRef = 0.33
    val normTotal = total * (canaryRef / canarySec)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"canary_sec":$canarySec,"canary_ref":$canaryRef,"canary_mem_sec":$canaryMemSec,"canary_mem_ref":$canaryMemRef,"canary_io_sec":$canaryIoSec,"canary_io_ref":$canaryIoRef,"normalized_total":$normTotal,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")), json + "\n")
    spark.stop()
    println(json)
    System.out.flush()
    if (failures.nonEmpty) {
      System.err.println(s"[bench] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(3)
    }
  }

  // Host-speed canary: a CONSTANT sf-independent workload (hash-agg over
  // a fixed range) timed before each sweep and recorded in the artifact.
  // The shared host's speed drifts 2-3x between measurement windows
  // (round-7 adjudication), so cross-round totals are only comparable
  // after dividing by the canary ratio; without it, host drift reads as
  // an engine regression.
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 50000000L, 1, 32)
      .selectExpr("xxhash64(id) % 97 AS k", "id")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  // Memory-BANDWIDTH canary: a constant ~512 MB full-shuffle
  // materialization (cheap rpad payload, so the time is serialization +
  // shuffle write/read memory traffic, not arithmetic). Exists because
  // the CPU canary cannot adjudicate output-bound queries: round 10's
  // d4 read 228 s vs a prior 74.5 s artifact on a SAME-CPU-speed window
  // — the swing was co-tenant memory-bandwidth pressure the hash-agg
  // canary is blind to. Recorded next to canary_sec so output-bound
  // rows in cross-round comparisons divide by the right probe.
  def canaryMem(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 4000000L, 1, 32)
      .selectExpr("id", "rpad(cast(id AS string), 128, 'x') AS payload")
      .repartition(32, org.apache.spark.sql.functions.col("id"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  // Disk-I/O canary (round 16): a fixed 512 MB O_DIRECT read of a
  // pre-written probe file — dd's iflag=direct bypasses the page
  // cache, so this times the DISK, not memory. Exists because the
  // CPU+mem probes failed to adjudicate the round-15 window (+12%
  // uniform suite drift with BOTH canaries at parity — the drifting
  // axis was I/O; the suite reads sf-dir parquet on the shared disks
  // every query, and the probes never touched them). Best-effort: a
  // filesystem without O_DIRECT records -1 rather than failing the
  // bench.
  def ioProbe(): Option[java.nio.file.Path] = {
    val p = java.nio.file.Files.createTempFile("graft-io-canary", ".bin")
    p.toFile.deleteOnExit()
    val w = new ProcessBuilder("dd", "if=/dev/zero", s"of=$p",
      "bs=1M", "count=512", "conv=fsync")
      .redirectErrorStream(true).start()
    w.getInputStream.readAllBytes()
    if (w.waitFor() == 0) Some(p) else { System.err.println(
      "[bench] io canary fixture write failed; recording -1"); None }
  }

  def canaryIo(probe: Option[java.nio.file.Path]): Double = probe.map { p =>
    val t0 = System.nanoTime()
    val r = new ProcessBuilder("dd", s"if=$p", "of=/dev/null",
      "bs=1M", "iflag=direct").redirectErrorStream(true).start()
    r.getInputStream.readAllBytes()
    if (r.waitFor() == 0) (System.nanoTime() - t0) / 1e9 else -1.0
  }.getOrElse(-1.0)
}
