package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Runs the benchmark end to end on tiny inputs. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark = Bench.session(work, 2)

  private val tiny = Size(
    etlSymbols = 2, etlMinutes = 300, etlReps = 1,
    readSymbols = 4, readMinutes = 480, readSlices = 4, readPool = 8, readReps = 1,
    writeSymbols = 3, writeBaseHours = 2, upsertKeys = 6, writeReps = 1)

  private var runs = 0
  private def run(workload: String, seed: Long, trace: Boolean,
      make: (String, SparkSession, Long, Size) => Workload = Bench.workload): Result = {
    runs += 1
    Bench.run(spark, Opts(workload, seed, 0.1, trace, s"$work/run-$runs"), tiny, 0.0, make)
  }

  override def afterAll(): Unit = {
    spark.stop()
    perfbench.Files.delete(work)
  }

  private val Declared = Seq("setup_s", "op_p50_ms", "op_p90_ms", "ops_per_s",
    "cpu_ms_per_op", "peak_rss_mb")

  for (w <- Seq("etl_batch", "lake_read", "lake_write")) {
    test(s"smoke: $w runs, answers correctly and reports every metric") {
      val r = run(w, 7L, trace = false)
      assert(r.failures.isEmpty, r.failures.mkString("\n"))
      assert(r.correct && r.attempted > 0 && r.failed == 0)
      assert(r.metrics.map(_.name) == Declared)
      r.metrics.foreach(m => assert(m.value > 0 && !m.value.isInfinite, m))
      assert(r.named.exists(_.name == "failed_frac"))
    }
  }

  test("traced counts repeat exactly for one seed") {
    def counts(w: String, names: Seq[String]): Seq[(String, Double)] = {
      val r = run(w, 3L, trace = true)
      assert(r.correct, r.failures.mkString("\n"))
      val all = (r.metrics ++ r.named).map(m => m.name -> m.value).toMap
      names.map(n => n -> all(n))
    }
    val spark3 = Seq("spark.jobs", "spark.stages", "spark.tasks")
    val readNames = spark3 :+ "sinks.files_read"
    val writeNames = spark3 ++ Seq("sinks.bytes_written", "write_amp")
    val read = counts("lake_read", readNames)
    assert(read == counts("lake_read", readNames))
    assert(read.forall(!_._2.isNaN))
    val write = counts("lake_write", writeNames)
    assert(write == counts("lake_write", writeNames))
    assert(write.forall(!_._2.isNaN))
  }

  /** A workload whose second step throws and third answers wrongly. */
  private final class Faulty(spark: SparkSession, size: Size)
      extends Workload(spark, 0L, size) {
    def setup(dir: String): Unit = ()
    def warmup(): Unit = ()
    def opKinds: Seq[String] = Seq("op")
    def tracePrefix: Int = 3
    override def minSteps: Int = 3
    def named(windowS: Double): Seq[Metric] = Nil
    def step(i: Int, traced: Boolean): Unit = {
      val (op, r) = timed("op", traced) {
        if (i == 1) throw new RuntimeException("injected")
        Thread.sleep(if (i == 2) 1 else 40)
        spark.range(10).count()
      }
      r.foreach(n => rec.check(op, "count")(n == (if (i == 2) 11L else 10L)))
    }
  }

  test("a throwing or wrong operation is failed and excluded from latency") {
    val r = Bench.run(spark, Opts("faulty", 0L, 0.0, trace = false, s"$work/faulty"), tiny,
      0.0, (_, s, _, z) => new Faulty(s, z))
    assert(!r.correct && r.attempted == 3 && r.failed == 2)
    val m = r.named.map(x => x.name -> x.value).toMap
    // only the 40 ms operation is timed: a wrong 1 ms answer does not count
    assert(m("raw.op_p50_ms") >= 40.0 && m("raw.op_p50_ms") == m("raw.op_p90_ms"))
    assert(r.failures.exists(_.contains("injected")) && r.failures.exists(_.contains("count")))
  }
}
