package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: time ONE declared query N times in a warm session —
  * `runMain graft.BenchOne <query> [n]`. Separates a query's actual cost
  * from the shared host's steal bursts (run-to-run spread here is the
  * noise floor [[Bench]]'s two-sweep minimum discipline is calibrated
  * against) without paying for a full suite sweep.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // same session shape as Verify/Bench: extensions ride along, so a
      // plan printed here is the plan the gates run
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val name = args(0)
    // SPARK_GRAFT_EXPLAIN=1: print the formatted physical plan once before
    // timing — the plan-audit loop ("explain and iterate") without a REPL.
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      SparkEntry.run(spark, name, sfDir)(_.explain("formatted"))
    for (i <- 1 to args.lift(1).map(_.toInt).getOrElse(3)) {
      val t0 = System.nanoTime()
      SparkEntry.run(spark, name, sfDir)(
        _.write.format("noop").mode("overwrite").save())
      println(f"[benchone] $name run$i: ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}
