package graft

import org.apache.spark.sql.functions._

import graft.sinks.Lake

/** Z-order layout: the shaped frame keeps every row and only the input's
  * columns, null dimensions survive, rank buckets are monotone. The
  * layout's file skipping is measured where it is written — through
  * `SnapshotLake.optimizeZOrder` in SnapshotLakeSpec.
  */
class ZorderSpec extends SparkSpec {

  private def events = graft.sources.Tables.events(spark, "/root/testdata/sf0.01")
    .select(col("event_id"), col("ts"), col("user_id"), col("value"))

  test("z-ordered write preserves rows exactly") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    Lake.zOrderShape(events, Seq("user_id", "value"), numFiles = 32)
      .write.parquet(s"$dir/z")
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == events.count())
    // set equality row-for-row (event_id unique → multiset == set)
    assert(back.select(events.columns.map(col): _*).except(events).isEmpty)
    assert(events.except(back.select(events.columns.map(col): _*)).isEmpty)
    assert(back.columns.sorted.toSeq == events.columns.sorted.toSeq) // no __zv leak
  }

  test("z-order tolerates null dimension values (nulls cluster, rows survive)") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val withNulls = events.withColumn("value",
      when(col("event_id") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("value")))
    Lake.zOrderShape(withNulls, Seq("user_id", "value"), numFiles = 8)
      .write.parquet(s"$dir/z")
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == withNulls.count())
    assert(back.filter(col("value").isNull).count() ==
      withNulls.filter(col("value").isNull).count())
  }

  test("rank buckets are monotone and span the range") {
    val bounds = Array(10.0, 20.0, 30.0)
    val rb = graft.functions.RankBucket(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(0.0)), bounds)
    assert(rb.compute(5.0) == 0 && rb.compute(10.0) == 0)
    assert(rb.compute(10.5) == 1 && rb.compute(25.0) == 2)
    assert(rb.compute(31.0) == 3)
  }
}
