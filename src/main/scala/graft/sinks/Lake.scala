package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File sinks (SURVEY §2.1 K1-K3, K8): the partitioned parquet lake plus
  * CSV/JSON exports, replacing the reference's per-file archive layout
  * `archives/{year}/{month}/{symbol}/...parquet.zlib`
  * (data_storage_manager.py:113-131) with a proper columnar lake.
  *
  * Scale design: `partitionBy(year, month, symbol)` gives Catalyst partition
  * pruning on exactly the predicates the reference's queries use
  * (symbol + time range); rows are clustered by (symbol, ts) inside each
  * file via sortWithinPartitions so parquet row-group min/max stats prune
  * scans further (the analog of TimescaleDB's (symbol, time DESC) index +
  * segment-by-symbol compression, timescaledb_schema.sql:22-36). zstd
  * replaces the reference's whole-file zlib/lzma rewrap — splittable and
  * decoded lazily per column.
  */
object Lake {

  /** K1/K8 — write the OHLCV lake: derive year/month partitions from ts,
    * cluster by (symbol, ts) within files.
    */
  def writeArchive(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
      .repartition(col("year"), col("month"))
      .sortWithinPartitions(col("year"), col("month"), col("symbol"), col("ts"))
      .write.mode(mode)
      .option("compression", "zstd")
      .partitionBy("year", "month")
      .parquet(path)

  /** Read the lake back; symbol/time predicates prune partitions + row
    * groups (T4's multi-month concat is just a multi-partition scan).
    */
  def readArchive(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed table for co-located joins: both sides of a recurring
    * fact-fact join written with the same bucket spec join WITHOUT any
    * Exchange (the 100 TB answer to "this join shuffles every query") —
    * the Spark analog of co-partitioned hypertables. Asserted shuffle-free
    * in SinksSourcesSpec.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** The z-ordered LAYOUT without the write: `df` range-partitioned into
    * `numFiles` slices of the interleaved z-value and sorted within each —
    * one file per partition when written as-is. Z-ordering interleaves
    * the bits of each dimension's QUANTILE RANK (one `approxQuantile`
    * pass, 2^bits doubles of driver state per column; the native
    * [[graft.functions.RankBucket]] + integer shifts are codegen'd), so a
    * box selective in d dims touches ~∏(selectivityᵢ) of the files.
    * Used by [[SnapshotLake.optimizeZOrder]], which stages the shaped
    * frame itself so the new layout and its per-file envelopes commit in
    * one manifest version. Bucket count 2^bits per column; bits·|zCols|
    * ≤ 62.
    */
  def zOrderShape(df: DataFrame, zCols: Seq[String],
      numFiles: Int, bits: Int = 12): DataFrame = {
    require(zCols.nonEmpty, "zCols must be non-empty")
    require(bits >= 1 && bits * zCols.size <= 62,
      s"bits * zCols must fit a long, got $bits * ${zCols.size}")
    val m = zCols.size
    val nBounds = (1 << bits) - 1
    val probs = (1 to nBounds).map(_.toDouble / (1 << bits)).toArray
    val doubled = zCols.foldLeft(df)((d, c) =>
      d.withColumn(s"__zq_$c", col(c).cast("double")))
    val bounds = doubled.stat.approxQuantile(
      zCols.map(c => s"__zq_$c").toArray, probs, 0.001)
    val buckets = zCols.zip(bounds).map { case (c, b) =>
      graft.functions.Zorder.rankBucket(col(s"__zq_$c"), b)
    }
    // bit-interleave: bit b of bucket j lands at position b*m + j — pure
    // integer shifts, codegen'd; z-adjacent rows agree on high bits of
    // every dimension
    val zv = (0 until bits).flatMap { b =>
      buckets.zipWithIndex.map { case (bk, j) =>
        shiftleft(shiftright(bk, b).bitwiseAND(lit(1L)), b * m + j)
      }
    }.reduce(_.bitwiseOR(_))
    doubled.withColumn("__zv", zv)
      .repartitionByRange(numFiles, col("__zv"))
      .sortWithinPartitions("__zv")
      .select(df.columns.map(col): _*)
  }

  /** Retention/TTL janitor — drop year/month partitions older than
    * `keepMonths` (counted back from `asOf`, exclusive), the lake analog of
    * the reference's retention policies (timescaledb_schema.sql:40: drop
    * raw >1 y; :70: drop 1 h aggregate >5 y; cleanup loop
    * data_storage_manager.py:418-465).
    *
    * Pure directory-level delete: no data file is read or rewritten, so
    * the cost is O(partitions dropped), not O(lake size) — at 100 TB the
    * janitor touches metadata only. Returns the dropped partition dirs
    * (relative, e.g. "year=2023/month=4").
    */
  def expirePartitions(spark: SparkSession, path: String, keepMonths: Int,
      asOf: java.time.YearMonth = java.time.YearMonth.now(java.time.ZoneOffset.UTC)): Seq[String] = {
    require(keepMonths >= 1, s"keepMonths must be >= 1, got $keepMonths")
    val horizon = asOf.minusMonths(keepMonths.toLong - 1) // keep [horizon, asOf]
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Nil
    val dropped = for {
      y <- fs.listStatus(root).toSeq
      if y.isDirectory && y.getPath.getName.startsWith("year=")
      yr = y.getPath.getName.stripPrefix("year=").toInt
      m <- fs.listStatus(y.getPath).toSeq
      if m.isDirectory && m.getPath.getName.startsWith("month=")
      mo = m.getPath.getName.stripPrefix("month=").toInt
      if java.time.YearMonth.of(yr, mo).isBefore(horizon)
    } yield {
      fs.delete(m.getPath, true)
      s"year=$yr/month=$mo"
    }
    // prune now-empty year dirs so partition discovery stays clean
    fs.listStatus(root).foreach { y =>
      if (y.isDirectory && y.getPath.getName.startsWith("year=") &&
        fs.listStatus(y.getPath).isEmpty) fs.delete(y.getPath, true)
    }
    dropped.sorted
  }

  /** K2 — CSV export (header, reference crypto_pipeline.py:326-327). */
  def writeCsv(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** K3 — JSON-lines export (reference crypto_pipeline.py:328-329's
    * orient="records").
    */
  def writeJson(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)
}
