package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{epochUs, exactAvg, exactSum, OracleSql => O}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 claimed as implemented has an entry in
  * [[queries]]; SQL-expressible ones also have a DuckDB oracle in
  * [[oracleSql]] with IDENTICAL output column names (the driver sorts columns
  * by name before hashing). Float aggregates follow the exact-decimal
  * discipline of [[graft.functions]] so hashes match bit-for-bit.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Per-symbol stats over the OHLCV bars — the reference's
    * pipeline_status_report.py:100-114 GROUP BY (A5).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("a5_grouped_stats")(spark, "/root/testdata/sf0.001")

  /** Run declared query `name` and hand its DataFrame to `action` — the
    * one way `Verify`, `Bench` and `graft.tools.Prof` execute a query
    * (gate stage 1a rejects a direct `queries(name)` call). Frames the
    * query materialized for reuse ([[Reuse.persist]]) are released once
    * `action` has returned or thrown, so a query leaves no cache entry.
    */
  def run[A](spark: SparkSession, name: String, sfDir: String)(
      action: DataFrame => A): A =
    Reuse.releasing(action(queries(name)(spark, sfDir)))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = base ++
    graft.operators.CleaningQueries.queries ++
    graft.operators.IndicatorQueries.queries ++
    graft.operators.StatsQueries.queries ++
    graft.operators.RelQueries.queries ++
    graft.operators.PrepQueries.queries ++
    graft.operators.TextQueries.queries ++
    graft.operators.DedupQueries.queries ++
    graft.operators.CorpusQueries.queries ++
    graft.operators.VectorQueries.queries ++
    graft.operators.MultimodalQueries.queries ++
    graft.operators.ScaleQueries.queries ++
    graft.operators.QualityQueries.queries

  private def base: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g1_synthetic_bars" -> ((s, _) =>
      graft.sources.Generator.ohlcv(s, Seq("alpha", "beta"), 200)
        .select(col("symbol"), epochUs(col("ts")).as("ts_us"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))),
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(exactSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))),
    "a5_grouped_stats" -> ((s, dir) =>
      Tables.bars(s, dir)
        .groupBy("symbol")
        .agg(
          count(lit(1)).as("n_bars"),
          min(epochUs(col("ts"))).as("min_ts_us"),
          max(epochUs(col("ts"))).as("max_ts_us"),
          min("low").as("min_low"),
          max("high").as("max_high"),
          exactAvg(col("open")).as("avg_open"),
          exactSum(col("volume")).as("sum_volume")))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = baseOracle ++
    graft.operators.CleaningQueries.oracle ++
    graft.operators.IndicatorQueries.oracle ++
    graft.operators.StatsQueries.oracle ++
    graft.operators.RelQueries.oracle ++
    graft.operators.PrepQueries.oracle ++
    graft.operators.TextQueries.oracle ++
    graft.operators.DedupQueries.oracle ++
    graft.operators.CorpusQueries.oracle ++
    graft.operators.VectorQueries.oracleAll ++
    graft.operators.MultimodalQueries.oracle ++
    graft.operators.ScaleQueries.oracle ++
    graft.operators.QualityQueries.oracle

  private def baseOracle: Map[String, String] = Map(
    "g1_synthetic_bars" -> (graft.sources.Generator.ohlcvSql(Seq("alpha", "beta"), 200) +
      s"""
         |SELECT symbol, ${O.epochUs("ts")} AS ts_us, open, high, low, close, volume
         |FROM gen""".stripMargin),
    "q1_agg" ->
      s"""SELECT l_returnflag, ${O.exactSum("l_quantity")} AS sum_qty, count(*) AS n
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a5_grouped_stats" -> (Tables.barsSql +
      s"""
         |SELECT symbol, count(*) AS n_bars,
         |       min(${O.epochUs("ts")}) AS min_ts_us,
         |       max(${O.epochUs("ts")}) AS max_ts_us,
         |       min(low) AS min_low, max(high) AS max_high,
         |       ${O.exactAvg("open")} AS avg_open,
         |       ${O.exactSum("volume")} AS sum_volume
         |FROM bars GROUP BY symbol""".stripMargin)
  )
}
