package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Normalization transforms (SURVEY §2.7 N1-N3) — the reference's
  * `data_normalizer.py`. Transform/inverse are pure row expressions; the
  * fit comes in two forms that compute the same stats bit for bit (one
  * decimal-exact tree from [[graft.functions]], wrapped either way):
  *
  *  - [[zscoreFit]] / [[minmaxFit]]: a single global aggregate reduced to
  *    a few doubles and broadcast back. The plan reads its source twice
  *    (once for the aggregate, once for the rows) but keeps every row
  *    task parallel — the right form for a standalone caller at scale.
  *  - [[zscoreFitWindow]] / [[minmaxFitWindow]]: the same aggregates over
  *    the whole-frame window `Window.partitionBy()`. The source is read
  *    once, but every row passes through one task — the form for a plan
  *    that already gathers the frame into one partition (as
  *    [[Split.chronological]]'s row count does), where the stats then
  *    cost no exchange, no broadcast job and no second read.
  *
  * The fitted stats survive as columns (`__mu_c` etc.) until [[finish]]
  * drops them — callers that need the inverse keep them (the reference
  * caches scalers for `inverse_transform`, data_normalizer.py:43-59).
  */
object Normalize {

  private val wholeFrame: Column => Column = _.over(Window.partitionBy())

  private def zscoreStats(cols: Seq[String], agg: Column => Column): Seq[Column] =
    cols.flatMap(c => Seq(exactAvg(col(c), agg).as(s"__mu_$c"),
      exactStdSamp(col(c), agg).as(s"__sd_$c")))

  private def minmaxStats(cols: Seq[String], agg: Column => Column): Seq[Column] =
    cols.flatMap(c => Seq(agg(min(col(c))).as(s"__mn_$c"),
      agg(max(col(c))).as(s"__mx_$c")))

  private def broadcastFit(df: DataFrame, stats: Seq[Column]): DataFrame =
    df.crossJoin(broadcast(df.agg(stats.head, stats.tail: _*)))

  private def windowFit(df: DataFrame, stats: Seq[Column]): DataFrame =
    df.select(col("*") +: stats: _*)

  /** N1 — z-score: (x − μ)/σ, sample σ (pandas `std`, ddof=1). */
  def zscoreFit(df: DataFrame, cols: Seq[String]): DataFrame =
    broadcastFit(df, zscoreStats(cols, identity))

  /** [[zscoreFit]]'s stats as whole-frame window aggregates. */
  def zscoreFitWindow(df: DataFrame, cols: Seq[String]): DataFrame =
    windowFit(df, zscoreStats(cols, wholeFrame))

  // try_divide in the transforms: a constant column (σ=0 or max=min) yields
  // NULL instead of an ANSI DIVIDE_BY_ZERO job failure — matching DuckDB
  // float-division semantics; identical doubles whenever the divisor is ≠0.
  def zscoreTransform(fitted: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(fitted)((d, c) =>
      d.withColumn(c, try_divide(col(c) - col(s"__mu_$c"), col(s"__sd_$c"))))

  def zscoreInverse(fitted: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(fitted)((d, c) =>
      d.withColumn(c, col(c) * col(s"__sd_$c") + col(s"__mu_$c")))

  /** N2 — min-max: (x − min)/(max − min). */
  def minmaxFit(df: DataFrame, cols: Seq[String]): DataFrame =
    broadcastFit(df, minmaxStats(cols, identity))

  /** [[minmaxFit]]'s stats as whole-frame window aggregates. */
  def minmaxFitWindow(df: DataFrame, cols: Seq[String]): DataFrame =
    windowFit(df, minmaxStats(cols, wholeFrame))

  def minmaxTransform(fitted: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(fitted)((d, c) =>
      d.withColumn(c, try_divide(col(c) - col(s"__mn_$c"), col(s"__mx_$c") - col(s"__mn_$c"))))

  def minmaxInverse(fitted: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(fitted)((d, c) =>
      d.withColumn(c, col(c) * (col(s"__mx_$c") - col(s"__mn_$c")) + col(s"__mn_$c")))

  /** N3 — log normalize: ln(1+x); inverse exp(x)−1 (data_normalizer.py:60-63).
    * Deliberately `ln(1+x)` via [[graft.functions.JavaLog]] rather than
    * builtin `log1p`: DuckDB has no log1p, and Spark's builtin log uses
    * StrictMath which differs from libm by 1 ulp on some inputs, breaking
    * the bit-exact oracle hash. The ≤1 ulp difference is irrelevant for
    * normalization semantics.
    */
  def logTransform(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, JavaMath.jlog(lit(1.0) + col(c))))

  def logInverse(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, exp(col(c)) - lit(1.0)))

  /** Drop fitted-stat columns once the inverse is no longer needed. */
  def finish(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith("__")): _*)
}
