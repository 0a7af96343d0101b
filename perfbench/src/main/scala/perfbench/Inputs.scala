package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded 1-minute OHLCV bars, made with `spark.range` and hash
  * expressions only, so the inputs do not depend on the engine under test.
  * The same seed gives the same rows, bit for bit.
  *
  * Row `id` of a frame is minute `id / symbols`, symbol `id % symbols`,
  * counted from `firstMinute`; minute 0 is 2024-01-01 00:00 (UTC, stored as
  * TIMESTAMP_NTZ, which parquet footers carry min/max statistics for).
  */
object Inputs {

  val Epoch0: Long = 1704067200L // 2024-01-01T00:00:00Z

  def symbol(sid: Int): String = f"S$sid%03d"

  def minuteTs(minute: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(Epoch0 + minute * 60L, 0, java.time.ZoneOffset.UTC)

  def micros(ts: java.time.LocalDateTime): Long =
    ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  /** Uniform in [0, 1), a pure function of (seed, sid, minute, k). */
  private def u(seed: Long, k: Int): Column =
    pmod(xxhash64(lit(seed), col("sid"), col("minute"), lit(k)), lit(1000000L)) / 1e6

  /** Clean bars for minutes [firstMinute, firstMinute + minutes): OHLC
    * consistent, every price positive, volume a positive whole number. */
  def clean(spark: SparkSession, seed: Long, symbols: Int, firstMinute: Long,
      minutes: Long): DataFrame = {
    val level = lit(20.0) + pmod(xxhash64(lit(seed), col("sid")), lit(200L))
    val close = round(level * (lit(1.0) + sin(col("minute") / 37.0 + col("sid")) * 0.02) +
      u(seed, 1) - 0.5, 2)
    val open = round(close + u(seed, 2) - 0.5, 2)
    spark.range(symbols.toLong * minutes)
      .select(
        (col("id") % symbols).cast("int").as("sid"),
        (col("id") / symbols).cast("long").plus(firstMinute).as("minute"))
      .select(col("sid"), col("minute"), close.as("close"), open.as("open"),
        u(seed, 3).as("u3"), u(seed, 4).as("u4"), u(seed, 5).as("u5"))
      .select(
        col("sid"), col("minute"),
        concat(lit("S"), lpad(col("sid").cast("string"), 3, "0")).as("symbol"),
        timestamp_seconds(lit(Epoch0) + col("minute") * 60L).cast("timestamp_ntz").as("ts"),
        col("open"),
        (greatest(col("open"), col("close")) + round(col("u3"), 2)).as("high"),
        (least(col("open"), col("close")) - round(col("u4"), 2)).as("low"),
        col("close"),
        (floor(col("u5") * 10000) + 1).cast("double").as("volume"))
  }

  val BarCols: Seq[String] = Seq("symbol", "ts", "open", "high", "low", "close", "volume")

  /** Defect classes of the dirty ETL input, by share of the clean rows:
    * 1% null close, 0.5% negative volume, 0.5% OHLC violation (high below
    * low), and 2% of rows whose key is sent twice. The second copy has a
    * later `event_id` and a different volume, so keeping the first copy is
    * observable. The classes are disjoint and the second copies are clean,
    * so the injected counts are exactly what the validation report must
    * observe. */
  def dirty(spark: SparkSession, seed: Long, symbols: Int, minutes: Long): DataFrame = {
    val r = pmod(xxhash64(lit(seed), lit(99), col("sid"), col("minute")), lit(10000L))
    val base = clean(spark, seed, symbols, 0L, minutes)
      .withColumn("kind",
        when(r < 100, "null_close").when(r < 150, "neg_volume")
          .when(r < 200, "ohlc").when(r < 400, "dup").otherwise("ok"))
      .withColumn("event_id", (col("minute") * symbols + col("sid")) * 2)
    val injected = base
      .withColumn("close", when(col("kind") === "null_close", lit(null).cast("double"))
        .otherwise(col("close")))
      .withColumn("volume", when(col("kind") === "neg_volume", -col("volume"))
        .otherwise(col("volume")))
      .withColumn("high", when(col("kind") === "ohlc", col("low") - 0.5)
        .otherwise(col("high")))
    val copies = base.filter(col("kind") === "dup")
      .withColumn("kind", lit("dup_copy"))
      .withColumn("event_id", col("event_id") + 1)
      .withColumn("volume", col("volume") + 1)
    injected.unionByName(copies)
  }
}
