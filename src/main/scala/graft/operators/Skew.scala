package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys (SURVEY §7.3.3: one dominant symbol like
  * BTCUSDT is the natural skew at 100 TB).
  *
  * AQE's skew-join handling covers joins; for AGGREGATIONS over a hot key,
  * two-phase salted aggregation keeps every task bounded: phase 1 groups by
  * (key, salt) — hot keys fan out over `buckets` tasks — phase 2 merges the
  * partials per key. Only algebraic aggregates compose this way; the helper
  * takes the per-phase expressions explicitly so the caller states the
  * merge (sum→sum, count→sum, min→min, max→max...).
  */
object Skew {

  /** Deterministic salt in [0, buckets) — hashed from the full row via a
    * stable id column, not `rand()` (reproducibility under retries).
    */
  def salt(id: Column, buckets: Int): Column =
    pmod(xxhash64(id), lit(buckets.toLong))

  /** Two-phase aggregation: `phase1` aggregates within (keys, salt),
    * `phase2` merges partials per keys. Column names must line up:
    * phase2 expressions reference phase1 output aliases.
    */
  def saltedAgg(df: DataFrame, keys: Seq[Column], id: Column, buckets: Int,
      phase1: Seq[Column], phase2: Seq[Column]): DataFrame =
    df.withColumn("__salt", salt(id, buckets))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(phase1.head, phase1.tail: _*)
      .groupBy(keys: _*)
      .agg(phase2.head, phase2.tail: _*)

  /** The common case pre-wired: count + sum + min + max per key. */
  def saltedStats(df: DataFrame, key: Column, id: Column, valueCol: Column,
      buckets: Int = 16): DataFrame =
    saltedAgg(df, Seq(key), id, buckets,
      phase1 = Seq(
        count(lit(1)).as("__n"),
        sum(valueCol.cast("decimal(38,10)")).as("__s"),
        min(valueCol).as("__mn"),
        max(valueCol).as("__mx")),
      phase2 = Seq(
        sum(col("__n")).as("n"),
        sum(col("__s")).cast("double").as("sum"),
        min(col("__mn")).as("min"),
        max(col("__mx")).as("max")))

  /** Hot-key mitigation for WINDOW functions (SURVEY §7.3.3's
    * (symbol, month) pre-bucketing with carryover): a per-symbol ordered
    * window puts one symbol's whole series in ONE task — AQE cannot split
    * a window partition, so a 90%-hot symbol serializes the pass. For
    * indicators whose value depends on at most the trailing `halo` rows
    * (finite-window SMA/Bollinger/Cutler-RSI/ATR/lags — NOT the
    * infinite-memory EMA/MACD), the series can instead be cut into
    * (keys, chunk) buckets with the last `halo` rows of each chunk
    * REPLAYED into the next as warm-up context: every chunk computes in
    * parallel, the replayed rows rebuild the trailing state, and the
    * halo copies are dropped on the way out.
    *
    * Exactness: the cumulative-difference frames in
    * [[Indicators.slidingDecSum]]-style columns telescope to the trailing
    * n rows in EXACT decimal arithmetic, so as long as `halo` ≥ the
    * largest window + lag the chunked result is bit-identical to the
    * plain per-symbol window (asserted in SkewAndSqlSpec).
    *
    * `chunk` must be a monotone non-decreasing function of the series
    * `order` (e.g. a month index of its leading time column). The replayed
    * context for each chunk is the last `halo` rows before its first row
    * in SERIES order — resolved against the actual data, so it spans
    * several preceding chunks when those are shorter than `halo` and skips
    * over calendar chunks with no rows at all. Pass the FULL order incl.
    * tie-breaks so the replayed tail is deterministic when timestamps
    * collide.
    *
    * Cost: one extra column pass (the per-chunk tail ranking), a
    * dimension-sized per-(key, chunk) census whose self-join plans the
    * replay (broadcast back — the big table never self-joins), and up to
    * `halo` duplicated rows per (key, chunk). Choose the chunk granularity
    * so a typical chunk holds ≫ `halo` rows; pathologically tiny chunks
    * replay each row into many targets.
    */
  def chunkedSeries(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      chunk: Column, halo: Int)(
      add: (DataFrame, Indicators.Series) => DataFrame): DataFrame = {
    // EXPLICIT repartition on (keys, chunk): a source already hashed on
    // keys alone (any per-symbol upstream window or shuffle leaves it so)
    // SATISFIES ClusteredDistribution(keys, chunk) by the subset rule, so
    // EnsureRequirements would insert NO exchange and the hot key's whole
    // series would stay serial on one partition — silently undoing the
    // entire point of chunking (measured: chunked == plain wall-clock
    // until this repartition; 3-4x faster after).
    val base = df.withColumn("__chunk", chunk.cast("long"))
      .withColumn("__k", struct(keys: _*))
      .repartition(keys :+ col("__chunk"): _*)
    val fromEnd = org.apache.spark.sql.expressions.Window
      .partitionBy(keys :+ col("__chunk"): _*).orderBy(order.map(_.desc): _*)
    // marked feeds FOUR plan consumers (the census twice via its self-join,
    // the main union arm, and the halo-replay arm) and Catalyst re-evaluates
    // the whole upstream pipeline — source scan, any caller windows, the
    // repartition and the tail-rank window — once per consumer (measured on
    // w12: 4 parquet scans, 26 exchanges). Materialize it once; every
    // consumer then reads the materialized partitions instead of recomputing
    // the corpus pipeline. A persist ([[graft.Reuse]]: released by whoever
    // runs the action), NOT localCheckpoint, for this CORPUS-sized frame: a
    // local checkpoint truncates lineage and pins blocks to executors, so
    // one lost executor on a preemptible cluster fails the whole job; the
    // persist keeps lineage intact (a lost partition recomputes) at the
    // same reuse benefit. The dimension-sized census below keeps its
    // localCheckpoint — there the point is AQE size discovery and the
    // blocks are trivially rebuilt.
    val marked = graft.Reuse.persist(
      base.withColumn("__from_end", row_number().over(fromEnd)))

    // A chunk's warm-up context is the last `halo` rows BEFORE its first
    // row in series order — which span SEVERAL preceding chunks when those
    // are short, and skip over chunks with no rows at all (a naive
    // carry-into-chunk+1 loses the halo at every gap). Resolve the
    // (source chunk → target chunk, rows-to-replay) plan on the per-chunk
    // CENSUS — keys × chunks rows, dimension-sized — so the big table
    // never self-joins: rows strictly between source k and target c are
    // `cum_before(c) - cum_incl(k)`, and k must replay its last
    // `halo - between` rows (capped at its size) into c.
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__chunk"))
    // the census is dimension-sized (keys × chunks rows) and consumed by
    // BOTH sides of the replay-plan self-join: checkpoint the tiny frame so
    // the aggregate runs once and AQE sees its true (small) size
    val census = marked.groupBy(col("__k"), col("__chunk"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__cum_incl", sum(col("__n")).over(cumW))
      .localCheckpoint()
    val src = census.select(col("__k"), col("__chunk"),
      col("__n").as("__sn"), col("__cum_incl").as("__scum"))
    val tgt = census.select(col("__k").as("__tk"), col("__chunk").as("__tgt"),
      (col("__cum_incl") - col("__n")).as("__tbefore"))
    val between = col("__tbefore") - col("__scum")
    val plan = src.join(tgt,
        col("__k") === col("__tk") && col("__chunk") < col("__tgt") &&
          between < halo)
      .select(col("__k"), col("__chunk"), col("__tgt"),
        least(col("__sn"), lit(halo.toLong) - between).as("__take"))

    val carried = marked
      .join(broadcast(plan), Seq("__k", "__chunk"))
      .filter(col("__from_end") <= col("__take"))
      .withColumn("__chunk", col("__tgt"))
      .drop("__tgt", "__take")
      .withColumn("__halo", lit(true))
    val work = marked.withColumn("__halo", lit(false)).unionByName(carried)
      .repartition(keys :+ col("__chunk"): _*)
    add(work, Indicators.Series(keys :+ col("__chunk"), order))
      .filter(!col("__halo"))
      .drop("__chunk", "__halo", "__from_end", "__k")
  }

  /** The finite-memory indicator fan-out (everything in
    * [[Indicators.withIndicators]] except the infinite-memory
    * EMA/MACD columns) computed via [[chunkedSeries]] — the variant to
    * reach for when one symbol dominates the corpus. `halo` defaults to
    * 201 = the largest window (sma_200) + one lag row (true range /
    * RSI delta).
    */
  def chunkedFiniteIndicators(df: DataFrame, keys: Seq[Column],
      order: Seq[Column], chunk: Column, halo: Int = 201): DataFrame =
    chunkedSeries(df, keys, order, chunk, halo)(finiteIndicators)

  /** Halo length that bounds an `adjust=False` EMA's truncated-history
    * error below `tol` (relative to the series' value range): two EMA
    * recursions differing only in their starting state converge by a
    * factor of (1-alpha) per row, so after `halo` replayed warm-up rows
    * the chunked state is within `(1-alpha)^halo <= tol` of the exact one
    * — null gaps only ADD decay (ignore_na=false keeps discounting
    * through them), so the bound holds on gappy series too. tol = 1e-12
    * puts a span-26 EMA within double-precision noise after 360 rows.
    */
  def emaHalo(span: Int, tol: Double = 1e-12): Int = {
    require(span >= 1, s"span must be >= 1, got $span")
    require(tol > 0 && tol < 1, s"tol must be in (0,1), got $tol")
    math.ceil(math.log(tol) / math.log1p(-2.0 / (span + 1))).toInt
  }

  /** Hot-key mitigation for the INFINITE-memory indicator columns
    * (EMA-12/26, MACD, signal, histogram) — the set [[chunkedFiniteIndicators]]
    * excludes. These have no finite exact halo, but their dependence on
    * history decays geometrically, so a [[emaHalo]]-sized replayed warm-up
    * makes the chunked result APPROXIMATE with a proven bound: each EMA is
    * within `tol x range(close)` of exact, and the signal line — an EMA
    * whose INPUT (macd) already carries up to `(1-a26)^j x range` error at
    * halo position j — compounds to at most `~halo x tol x range` with a
    * single halo, which the default DOUBLED halo crushes back below
    * `tol x range` (the accumulated-input sum is then `<= halo x tol^2`).
    * Asserted empirically in SkewAndSqlSpec (observed error at the default
    * halo: ~1e-12 relative; an undersized halo visibly diverges).
    *
    * NOT oracle-gated (the repo's bit-exactness discipline reserves that
    * for exact paths); this is the documented trade-off when one symbol
    * dominates and the plain serial window (the exact path, 3.9x degraded
    * at 90% skew — BASELINE.md) is too slow.
    */
  def chunkedEmaMacd(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      chunk: Column, halo: Int = 2 * 360): DataFrame =
    chunkedSeries(df, keys, order, chunk, halo)(emaMacd)

  /** The EMA/MACD column set over any [[Indicators.Series]] — the plain
    * exact formulation [[chunkedEmaMacd]] approximates, and the baseline
    * its error bound is measured against.
    */
  def emaMacd(work: DataFrame, s: Indicators.Series): DataFrame = {
    val c = col("close")
    work.select(col("*"),
        Indicators.ema(c, 12, s).as("ema_12"),
        Indicators.ema(c, 26, s).as("ema_26"))
      .withColumn("macd", col("ema_12") - col("ema_26"))
      .withColumn("macd_signal", Indicators.ema(col("macd"), 9, s))
      .withColumn("macd_hist", col("macd") - col("macd_signal"))
  }

  /** The finite-memory column set itself, over any [[Indicators.Series]] —
    * the plain (per-symbol window) formulation [[chunkedFiniteIndicators]]
    * is bit-equal to, and the fair baseline to benchmark it against.
    */
  def finiteIndicators(work: DataFrame, s: Indicators.Series): DataFrame = {
    val c = col("close")
    val sma20 = Indicators.sma(c, 20, s)
    val (avgGain, avgLoss) = Indicators.rsiAverages(c, 14, s)
    work.select(col("*"),
        sma20.as("sma_20"),
        Indicators.sma(c, 50, s).as("sma_50"),
        Indicators.sma(c, 200, s).as("sma_200"),
        avgGain.as("__avg_gain"),
        avgLoss.as("__avg_loss"),
        sma20.as("bb_middle"),
        Indicators.rollingStdSamp(c, 20, s).as("bb_std"),
        Indicators.atr(col("high"), col("low"), c, 14, s).as("atr_14"))
      .withColumn("rsi_14",
        Indicators.rsiFromAverages(col("__avg_gain"), col("__avg_loss")))
      .withColumn("bb_upper", col("bb_middle") + lit(2.0) * col("bb_std"))
      .withColumn("bb_lower", col("bb_middle") - lit(2.0) * col("bb_std"))
      .drop("bb_std", "__avg_gain", "__avg_loss")
  }
}
