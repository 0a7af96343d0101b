package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column helpers shared across operators.
  *
  * Oracle-exactness discipline: the driver hash-compares our parquet output
  * against DuckDB with no documented rounding, so every float AGGREGATE must
  * be order-independent and bit-identical in both engines. Double summation
  * is neither (shuffle order varies) — so sums/means/variances go through
  * DECIMAL(38,10) (exact, commutative) and are cast back to double at the
  * very end with the same expression tree the oracle SQL uses.
  */
package object functions {

  /** Epoch microseconds of a TIMESTAMP_NTZ column (session TZ must be UTC).
    * Oracle mirror: `epoch_us(ts)`.
    */
  def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  private val Dec = "decimal(38,10)"

  /** Order-independent exact sum of a double column, returned as double.
    * Oracle mirror: `CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE)`.
    *
    * `agg` wraps each aggregate call of the tree (here and in [[exactAvg]],
    * [[exactVarSamp]], [[exactStdSamp]]): the default leaves a plain
    * `groupBy`/`agg` aggregate, `_.over(Window.partitionBy())` makes the
    * same tree a whole-frame window aggregate. Decimal addition is exact,
    * so both forms give the same double bit for bit.
    */
  def exactSum(c: Column, agg: Column => Column = identity): Column =
    agg(exactSumDec(c)).cast("double")

  /** [[exactSum]] WITHOUT the final double cast — the decimal bucket sum a
    * roll-up table materializes (`sum_<col>`) so that
    * [[graft.plans.RollupRewrite]] can re-aggregate it exactly: decimal
    * addition is associative, so sum-of-bucket-sums is bit-identical to the
    * raw decimal sum, with the double rounding happening once, at the top.
    */
  def exactSumDec(c: Column): Column = sum(c.cast(Dec))

  /** Decimal sum of squares (`sum2_<col>`) — the roll-up counterpart of the
    * sum-of-squares term in [[exactVarSamp]], re-aggregable the same way.
    */
  def exactSumSqDec(c: Column): Column = sum((c * c).cast(Dec))

  /** Exact mean: decimal sum cast to double, divided by count — the division
    * is a single deterministic double op.
    * Oracle mirror: `CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / count(x)`.
    */
  def exactAvg(c: Column, agg: Column => Column = identity): Column =
    exactSum(c, agg) / agg(count(c)).cast("double")

  /** Exact sample variance via decimal sum / sum-of-squares:
    * (sumsq - sum^2/n) / (n-1), all final arithmetic in double; NULL for a
    * single value (n = 1), as `var_samp` gives, instead of an ANSI
    * divide-by-zero error.
    * Oracle mirror — keep the tree shape identical:
    * `(CAST(sum(CAST(x*x AS DECIMAL(38,10))) AS DOUBLE)
    *   - CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE)
    *     * CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / count(x))
    *  / NULLIF(count(x) - 1, 0)`.
    */
  def exactVarSamp(c: Column, agg: Column => Column = identity): Column = {
    val s = exactSum(c, agg)
    val sq = agg(exactSumSqDec(c)).cast("double")
    val n = agg(count(c)).cast("double")
    try_divide(sq - s * s / n, n - lit(1.0))
  }

  /** Exact sample stddev; oracle mirror `sqrt(<exactVarSamp sql>)`. */
  def exactStdSamp(c: Column, agg: Column => Column = identity): Column =
    sqrt(exactVarSamp(c, agg))

  /** Exact sum for PRICE-LIKE doubles (true values have ≤4 decimal digits,
    * stored with ±few-ulp float noise). At DECIMAL(38,10) that noise can
    * round to DIFFERENT 1e-10 lattice points across engines (Spark rounds
    * the shortest decimal repr, DuckDB the binary value); at scale 4 the
    * noise is ~1e-7 lattice units from any tie, so both engines agree.
    * Oracle mirror: [[OracleSql.exactSumPrice]].
    */
  def exactSumPrice(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Exact sum of `price * (1 - frac)` for price-like data (≤4 true decimal
    * digits). Casting the double PRODUCT to decimal is not portable (Spark
    * rounds the shortest decimal repr, DuckDB the binary value) — so cast
    * each low-digit FACTOR to decimal (exact in both engines), multiply in
    * decimal (exact), sum, and cast once at the end.
    * Oracle mirror: [[OracleSql.exactSumOneMinus]].
    */
  def exactSumOneMinus(price: Column, frac: Column): Column = {
    val d = "decimal(18,4)"
    sum(price.cast(d) * (lit(1).cast(d) - frac.cast(d))).cast("double")
  }
}
