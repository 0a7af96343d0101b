package graft.functions

/** DuckDB SQL fragments mirroring the exact-aggregate helpers in
  * [[graft.functions]]. Keeping both sides generated from one place avoids
  * expression-tree drift that would break bit-exact hash comparison.
  */
object OracleSql {
  def epochUs(c: String): String = s"epoch_us($c)"

  def exactSum(c: String): String =
    s"CAST(sum(CAST($c AS DECIMAL(38,10))) AS DOUBLE)"

  def exactAvg(c: String): String =
    s"${exactSum(c)} / CAST(count($c) AS DOUBLE)"

  def exactVarSamp(c: String): String =
    s"(CAST(sum(CAST($c*$c AS DECIMAL(38,10))) AS DOUBLE) - ${exactSum(c)} * ${exactSum(c)} / CAST(count($c) AS DOUBLE)) / NULLIF(CAST(count($c) AS DOUBLE) - 1.0, 0.0)"

  def exactStdSamp(c: String): String = s"sqrt(${exactVarSamp(c)})"

  def exactSumPrice(c: String): String =
    s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)"

  def exactSumOneMinus(price: String, frac: String): String =
    s"CAST(sum(CAST($price AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST($frac AS DECIMAL(18,4)))) AS DOUBLE)"

  // ------------------------------------------------------------------
  // TextHash mirrors (see graft.functions.TextHash)

  /** 60-bit md5-prefix hash — mirrors [[graft.functions.TextHash.tokenHash]]. */
  def tokenHash(c: String): String =
    s"CAST(concat('0x', substr(md5($c), 1, 15)) AS BIGINT)"

  /** Whitespace tokens, empties dropped — mirrors TextHash.tokens. */
  def tokens(c: String): String =
    s"list_filter(string_split($c, ' '), t -> t <> '')"

  def tokenSet(c: String): String = s"list_distinct(${tokens(c)})"
}
