package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextHash

/** One-stop dataset profiling — the ANALYZE/data-profiling operator every
  * warehouse ships, composed from the engine's sketch layer so the cost
  * is THREE bounded passes regardless of column count:
  *
  *  1. one aggregate scan: exact row count, per-column null counts and
  *     (numeric) min/max — a single row out;
  *  2. one HLL pass for per-column approximate distinct counts: each row
  *     explodes into ≤C (column, hash) entries that combine map-side
  *     into ≤C·2^p registers — the shuffle is kilobytes per task no
  *     matter how many rows;
  *  3. one bottom-k sample pass ([[Sketch.sampleBottomK]], global group)
  *     feeding exact `percentile` quantile estimates per numeric column.
  *
  * Output is the tall (column, metric, value) frame BI tools expect:
  * `count` / `n_nulls` (exact), `approx_distinct` (HLL, ±1.6 % at p=12),
  * `min` / `max` (exact) and `q25`/`q50`/`q75` (sample quantiles,
  * O(1/√k) rank error) for numeric columns. Every value is DOUBLE; all
  * of it is a pure function of the data (md5 hashing, exact counts,
  * libm ln) so the DuckDB oracle replays the whole report bit-for-bit.
  */
object Profile {

  private val NumericTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  /** Types whose string form is canonical across engines — the HLL hash
    * input. Floats/timestamps are excluded: Spark and DuckDB format them
    * differently (1.0E-4 vs 0.0001), so the md5s would diverge — and
    * distinct-counting continuous values is a profiling smell anyway
    * (min/max/quantiles carry their story).
    */
  private val HllTypes: Set[DataType] =
    Set(StringType, ByteType, ShortType, IntegerType, LongType, BooleanType)

  /** Profile `cols` of `df` (all columns when empty). `keyCol` must be a
    * unique row id (drives the quantile sample).
    */
  def dataset(df: DataFrame, keyCol: String, cols: Seq[String] = Nil,
      p: Int = 12, k: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    val target = if (cols.nonEmpty) cols else df.columns.toSeq
    target.foreach(c => require(df.columns.contains(c),
      s"profile column $c not in ${df.columns.mkString(",")}"))
    val numeric = target.filter(c => NumericTypes(df.schema(c).dataType))
    val hllable = target.filter(c => HllTypes(df.schema(c).dataType))

    // pass 1 — exact census: one aggregate row
    val aggs =
      Seq(count(lit(1)).cast("double").as("__n")) ++
        target.map(c => (count(lit(1)) - count(col(c))).cast("double")
          .as(s"__nulls_$c")) ++
        numeric.flatMap(c => Seq(
          min(col(c)).cast("double").as(s"__min_$c"),
          max(col(c)).cast("double").as(s"__max_$c")))
    // the three passes are independent actions over the same input: run
    // them concurrently ([[graft.Concurrent]]); results are identical
    val (row, distincts, qRow) = graft.Concurrent.scope(spark) { s =>
      val rowF = s.fork(df.agg(aggs.head, aggs.tail: _*).head)

      // pass 2 — per-column HLL registers from ONE scan: each row explodes
      // into its (column, value-hash) entries; null values drop like
      // COUNT DISTINCT does
      val distinctsF = s.fork[Map[String, Double]](
        if (hllable.isEmpty) Map.empty
        else {
          val entries = df.select(explode(array(hllable.map(c =>
            struct(lit(c).as("column"),
              col(c).cast("string").as("v"))): _*)).as("e"))
            .select(col("e.column").as("column"), col("e.v").as("v"))
            .filter(col("v").isNotNull)
          val regs = Hll.registers(entries, Seq("column"), col("v"), p)
          Hll.estimate(regs, Seq("column"), p)
            .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        })

      // pass 3 — quantiles of the global bottom-k sample per numeric column
      val qRowF = s.fork[Row](
        if (numeric.isEmpty) null
        else {
          val sample = Sketch.sampleBottomK(df, Nil, col(keyCol), k)
          val qAggs = numeric.flatMap(c => Seq(
            percentile(col(c), lit(0.25)).as(s"__q25_$c"),
            percentile(col(c), lit(0.5)).as(s"__q50_$c"),
            percentile(col(c), lit(0.75)).as(s"__q75_$c")))
          sample.agg(qAggs.head, qAggs.tail: _*).head
        })
      (rowF.join(), distinctsF.join(), qRowF.join())
    }

    def d(r: Row, name: String): Any = r.get(r.fieldIndex(name))
    val out = target.flatMap { c =>
      val base = Seq(
        (c, "count", d(row, "__n")),
        (c, "n_nulls", d(row, s"__nulls_$c"))) ++
        (if (hllable.contains(c))
          Seq((c, "approx_distinct", distincts.getOrElse(c, null)))
        else Nil)
      val num = if (!numeric.contains(c)) Nil else Seq(
        (c, "min", d(row, s"__min_$c")),
        (c, "max", d(row, s"__max_$c")),
        (c, "q25", d(qRow, s"__q25_$c")),
        (c, "q50", d(qRow, s"__q50_$c")),
        (c, "q75", d(qRow, s"__q75_$c")))
      base ++ num
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.map(t =>
        Row(t._1, t._2, t._3)), 1),
      StructType(Seq(StructField("column", StringType, nullable = false),
        StructField("metric", StringType, nullable = false),
        StructField("value", DoubleType, nullable = true))))
  }

  /** The DuckDB mirror: identical census, HLL registers, sample
    * membership and quantiles, UNION ALL'd into the same tall frame.
    * Column types must be passed (the SQL side can't reflect).
    */
  def datasetSql(src: String, keySql: String, target: Seq[String],
      numeric: Seq[String], hllable: Seq[String],
      p: Int = 12, k: Int = 4096): String = {
    val censusSelects = target.flatMap { c =>
      Seq(
        s"SELECT '$c' AS \"column\", 'count' AS metric, CAST(count(*) AS DOUBLE) AS value FROM $src",
        s"SELECT '$c', 'n_nulls', CAST(count(*) - count($c) AS DOUBLE) FROM $src") ++
        (if (numeric.contains(c)) Seq(
          s"SELECT '$c', 'min', CAST(min($c) AS DOUBLE) FROM $src",
          s"SELECT '$c', 'max', CAST(max($c) AS DOUBLE) FROM $src")
        else Nil)
    }
    val hllBlocks = hllable.map { c =>
      // a constant group key keeps the shared Hll mirror's GROUP BY shape;
      // the SCALAR subquery (not a bare FROM) matters for an all-null
      // column: the constant-group CTE is then empty, and a scalar
      // subquery yields NULL — matching the Spark side's
      // (c, approx_distinct, NULL) row instead of emitting zero rows
      val inner = Hll.approxDistinctSql(
        s"(SELECT 'x' AS pg, CAST($c AS VARCHAR) AS pv FROM $src) t_$c",
        Seq("pg"), "pv", p)
      s"""SELECT '$c', 'approx_distinct', (SELECT approx_distinct FROM (
         |WITH $inner
         |))""".stripMargin
    }
    val h = graft.functions.OracleSql.tokenHash(s"CAST($keySql AS VARCHAR)")
    val qBlocks =
      if (numeric.isEmpty) Nil
      else {
        val qsel = numeric.flatMap(c => Seq(
          s"SELECT '$c', 'q25', quantile_cont($c, 0.25) FROM samp",
          s"SELECT '$c', 'q50', quantile_cont($c, 0.5) FROM samp",
          s"SELECT '$c', 'q75', quantile_cont($c, 0.75) FROM samp"))
        Seq(s"""SELECT * FROM (
           |WITH samp AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER (
           |      ORDER BY $h, CAST($keySql AS VARCHAR)) AS rn
           |    FROM $src WHERE $keySql IS NOT NULL
           |  ) WHERE rn <= $k
           |)
           |${qsel.mkString("\nUNION ALL\n")}
           |)""".stripMargin)
      }
    (censusSelects ++ hllBlocks ++ qBlocks).mkString("\nUNION ALL\n")
  }

  /** Per-column frequent values — the ANALYZE "top values" field the
    * census/HLL/quantile report doesn't carry: for every target column,
    * the values whose share of the column's NON-NULL rows is ≥
    * `minShare`, with EXACT counts. One composite pass: rows explode
    * into (column, value) entries (same shape as [[dataset]]'s HLL
    * pass), then [[Sketch.heavyHitters]] grouped by column —
    * sample-then-verify, so the heavy tail of near-unique values never
    * reaches a shuffle, and the result is a pure function of the data
    * (bit-exact oracle replay). Columns must have canonical
    * cross-engine string forms (same discipline as the HLL metric);
    * floats/timestamps are refused.
    *
    * Returns (col_name, item, n, share) — `item` is the value's canonical
    * string, `share` its fraction of the column's non-null rows.
    */
  def frequentValues(df: DataFrame, keyCol: String, cols: Seq[String],
      k: Int = 4096, minShare: Double = 0.01): DataFrame = {
    require(cols.nonEmpty, "frequentValues needs at least one column")
    cols.foreach { c =>
      require(df.columns.contains(c),
        s"frequent-values column $c not in ${df.columns.mkString(",")}")
      require(HllTypes(df.schema(c).dataType),
        s"frequent-values column $c (${df.schema(c).dataType.simpleString}) " +
          "has no canonical cross-engine string form — cast or bucket it " +
          "first (floats/timestamps format differently per engine)")
    }
    // "col_name", not "column": the group label must survive UNQUOTED in
    // the DuckDB mirror's generated SQL, and `column` is reserved there
    val entries = df.select(col(keyCol).as("__fk"),
        explode(array(cols.map(c => struct(lit(c).as("col_name"),
          col(c).cast("string").as("item"))): _*)).as("e"))
      .select(col("__fk"), col("e.col_name").as("col_name"),
        col("e.item").as("item"))
      .filter(col("item").isNotNull)
    Sketch.heavyHitters(entries, Seq("col_name"), col("__fk"), col("item"),
      k, minShare)
  }

  /** DuckDB mirror of [[frequentValues]]: identical exploded entries
    * (UNION ALL per column), identical sample membership and exact
    * verify counts via [[Sketch.heavyHittersSql]].
    */
  def frequentValuesSql(src: String, keySql: String, cols: Seq[String],
      k: Int = 4096, minShare: Double = 0.01): String = {
    val entrySelects = cols.map(c =>
      s"SELECT $keySql AS __fk, '$c' AS col_name, CAST($c AS VARCHAR) AS item " +
        s"FROM $src WHERE $c IS NOT NULL")
    s"""fv_entries AS (
       |${entrySelects.mkString("\nUNION ALL\n")}
       |),
       |${Sketch.heavyHittersSql("fv_entries", Seq("col_name"), "__fk",
            "item", k, minShare)}""".stripMargin
  }

  /** Incrementally-maintained profile: a `foreachBatch` handler that
    * folds each micro-batch into three snapshot-lake states under `root`
    * — so ANALYZE over a 100 TB ingest costs per-batch work only, never
    * a full rescan:
    *
    *  - `root/census`: tall per-batch partials (column, n, nulls, min,
    *    max) appended exactly-once ([[graft.sinks.SnapshotLake
    *    .appendStream]] batch-id dedup — counts are NOT naturally
    *    idempotent, so replays must skip); totals fold associatively
    *    (long sums, min-of-mins) to the one-shot census exactly;
    *  - `root/hll`: per-column HLL registers via [[Hll.registerStream]]
    *    (max-merge — naturally idempotent);
    *  - `root/sample`: the global bottom-k sample via
    *    [[Sketch.sampleStream]] (hash-pure membership — naturally
    *    idempotent).
    *
    * [[assemble]] reads the three states back into the SAME tall report
    * [[dataset]] computes one-shot — bit-for-bit, because every estimator
    * is mergeable-exact (ProfileSpec witnesses the equality across
    * batches including a replayed one).
    */
  def profileStream(root: String, keyCol: String, cols: Seq[String] = Nil,
      p: Int = 12, k: Int = 4096): (DataFrame, Long) => Unit = {
    (df, batchId) =>
      import graft.sinks.SnapshotLake
      val spark = df.sparkSession
      val target = if (cols.nonEmpty) cols else df.columns.toSeq
      val numeric = target.filter(c => NumericTypes(df.schema(c).dataType))
      val hllable = target.filter(c => HllTypes(df.schema(c).dataType))

      // census partial: one agg row → tall rows, with the column-class
      // flags stored IN the state so assemble() needs no type re-declaration
      val aggs =
        Seq(count(lit(1)).as("__n")) ++
          target.map(c => (count(lit(1)) - count(col(c))).as(s"__nulls_$c")) ++
          numeric.flatMap(c => Seq(
            min(col(c)).cast("double").as(s"__min_$c"),
            max(col(c)).cast("double").as(s"__max_$c")))
      val row = df.agg(aggs.head, aggs.tail: _*).head
      val partials = target.map { c =>
        val (mn, mx) =
          if (numeric.contains(c))
            (row.get(row.fieldIndex(s"__min_$c")),
              row.get(row.fieldIndex(s"__max_$c")))
          else (null, null)
        Row(c, row.getLong(0), row.getLong(row.fieldIndex(s"__nulls_$c")),
          mn, mx, numeric.contains(c), hllable.contains(c))
      }
      val censusPartial = spark.createDataFrame(
        spark.sparkContext.parallelize(partials, 1),
        StructType(Seq(
          StructField("column", StringType, nullable = false),
          StructField("n", LongType, nullable = false),
          StructField("nulls", LongType, nullable = false),
          StructField("mn", DoubleType, nullable = true),
          StructField("mx", DoubleType, nullable = true),
          StructField("is_numeric", BooleanType, nullable = false),
          StructField("is_hll", BooleanType, nullable = false))))
      SnapshotLake.appendStream(s"$root/census")(censusPartial, batchId)

      if (hllable.nonEmpty) {
        val entries = df.select(explode(array(hllable.map(c =>
          struct(lit(c).as("column"),
            col(c).cast("string").as("v"))): _*)).as("e"))
          .select(col("e.column").as("column"), col("e.v").as("v"))
          .filter(col("v").isNotNull)
        Hll.registerStream(s"$root/hll", Seq("column"), col("v"), p)(
          entries, batchId)
      }
      Sketch.sampleStream(s"$root/sample", Nil, col(keyCol), k)(df, batchId)
  }

  /** Assemble the maintained states under `root` into the same tall
    * (column, metric, value) report [[dataset]] computes one-shot over
    * the union of every ingested batch — exactly (see [[profileStream]]).
    */
  def assemble(spark: SparkSession, root: String, p: Int = 12): DataFrame = {
    import graft.sinks.SnapshotLake
    val census = SnapshotLake.read(spark, s"$root/census")
      .groupBy("column").agg(
        sum("n").cast("double").as("n"),
        sum("nulls").cast("double").as("nulls"),
        min("mn").as("mn"), max("mx").as("mx"),
        max("is_numeric").as("is_numeric"), max("is_hll").as("is_hll"))
      .collect().map(r => r.getString(0) -> r).toMap
    val target = census.keys.toSeq.sorted
    val numeric = target.filter(c => census(c).getBoolean(5))
    val hllable = target.filter(c => census(c).getBoolean(6))

    val distincts: Map[String, Double] =
      if (hllable.isEmpty) Map.empty
      else Hll.estimate(SnapshotLake.read(spark, s"$root/hll"),
        Seq("column"), p)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    val sample = SnapshotLake.read(spark, s"$root/sample")
    val qAggs = numeric.flatMap(c => Seq(
      percentile(col(c), lit(0.25)).as(s"__q25_$c"),
      percentile(col(c), lit(0.5)).as(s"__q50_$c"),
      percentile(col(c), lit(0.75)).as(s"__q75_$c")))
    val qRow = if (numeric.isEmpty) null
      else sample.agg(qAggs.head, qAggs.tail: _*).head

    val out = target.flatMap { c =>
      val cr = census(c)
      val base = Seq(
        (c, "count", cr.get(1)),
        (c, "n_nulls", cr.get(2))) ++
        (if (hllable.contains(c))
          Seq((c, "approx_distinct", distincts.getOrElse(c, null)))
        else Nil)
      val num = if (!numeric.contains(c)) Nil else Seq(
        (c, "min", cr.get(3)),
        (c, "max", cr.get(4)),
        (c, "q25", qRow.get(qRow.fieldIndex(s"__q25_$c"))),
        (c, "q50", qRow.get(qRow.fieldIndex(s"__q50_$c"))),
        (c, "q75", qRow.get(qRow.fieldIndex(s"__q75_$c"))))
      base ++ num
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.map(t =>
        Row(t._1, t._2, t._3)), 1),
      StructType(Seq(StructField("column", StringType, nullable = false),
        StructField("metric", StringType, nullable = false),
        StructField("value", DoubleType, nullable = true))))
  }

  /** Population-stability-index drift between two slices of a dataset —
    * the feature-drift monitor a training pipeline runs between corpus
    * versions. Per numeric column:
    *
    *  1. bucket edges = the `buckets-1` interior sample quantiles of the
    *     BASELINE slice ([[Sketch.sampleBottomK]] + exact `percentile`,
    *     so edges are a pure function of the baseline data);
    *  2. one aggregate pass per side counts rows into the edge buckets
    *     (bucket(v) = #edges ≤ v) — exact counts, single scan each, one
    *     row out regardless of data size;
    *  3. smoothed shares s = (n + 0.5) / (N + buckets/2) and the PSI
    *     contribution (s_base − s_cur) · ln(s_base / s_cur) per bucket,
    *     computed on the driver with `java.lang.Math.log` (libm — the
    *     [[graft.functions.JavaLog]] contract), so the DuckDB mirror
    *     replays every double bit-for-bit.
    *
    * Output: one row per (column, bucket) with counts, shares and the
    * PSI contribution, plus a `bucket = -1` summary row per column
    * carrying the non-null totals and the column's total PSI (the
    * bucket contributions summed in bucket order). PSI > 0.2 is the
    * conventional "significant drift" alarm.
    */
  def drift(base: DataFrame, cur: DataFrame, keyCol: String,
      cols: Seq[String], k: Int = 4096, buckets: Int = 10): DataFrame = {
    require(cols.nonEmpty, "drift needs at least one column")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    cols.foreach { c =>
      require(base.columns.contains(c) && cur.columns.contains(c),
        s"drift column $c missing from an input")
      require(NumericTypes(base.schema(c).dataType),
        s"drift column $c is not numeric")
    }
    val spark = base.sparkSession

    // 1 — edges from the baseline sample (collect: one row, cols×(b-1) values)
    val sample = Sketch.sampleBottomK(base, Nil, col(keyCol), k)
    val eAggs = cols.flatMap(c => (1 until buckets).map(j =>
      percentile(col(c), lit(j.toDouble / buckets)).as(s"__e_${c}_$j")))
    val eRow = sample.agg(eAggs.head, eAggs.tail: _*).head
    cols.foreach { c =>
      require(!eRow.isNullAt(eRow.fieldIndex(s"__e_${c}_1")),
        s"drift: baseline sample has no non-null values for column $c — " +
          s"the base frame is empty, or keyCol '$keyCol' / column '$c' is " +
          "all-null; drift needs a non-empty baseline with non-null keyCol")
    }
    val edges: Map[String, Seq[Double]] = cols.map { c =>
      c -> (1 until buckets).map(j =>
        eRow.getDouble(eRow.fieldIndex(s"__e_${c}_$j")))
    }.toMap

    // 2 — exact bucket counts, ONE aggregate scan per side
    def bucketExpr(c: String) =
      edges(c).map(e => when(col(c) >= lit(e), 1).otherwise(0))
        .reduce(_ + _)
    def countsRow(df: DataFrame): Row = {
      val aggs = cols.flatMap { c =>
        sum(when(col(c).isNotNull, 1).otherwise(0)).cast("double")
          .as(s"__n_$c") +:
          (0 until buckets).map(j =>
            sum(when(col(c).isNotNull && bucketExpr(c) === j, 1)
              .otherwise(0)).cast("double").as(s"__b_${c}_$j"))
      }
      df.agg(aggs.head, aggs.tail: _*).head
    }
    val (bRow, cRow) = (countsRow(base), countsRow(cur))

    // 3 — shares + PSI on the driver (libm log == DuckDB ln)
    val out = cols.flatMap { c =>
      val nB = bRow.getDouble(bRow.fieldIndex(s"__n_$c"))
      val nC = cRow.getDouble(cRow.fieldIndex(s"__n_$c"))
      val rows = (0 until buckets).map { j =>
        val cb = bRow.getDouble(bRow.fieldIndex(s"__b_${c}_$j"))
        val cc = cRow.getDouble(cRow.fieldIndex(s"__b_${c}_$j"))
        val sB = (cb + 0.5) / (nB + buckets / 2.0)
        val sC = (cc + 0.5) / (nC + buckets / 2.0)
        val contrib = (sB - sC) * java.lang.Math.log(sB / sC)
        Row(c, j, cb, cc, sB, sC, contrib)
      }
      val psi = rows.map(_.getDouble(6)).foldLeft(0.0)(_ + _)
      rows :+ Row(c, -1, nB, nC, null, null, psi)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("column", StringType, nullable = false),
        StructField("bucket", IntegerType, nullable = false),
        StructField("n_base", DoubleType, nullable = true),
        StructField("n_cur", DoubleType, nullable = true),
        StructField("base_share", DoubleType, nullable = true),
        StructField("cur_share", DoubleType, nullable = true),
        StructField("psi", DoubleType, nullable = true))))
  }

  /** DuckDB mirror of [[drift]] as a CTE fragment (prepend `WITH ` or
    * compose after other CTEs): `baseSrc`/`curSrc` are relations or named
    * CTEs already in scope for the two slices.
    */
  def driftSql(baseSrc: String, curSrc: String, keySql: String,
      cols: Seq[String], k: Int = 4096, buckets: Int = 10): String = {
    val h = graft.functions.OracleSql.tokenHash(s"CAST($keySql AS VARCHAR)")
    val eSel = cols.flatMap(c => (1 until buckets).map(j =>
      s"quantile_cont($c, ${j.toDouble / buckets}) AS e_${c}_$j"))
    def bucketSql(c: String) =
      (1 until buckets).map(j =>
        s"(CASE WHEN $c >= e.e_${c}_$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
    def countsSel(src: String) = cols.flatMap { c =>
      s"CAST(sum(CASE WHEN $c IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n_$c" +:
        (0 until buckets).map(j =>
          s"CAST(sum(CASE WHEN $c IS NOT NULL AND (${bucketSql(c)}) = $j THEN 1 ELSE 0 END) AS DOUBLE) AS b_${c}_$j")
    }.mkString(",\n         ")
    val half = buckets / 2.0
    def share(side: String, c: String, j: Int) =
      s"(($side.b_${c}_$j + 0.5) / ($side.n_$c + $half))"
    val rowSelects = cols.flatMap { c =>
      val bucketRows = (0 until buckets).map { j =>
        val (sB, sC) = (share("cb", c, j), share("cc", c, j))
        s"""SELECT '$c' AS "column", $j AS bucket,
           |       cb.b_${c}_$j AS n_base, cc.b_${c}_$j AS n_cur,
           |       $sB AS base_share, $sC AS cur_share,
           |       ($sB - $sC) * ln($sB / $sC) AS psi
           |FROM cb, cc""".stripMargin
      }
      // summary: contributions summed in bucket order (left fold, matching
      // the driver-side foldLeft exactly)
      val total = (0 until buckets).map { j =>
        val (sB, sC) = (share("cb", c, j), share("cc", c, j))
        s"(($sB - $sC) * ln($sB / $sC))"
      }.foldLeft("CAST(0.0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
      bucketRows :+
        s"""SELECT '$c', -1, cb.n_$c, cc.n_$c,
           |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), $total
           |FROM cb, cc""".stripMargin
    }
    s"""samp AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      ORDER BY $h, CAST($keySql AS VARCHAR)) AS rn
       |    FROM $baseSrc WHERE $keySql IS NOT NULL
       |  ) WHERE rn <= $k
       |),
       |e AS (SELECT ${eSel.mkString(",\n             ")} FROM samp),
       |cb AS (SELECT ${countsSel(baseSrc)} FROM $baseSrc, e),
       |cc AS (SELECT ${countsSel(curSrc)} FROM $curSrc, e)
       |${rowSelects.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** PSI drift PER GROUP, fully distributed — [[drift]] assembles on the
    * driver (the right shape for ONE dataset report); this is the form
    * for unbounded group counts (per-source, per-domain, per-tenant
    * drift over a 100 TB corpus): nothing ever leaves the plan.
    *
    *  - per-group decile edges: the per-group bottom-k baseline sample
    *    aggregated to one edges row per group;
    *  - each side joins its rows to the edges (plain equi-join — AQE
    *    broadcasts when the group count is small, shuffles when it
    *    isn't) and folds to ONE counts row per group;
    *  - shares, `jlog` (libm, codegen — [[graft.functions.JavaLog]])
    *    contributions and the bucket-order summary fold are column
    *    expressions, so the whole thing is two scans + two aggregates
    *    at any group cardinality — and still replays bit-for-bit in
    *    DuckDB.
    *
    * Groups absent from `base` have no baseline to drift against and are
    * excluded; groups absent from `cur` report with zero current counts.
    * Returns one row per group: (groupCols..., n_base, n_cur, psi).
    */
  def driftByGroup(base: DataFrame, cur: DataFrame, groupCols: Seq[String],
      keyCol: String, valueCol: String, k: Int = 4096,
      buckets: Int = 10): DataFrame = {
    require(groupCols.nonEmpty, "driftByGroup needs group columns")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    Seq(base, cur).foreach(df => require(
      NumericTypes(df.schema(valueCol).dataType),
      s"drift column $valueCol is not numeric"))
    val g = groupCols.map(col)

    val sample = Sketch.sampleBottomK(base, groupCols, col(keyCol), k)
    val eAggs = (1 until buckets).map(j =>
      percentile(col(valueCol), lit(j.toDouble / buckets)).as(s"__e_$j"))
    // edges is one (buckets-1)-double row per group and feeds BOTH sides'
    // counts joins — without materialization Catalyst re-evaluates the
    // whole sample pipeline (scan + two trim windows + percentile
    // aggregate) once per side. Checkpointing the tiny edges row runs it
    // exactly once, and AQE sees the true (small) size so the counts
    // joins broadcast it instead of shuffling each side.
    val edges = sample.groupBy(g: _*).agg(eAggs.head, eAggs.tail: _*)
      .localCheckpoint()

    def counts(df: DataFrame, side: String): DataFrame = {
      val v = col(valueCol)
      val bucket = (1 until buckets).map(j =>
        when(v >= col(s"__e_$j"), 1).otherwise(0)).reduce(_ + _)
      val aggs =
        sum(when(v.isNotNull, 1).otherwise(0)).as(s"__n_$side") +:
          (0 until buckets).map(j =>
            sum(when(v.isNotNull && bucket === j, 1).otherwise(0))
              .as(s"__b_${side}_$j"))
      df.join(edges, groupCols).groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
    }
    val cb = counts(base, "b")
    val cc = counts(cur, "c")
    // cur-side counts default to 0 for base groups with no current rows
    val curCols = s"__n_c" +: (0 until buckets).map(j => s"__b_c_$j")
    val joined = curCols.foldLeft(
      cb.join(cc, groupCols, "left")) { (df, c) =>
      df.withColumn(c, coalesce(col(c), lit(0L)))
    }

    import graft.functions.JavaMath.jlog
    val half = buckets / 2.0
    def share(side: String, j: Int) =
      (col(s"__b_${side}_$j").cast("double") + lit(0.5)) /
        (col(s"__n_$side").cast("double") + lit(half))
    val psi = (0 until buckets).map { j =>
      val (sB, sC) = (share("b", j), share("c", j))
      (sB - sC) * jlog(sB / sC)
    }.foldLeft(lit(0.0).cast("double"))(_ + _)
    joined.select(g ++ Seq(
      col("__n_b").cast("double").as("n_base"),
      col("__n_c").cast("double").as("n_cur"),
      psi.as("psi")): _*)
  }

  /** DuckDB mirror of [[driftByGroup]] as a CTE fragment. */
  def driftByGroupSql(baseSrc: String, curSrc: String,
      groupCols: Seq[String], keySql: String, valueSql: String,
      k: Int = 4096, buckets: Int = 10): String = {
    val gl = groupCols.mkString(", ")
    val h = graft.functions.OracleSql.tokenHash(s"CAST($keySql AS VARCHAR)")
    val eSel = (1 until buckets).map(j =>
      s"quantile_cont($valueSql, ${j.toDouble / buckets}) AS e_$j")
      .mkString(", ")
    val bucketSql = (1 until buckets).map(j =>
      s"(CASE WHEN t.$valueSql >= e.e_$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    def countsSql(src: String, side: String) = {
      val sel =
        s"sum(CASE WHEN t.$valueSql IS NOT NULL THEN 1 ELSE 0 END) AS n_$side" +:
          (0 until buckets).map(j =>
            s"sum(CASE WHEN t.$valueSql IS NOT NULL AND ($bucketSql) = $j THEN 1 ELSE 0 END) AS b_${side}_$j")
      s"""SELECT ${groupCols.map(c => s"t.$c").mkString(", ")},
         |       ${sel.mkString(",\n       ")}
         |FROM $src t JOIN gd_edges e
         |  ON ${groupCols.map(c => s"t.$c = e.$c").mkString(" AND ")}
         |GROUP BY ${groupCols.map(c => s"t.$c").mkString(", ")}""".stripMargin
    }
    val half = buckets / 2.0
    def share(side: String, j: Int) =
      s"((CAST(b_${side}_$j AS DOUBLE) + 0.5) / (CAST(n_$side AS DOUBLE) + $half))"
    val psi = (0 until buckets).map { j =>
      val (sB, sC) = (share("b", j), share("c", j))
      s"(($sB - $sC) * ln($sB / $sC))"
    }.foldLeft("CAST(0.0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
    s"""gd_samp AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY $gl
       |      ORDER BY $h, CAST($keySql AS VARCHAR)) AS rn
       |    FROM $baseSrc WHERE $keySql IS NOT NULL
       |  ) WHERE rn <= $k
       |),
       |gd_edges AS (SELECT $gl, $eSel FROM gd_samp GROUP BY $gl),
       |gd_cb AS (${countsSql(baseSrc, "b")}),
       |gd_cc AS (${countsSql(curSrc, "c")}),
       |gd_joined AS (
       |  SELECT ${groupCols.map(c => s"gd_cb.$c").mkString(", ")},
       |         n_b,
       |         COALESCE(n_c, 0) AS n_c,
       |         ${(0 until buckets).map(j =>
              s"b_b_$j, COALESCE(b_c_$j, 0) AS b_c_$j").mkString(",\n         ")}
       |  FROM gd_cb LEFT JOIN gd_cc
       |    ON ${groupCols.map(c => s"gd_cb.$c = gd_cc.$c").mkString(" AND ")}
       |)
       |SELECT $gl,
       |       CAST(n_b AS DOUBLE) AS n_base,
       |       CAST(n_c AS DOUBLE) AS n_cur,
       |       $psi AS psi
       |FROM gd_joined""".stripMargin
  }
}
