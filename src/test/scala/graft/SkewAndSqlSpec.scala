package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.plans.GraftFunctions

class SkewAndSqlSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals direct aggregation on a skewed key") {
    // 90% of rows on one hot key
    val df = (1 to 10000).map { i =>
      (if (i % 10 == 0) s"cold${i % 97}" else "HOT", i.toLong, i * 0.5)
    }.toDF("k", "id", "v")
    val direct = df.groupBy("k").agg(
      count(lit(1)).as("n"),
      sum(col("v").cast("decimal(38,10)")).cast("double").as("sum"),
      min("v").as("min"), max("v").as("max"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val salted = Skew.saltedStats(df, col("k"), col("id"), col("v"), buckets = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(salted == direct)
    // and the salt actually spreads the hot key
    val spread = df.withColumn("__salt", Skew.salt(col("id"), 8))
      .filter(col("k") === "HOT").select("__salt").distinct().count()
    assert(spread == 8)
  }

  test("chunked finite indicators are bit-equal to the plain per-symbol window") {
    import graft.operators.Indicators
    // 2 symbols x 2500 minutes spanning many 6-hour chunks; values from the
    // deterministic generator so decimal frames are exercised realistically
    val bars = graft.sources.Generator.ohlcv(spark, Seq("hot", "cold"), 2500L)
    val chunk = floor(unix_micros(col("ts").cast("timestamp")) / lit(6L * 3600 * 1000000))
    val cols = Seq("symbol", "ts", "sma_20", "sma_50", "sma_200", "bb_middle",
      "bb_upper", "bb_lower", "rsi_14", "atr_14")

    val plain = Skew.finiteIndicators(bars,
        Indicators.Series(Seq(col("symbol")), Seq(col("ts"))))
      .select(cols.map(col): _*).collect().map(_.toString).sorted
    // each chunked call persists a reuse frame; its caller owns the release
    val chunked = Reuse.releasing(Skew.chunkedFiniteIndicators(bars, Seq(col("symbol")),
        Seq(col("ts")), chunk)
      .select(cols.map(col): _*).collect().map(_.toString).sorted)
    assert(chunked.length == plain.length)
    assert(chunked.sameElements(plain)) // bit-identical, incl. null gating

    // an UNDERSIZED halo must differ (proves the halo is doing the work:
    // sma_200 needs 200 rows of replayed context, 10 is not enough)
    val tooSmall = Reuse.releasing(Skew.chunkedFiniteIndicators(bars, Seq(col("symbol")),
        Seq(col("ts")), chunk, halo = 10)
      .select(cols.map(col): _*).collect().map(_.toString).sorted)
    assert(!tooSmall.sameElements(plain))

    // the window really is partitioned by (symbol, chunk) — the hot
    // symbol's series is split across window partitions
    val plan = Reuse.releasing(Skew.chunkedFiniteIndicators(bars, Seq(col("symbol")),
        Seq(col("ts")), chunk).queryExecution.executedPlan.toString)
    assert(plan.contains("__chunk"))
  }

  test("chunked indicators survive EMPTY and SHORT chunks (halo spans back)") {
    import graft.operators.Indicators
    // A series with (a) a chunk that has NO rows — the generator's minutes
    // filtered out for one whole chunk — and (b) chunks SHORTER than the
    // halo, so warm-up context must span SEVERAL preceding chunks. A naive
    // carry into chunk+1 loses the halo at the gap, and a carry from only
    // the adjacent chunk loses the tail beyond it.
    val minutes = graft.sources.Generator.ohlcv(spark, Seq("hot", "cold"), 3000L)
    // hour index relative to the generator's 2024-01-01 start: 60-row
    // chunks, FAR smaller than the 201-row halo
    val chunkExpr = floor(
      (unix_micros(col("ts").cast("timestamp")) / lit(1000000L) - lit(1704067200L)) /
        lit(3600L))
    // drop hour 2 entirely (a whole empty chunk per symbol), and thin
    // hour 5 down to its first 7 rows
    val fromStart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol"), chunkExpr).orderBy(col("ts"))
    val bars = minutes
      .withColumn("__pos", row_number().over(fromStart))
      .filter(chunkExpr =!= 2)
      .filter(!(chunkExpr === 5) || col("__pos") <= 7)
      .drop("__pos")
    val cols = Seq("symbol", "ts", "sma_20", "sma_50", "sma_200", "bb_middle",
      "bb_upper", "bb_lower", "rsi_14", "atr_14")
    val plain = Skew.finiteIndicators(bars,
        Indicators.Series(Seq(col("symbol")), Seq(col("ts"))))
      .select(cols.map(col): _*).collect().map(_.toString).sorted
    val chunked = Reuse.releasing(Skew.chunkedFiniteIndicators(bars, Seq(col("symbol")),
        Seq(col("ts")), chunkExpr)
      .select(cols.map(col): _*).collect().map(_.toString).sorted)
    assert(chunked.length == plain.length)
    assert(chunked.sameElements(plain))
  }

  test("chunked EMA/MACD meets its error bound; undersized halo diverges") {
    import graft.operators.Indicators
    // 2 symbols x 4000 minutes; 6-hour (360-row) chunks, SMALLER than the
    // default 720-row halo, so warm-up context must span chunks
    val bars = graft.sources.Generator.ohlcv(spark, Seq("hot", "cold"), 4000L)
    val chunk = floor(unix_micros(col("ts").cast("timestamp")) / lit(6L * 3600 * 1000000))
    val emaCols = Seq("ema_12", "ema_26", "macd", "macd_signal", "macd_hist")

    def byKey(df: org.apache.spark.sql.DataFrame): Map[(String, Any), Seq[Double]] =
      df.select((Seq("symbol", "ts") ++ emaCols).map(col): _*).collect()
        .map(r => (r.getString(0), r.get(1)) -> emaCols.indices.map(i => r.getDouble(2 + i)))
        .toMap

    val plain = byKey(Skew.emaMacd(bars,
      Indicators.Series(Seq(col("symbol")), Seq(col("ts")))))
    val chunked = Reuse.releasing(byKey(Skew.chunkedEmaMacd(bars, Seq(col("symbol")),
      Seq(col("ts")), chunk)))
    assert(chunked.keySet == plain.keySet)

    val range = {
      val r = bars.agg(max("close") - min("close")).collect()(0).getDouble(0)
      math.max(r, 1.0)
    }
    def maxErr(m: Map[(String, Any), Seq[Double]]): Double =
      m.map { case (k, vs) =>
        vs.zip(plain(k)).map { case (a, b) => math.abs(a - b) }.max
      }.max

    // documented bound: within tol x range of the exact per-symbol window
    val err = maxErr(chunked)
    info(f"chunked EMA/MACD max abs error at default halo: $err%.3e (range $range%.1f)")
    assert(err <= 1e-9 * range, f"error $err%.3e exceeds bound")

    // the halo is doing the work: a 20-row warm-up leaves visible error
    val tooSmall = Reuse.releasing(byKey(Skew.chunkedEmaMacd(bars, Seq(col("symbol")),
      Seq(col("ts")), chunk, halo = 20)))
    assert(maxErr(tooSmall) > 1e-6 * range)

    // and the halo calculator matches the closed form it documents
    assert(Skew.emaHalo(26) == 360)
    assert(math.pow(1.0 - 2.0 / 27, Skew.emaHalo(26, 1e-12).toDouble) <= 1e-12)
  }

  test("ema and jlog are callable from SQL after registration") {
    GraftFunctions.register(spark)
    Seq(("s", 1L, 10.0), ("s", 2L, 20.0), ("s", 3L, 30.0))
      .toDF("symbol", "t", "x").createOrReplaceTempView("sql_bars")
    val rows = spark.sql(
      """SELECT t, ema(x, 0.5) OVER (PARTITION BY symbol ORDER BY t) AS e,
        |       jlog(x) AS l
        |FROM sql_bars ORDER BY t""".stripMargin).collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(10.0, 15.0, 22.5))
    assert(rows.head.getDouble(2) == math.log(10.0))
  }

  test("top_k is callable from SQL; agrees with the window formulation") {
    GraftFunctions.register(spark)
    (1 to 200).map(i => (i % 4L, (i % 9).toDouble, i.toLong))
      .toDF("q", "score", "id").createOrReplaceTempView("sql_scored")
    val viaAgg = spark.sql(
      """SELECT q, pos + 1 AS rank, col.id AS id, col.score AS score
        |FROM (SELECT q, top_k(score, id, 5) AS t FROM sql_scored GROUP BY q)
        |LATERAL VIEW posexplode(t) AS pos, col""".stripMargin)
      .collect().map(_.toString).sorted
    val viaWin = spark.sql(
      """SELECT q, CAST(rank AS BIGINT) AS rank, id, score FROM (
        |  SELECT q, id, score,
        |         row_number() OVER (PARTITION BY q ORDER BY score DESC, id) AS rank
        |  FROM sql_scored) WHERE rank <= 5""".stripMargin)
      .collect().map(_.toString).sorted
    assert(viaAgg.sameElements(viaWin))
  }

  test("the ANN stack is callable from pure SQL, bit-equal to the DataFrame API") {
    GraftFunctions.register(spark)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    emb.createOrReplaceTempView("sql_emb")

    // lsh_bucket: SQL == DataFrame expression on the whole table
    val lshSql = spark.sql(
      "SELECT vec_id, lsh_bucket(embedding, 8, 64) AS b FROM sql_emb")
      .collect().map(_.toString).sorted
    val lshDf = emb.select(col("vec_id"),
        graft.operators.VectorOps.lshBucket(col("embedding"), 8, 64).as("b"))
      .collect().map(_.toString).sorted
    assert(lshSql.sameElements(lshDf))

    // a tiny trained codebook rendered as SQL array literals — the
    // builder must fold it into the expression object at resolution
    val cents = graft.operators.VectorOps.kmeansCodebook(emb, 4, 1, 7)
    def sqlArr(a: Array[Double]) = a.mkString("array(", "D,", "D)")
    val centsSql = cents.map(c => sqlArr(c._2)).mkString("array(", ",", ")")
    val cidsSql = cents.map(_._1).mkString("array(", "L,", "L)")
    val ivfSql = spark.sql(
      s"""SELECT vec_id, explode(ivf_assign(embedding,
         |  aggregate(embedding, 0.0D, (a, x) -> a + CAST(x AS DOUBLE) * x),
         |  2, $centsSql, $cidsSql)) AS cent_id
         |FROM sql_emb""".stripMargin)
      .collect().map(_.toString).sorted
    val ivfDf = graft.operators.VectorOps.ivfAssign(emb, cents, 2)
      .select("vec_id", "cent_id")
      .collect().map(_.toString).sorted
    assert(ivfSql.sameElements(ivfDf))
    // the codebook is an object reference, not plan-tree literal text
    val plan = spark.sql(
      s"SELECT ivf_assign(embedding, 1.0D, 1, $centsSql) FROM sql_emb")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("ivf_assign_topn"))

    // pq_encode + pq_adc round-trip against the DataFrame path
    val cbs = graft.operators.VectorOps.pqCodebooks(emb, 4, 4, 1, 7)
    val cbSql = cbs.map(cb => cb.map(c => sqlArr(c._2))
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
    val pqSql = spark.sql(
      s"""SELECT vec_id, pq_encode(embedding, $cbSql) AS codes,
         |  pq_adc(pq_encode(embedding, $cbSql), embedding,
         |    aggregate(embedding, 0.0D, (a, x) -> a + CAST(x AS DOUBLE) * x),
         |    $cbSql) AS self_adc
         |FROM sql_emb""".stripMargin)
      .collect().map(_.toString).sorted
    val pqDf = {
      import graft.functions.Pq
      val cb = cbs.map(_.map(_._2))
      emb.select(col("vec_id"), Pq.encode(col("embedding"), cb).as("codes"),
          Pq.adcCosine(Pq.encode(col("embedding"), cb), col("embedding"),
            graft.operators.VectorOps.norm2(col("embedding")), cb).as("self_adc"))
        .collect().map(_.toString).sorted
    }
    assert(pqSql.sameElements(pqDf))
  }

  test("the text kernels are callable from pure SQL, bit-equal to the DataFrame API") {
    GraftFunctions.register(spark)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    docs.createOrReplaceTempView("sql_docs")

    val statsSql = spark.sql(
      """SELECT doc_id, text_stats(text).n_tokens AS n, text_stats(text).simhash AS sh,
        |       tokens(text) AS tk, ngram_hashes(text, 3, true) AS gh,
        |       minhash_sig(text, 3, 16) AS sig,
        |       term_freqs(text, array('vector', 'join')).tf AS tf
        |FROM sql_docs""".stripMargin)
      .collect().map(_.toString).sorted
    val statsDf = docs.select(col("doc_id"),
        graft.functions.TextNative.stats(col("text"),
          graft.operators.TextOps.EnStopwords).getField("n_tokens").as("n"),
        graft.functions.TextNative.stats(col("text"),
          graft.operators.TextOps.EnStopwords).getField("simhash").as("sh"),
        graft.functions.TextNative.tokens(col("text")).as("tk"),
        graft.functions.TextNative.wordNgramHashes(col("text"), 3, distinct = true).as("gh"),
        graft.functions.TextNative.minhashSig(col("text"), 3, 16).as("sig"),
        graft.functions.TextNative.termFreqs(col("text"),
          Seq("vector", "join")).getField("tf").as("tf"))
      .collect().map(_.toString).sorted
    assert(statsSql.sameElements(statsDf))
  }
}
