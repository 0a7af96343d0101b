package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Physical-plan hygiene: the properties that make these operators survive
  * a 100 TB scale-up are asserted here, not just claimed in Scaladoc —
  * broadcasts where a side is dimension-sized, top-k instead of global
  * sort, scan-level filter/projection pushdown, map-side partial
  * aggregation.
  */
class PlanSpec extends SparkSpec {
  override def sfDir: String = "/root/testdata/sf0.001"

  private def executed(name: String): SparkPlan =
    SparkEntry.run(spark, name, sfDir) { df =>
      df.collect() // let AQE finalize
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    }

  private def plan(name: String): String = executed(name).toString

  test("j1 dim join broadcasts the customer side") {
    assert(plan("j1_orders_by_nation").contains("BroadcastHashJoin"))
  }

  test("j3/j4 semi and anti joins stay semi/anti (no payload materialization)") {
    assert(plan("j3_customers_with_orders").contains("LeftSemi"))
    assert(plan("j4_customers_without_orders").contains("LeftAnti"))
  }

  test("t2 latest-n plans TakeOrderedAndProject, not a global sort") {
    val p = plan("t2_latest_n")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("filters and projections reach the parquet scan") {
    val p = SparkEntry.queries("f9_time_range")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") || p.contains("pushedFilters"))
    // a 2-column projection must not read all columns
    val q = SparkEntry.queries("a6_docs_by_source")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q.contains("ReadSchema: struct<source:string>"))
  }

  test("aggregations are partial (map-side combine) before the exchange") {
    val p = plan("a5_grouped_stats")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    // partial agg must appear below (later in string = deeper) the exchange
    assert(p.lastIndexOf("HashAggregate") > exchange)
  }

  test("whole-stage codegen covers the cleaning chain") {
    // codegen'd operators print with the "*(stageId)" prefix
    val p = plan("clean_pipeline")
    assert(p.contains("WholeStageCodegen") || p.contains("*("))
  }

  test("d4 at scale: equi-joins only — no cartesian, no nested-loop fallback") {
    val root = executed("d4_token_jaccard")
    val p = root.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // children including AQE query stages and reused exchanges
    def kids(n: SparkPlan): Seq[SparkPlan] = n match {
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    // for each band equi-join (keyed on the LSH band key), the operators
    // between it and the root: the post-join candidate stream
    def bandJoinPaths(n: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] = {
      val here = n match {
        case j: BaseJoinExec
            if j.leftKeys.exists(_.references.exists(_.name == "bkey")) =>
          Seq(above)
        case _ => Nil
      }
      here ++ kids(n).flatMap(bandJoinPaths(_, n :: above))
    }
    val paths = bandJoinPaths(root, Nil)
    assert(paths.nonEmpty, s"no band equi-join on bkey in:\n$p")
    // multi-band collisions dedupe map-side: no aggregate (a `.distinct()`
    // plans as one over its hash exchange) consumes the candidate stream
    paths.foreach(above => assert(!above.exists(_.isInstanceOf[BaseAggregateExec]),
      s"aggregate on the post-join candidate stream:\n$p"))
  }

  test("d5 block-size guard rides the join partitioning, output still top-n") {
    val p = plan("d5_embedding_top_pairs")
    assert(p.contains("TakeOrderedAndProject")) // global top-n, not a sort
    assert(!p.contains("CartesianProduct"))
  }

  test("p1b scale split: labeling is window-free (pure filters over the scan)") {
    import org.apache.spark.sql.functions._
    // cutoffs are computed eagerly over DISTINCT timestamps; the frame the
    // caller gets back must be a plain projection — no Window, no sort
    val events = graft.sources.Tables.events(spark, sfDir)
    val out = graft.operators.Split.chronologicalAtScale(events, col("ts"),
      Seq(0.8), Seq("train", "test"), exact = true)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"))
    assert(!p.contains("Sort"))
  }

  test("p6 token packing: one hash exchange on the group keys, no global sort") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        graft.operators.TextOps.tokenCount(col("text")).as("n_tokens"))
    val out = graft.operators.Split.packByTokenBudget(docs,
      Seq(col("source")), Seq(col("doc_id")), col("n_tokens"), budget = 256L)
    val p = out.queryExecution.executedPlan.toString
    // the prefix sum is a per-group running window: it must partition by the
    // group keys (parallel across sources), never collapse to one partition
    assert(p.contains("hashpartitioning(source"))
    assert(!p.contains("SinglePartition"))
    // exactly one exchange — the two derived columns read the staged alias,
    // they must not replan the window
    assert("Exchange".r.findAllIn(p).size == 1)
    assert("\\bWindow\\b".r.findAllIn(p).size == 1)
  }

  test("p7 stratified sample: pure row-local filter — no exchange, no window") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Split.stratifiedHashSample(
      graft.sources.Tables.documents(spark, sfDir),
      col("doc_id"), col("source"), Map("src0" -> 0.5), defaultRate = 0.1)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"))
    assert(!p.contains("Window"))
  }

  test("x6/x8 quality + PII passes are map-only; x9 rollup is one exchange") {
    // repetition/shape stats and the scrub chain must scan-project only —
    // a 100 TB filtering pass with any exchange in it is wrong
    assert(!plan("x6_repetition").contains("Exchange"))
    assert(!plan("x8_pii_scrub").contains("Exchange"))
    val p9 = plan("x9_source_quality")
    assert("Exchange".r.findAllIn(p9).size == 1) // partial agg, one shuffle
    assert(p9.contains("partial_count") || p9.contains("partial"))
  }

  test("dc1 decontamination: bench grams broadcast, corpus side never cartesians") {
    val p = plan("dc1_decontaminate")
    assert(p.contains("BroadcastHashJoin")) // bench grams are the broadcast side
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("d8 span census: exact distinct-doc counts without a countDistinct expand") {
    val p = plan("d8_span_census")
    assert(!p.contains("Expand")) // two-level agg, not count(distinct ...)
    // both aggregates keep map-side partials ahead of their exchange
    assert(p.contains("partial_count") || p.contains("partial"))
  }

  test("c2 line dedup: hash-keyed equi-joins only, no window, no cartesian") {
    val p = plan("c2_line_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(!p.contains("Window")) // keep_doc via min-agg, not a ranking window
    assert(!p.contains("Expand")) // distinct-doc census, no countDistinct expand
  }

  test("d9 incremental drop: band equi-join only, corpus side never pairs with itself") {
    val p = plan("d9_incremental_drop")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(!p.contains("Window"))
  }

  test("mx1 mixture weights: one source exchange plus a broadcast total") {
    val p = plan("mx1_mixture_weights")
    assert(p.contains("BroadcastExchange")) // the single-row total
    assert(!p.contains("CartesianProduct")) // cross-join collapses to BNLJ-free broadcast
  }

  test("c1 corpus pipeline: broadcast decontamination, no quadratic stage") {
    val p = plan("c1_corpus_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("LeftAnti")) // flagged ids applied as an anti-join
    // the anti-join's flagged side is broadcast — the corpus does not
    // shuffle to drop a handful of contaminated ids
    assert(p.contains("BroadcastHashJoin"))
  }

  test("p8 shuffled shards: one exchange on shard_id, per-shard sort only") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Split.shuffledShards(
      graft.sources.Tables.documents(spark, sfDir), col("doc_id"), nShards = 8)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(shard_id"))
    assert(!p.contains("SinglePartition"))
    assert("Exchange".r.findAllIn(p).size == 1)
  }

  test("rollup rewrite serves coarse OHLCV windows from the registered roll-up") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Resample
    import graft.plans.{RollupCatalog, RollupRewrite}
    import graft.sources.Tables

    def raw = Tables.bars(spark, sfDir)
    // expected result BEFORE any registration (plain raw aggregation)
    val expected = Resample.ohlcv(raw, "1 hour").collect()
      .map(_.toString).sorted

    // materialize the 15-minute roll-up as a parquet table (bars shape +
    // the decimal exact-composition columns Sum queries are served from)
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup").toString
    Resample.ohlcvRollup(raw, "15 minutes").withColumnRenamed("bucket_ts", "ts")
      .write.mode("overwrite").parquet(s"$dir/rollup15m")
    val rollup = spark.read.parquet(s"$dir/rollup15m")

    spark.experimental.extraOptimizations = Seq(RollupRewrite)
    try {
      RollupCatalog.register(raw, 15L * 60 * 1000000, rollup)

      def scanPaths(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.optimizedPlan.collectLeaves().flatMap {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Nil
            }
          case _ => Nil
        }.mkString("\n")

      val coarse = Resample.ohlcv(raw, "1 hour")
      val plan = coarse.queryExecution.optimizedPlan
      val scanned = scanPaths(coarse)
      // the rewritten plan scans the ROLL-UP table, not the raw source
      assert(scanned.contains("rollup15m"), s"expected roll-up scan:\n$scanned")
      assert(!scanned.contains("events"), s"raw source still scanned:\n$scanned")
      // count(1) re-expressed as sum of the roll-up's n_bars
      assert(plan.toString.contains("__rollup_n_bars"))
      // identical results
      assert(coarse.collect().map(_.toString).sorted.sameElements(expected))

      // a non-dividing step (7 min) must NOT rewrite
      val oddScan = scanPaths(Resample.ohlcv(raw, "7 minutes"))
      assert(oddScan.contains("events") && !oddScan.contains("rollup15m"))

      // an avg-style aggregate over the raw source must NOT rewrite
      val nonDecomposable = raw
        .groupBy(col("symbol"),
          org.apache.spark.sql.functions.window(col("ts"), "1 hour"))
        .agg(org.apache.spark.sql.functions.avg(col("close")).as("avg_close"))
      val ndScan = scanPaths(nonDecomposable)
      assert(ndScan.contains("events") && !ndScan.contains("rollup15m"))

      // a composing FUNCTION on the WRONG column must NOT rewrite either:
      // roll-up `open` is first-of-bucket, so max(open) over buckets would
      // silently lose intra-bucket maxima
      val wrongRole = raw
        .groupBy(col("symbol"),
          org.apache.spark.sql.functions.window(col("ts"), "1 hour"))
        .agg(org.apache.spark.sql.functions.max(col("open")).as("max_open"))
      val wrScan = scanPaths(wrongRole)
      assert(wrScan.contains("events") && !wrScan.contains("rollup15m"))

      // in-memory (unmaterialized) roll-up registration also terminates
      // and rewrites: the defining query itself must not self-match
      RollupCatalog.clear()
      RollupCatalog.register(raw, 5L * 60 * 1000000,
        Resample.ohlcvRollup(raw, "5 minutes").withColumnRenamed("bucket_ts", "ts"))
      val viaInMem = Resample.ohlcv(raw, "1 hour")
      assert(viaInMem.queryExecution.optimizedPlan.toString
        .contains("__rollup_n_bars"))
      assert(viaInMem.collect().map(_.toString).sorted.sameElements(expected))
    } finally {
      RollupCatalog.clear()
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("rollup rewrite: veto edges, and exact avg/stddev serving from extended roll-ups") {
    import org.apache.spark.sql.functions._
    import graft.functions.{exactAvg, exactSum, exactSumSqDec}
    import graft.operators.Resample
    import graft.plans.{RollupCatalog, RollupRewrite}
    import graft.sources.Tables

    def raw = Tables.bars(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup2").toString
    // full roll-up: volume AND close exact-composition columns
    Resample.ohlcvRollup(raw, "15 minutes", exactCols = Seq("volume", "close"))
      .withColumnRenamed("bucket_ts", "ts")
      .write.mode("overwrite").parquet(s"$dir/full15m")
    // plain roll-up: volume only — close-based avg/stddev must veto
    Resample.ohlcvRollup(raw, "15 minutes")
      .withColumnRenamed("bucket_ts", "ts")
      .write.mode("overwrite").parquet(s"$dir/plain15m")

    def scans(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.collectLeaves().flatMap {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        case _ => Nil
      }.mkString("\n")

    // the exactAvg / sum-of-squares / count / exactSum probe query —
    // exactly the aggregate shapes exactVarSamp/exactStdSamp decompose into
    // (the stddev division itself happens above the served aggregates)
    def probe = raw.groupBy(col("symbol"), window(col("ts"), "1 hour"))
      .agg(exactAvg(col("close")).as("avg_close"),
        exactSumSqDec(col("close")).cast("double").as("sumsq_close"),
        count(col("close")).as("n_close"),
        exactSum(col("volume")).as("sum_vol"))
    val expected = probe.collect().map(_.toString).sorted // raw, pre-registration

    spark.experimental.extraOptimizations = Seq(RollupRewrite)
    try {
      // ---- veto edges, registered against the FULL roll-up ----
      RollupCatalog.register(raw, 15L * 60 * 1000000,
        spark.read.parquet(s"$dir/full15m"))

      // negative startTime (legal Spark, shifts the bucket lattice) vetoes
      val shifted = raw.groupBy(col("symbol"),
          window(col("ts"), "1 hour", "1 hour", "-7 minutes"))
        .agg(max(col("high")).as("h"))
      assert(!scans(shifted).contains("full15m"), "shifted window must not rewrite")

      // extra grouping key that is bucket-VARYING on the raw source vetoes:
      // ts would remap row-level groups onto bucket starts, close onto
      // last-of-bucket — different groups entirely
      val groupTs = raw.groupBy(col("symbol"), window(col("ts"), "1 hour"), col("ts"))
        .agg(max(col("high")).as("h"))
      assert(!scans(groupTs).contains("full15m"), "groupBy ts must not rewrite")
      val groupClose = raw.groupBy(col("symbol"), window(col("ts"), "1 hour"), col("close"))
        .agg(max(col("high")).as("h"))
      assert(!scans(groupClose).contains("full15m"), "groupBy close must not rewrite")

      // min_by with a negated or coarsened ordering references only ts but
      // does not pick the same bucket across levels — vetoes
      val negOrd = raw.groupBy(col("symbol"), window(col("ts"), "1 hour"))
        .agg(min_by(col("open"), -unix_micros(col("ts").cast("timestamp"))).as("o"))
      assert(!scans(negOrd).contains("full15m"), "negated ordering must not rewrite")
      val coarseOrd = raw.groupBy(col("symbol"), window(col("ts"), "1 hour"))
        .agg(min_by(col("open"), date_trunc("day", col("ts"))).as("o"))
      assert(!scans(coarseOrd).contains("full15m"), "coarsened ordering must not rewrite")

      // window-only grouping: bucket ts values tie ACROSS symbols, so
      // first/last is ambiguous at the bucket level — vetoes
      val noSym = raw.groupBy(window(col("ts"), "1 hour"))
        .agg(min_by(col("open"), col("ts")).as("o"))
      assert(!scans(noSym).contains("full15m"), "symbol-less min_by must not rewrite")

      // plain DOUBLE sum (no decimal cast) would re-round per level — vetoes
      val dblSum = raw.groupBy(col("symbol"), window(col("ts"), "1 hour"))
        .agg(sum(col("volume")).as("v"))
      assert(!scans(dblSum).contains("full15m"), "double sum must not rewrite")

      // ---- exact serving: avg/stddev/count from sum_/sum2_/n_ columns ----
      val served = probe
      val s = scans(served)
      assert(s.contains("full15m") && !s.contains("events"),
        s"probe should serve from the roll-up:\n$s")
      // decimal re-aggregation is associative ⇒ BIT-identical results
      assert(served.collect().map(_.toString).sorted.sameElements(expected))

      // ---- the same probe vetoes when the roll-up lacks close columns ----
      RollupCatalog.clear()
      RollupCatalog.register(raw, 15L * 60 * 1000000,
        spark.read.parquet(s"$dir/plain15m"))
      val unserved = probe
      val s2 = scans(unserved)
      assert(!s2.contains("plain15m") && s2.contains("events"),
        s"close-avg probe must veto on a volume-only roll-up:\n$s2")
      // …while a volume-only query still serves
      val volOnly = raw.groupBy(col("symbol"), window(col("ts"), "1 hour"))
        .agg(exactSum(col("volume")).as("sum_vol"), count(lit(1)).as("n"))
      assert(scans(volOnly).contains("plain15m"))
    } finally {
      RollupCatalog.clear()
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("connector scan plans one partition per symbol x slice, no shuffle") {
    val read = spark.read.format(classOf[graft.sources.connector.KlineSource].getName)
      .option("symbols", "AAA,BBB,CCC")
      .option("startMs", 0L).option("endMs", 3600000L)
      .option("slices", 5).load()
    assert(read.rdd.getNumPartitions == 15)
    val p = read.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange")) // ingestion is map-only
  }
}
