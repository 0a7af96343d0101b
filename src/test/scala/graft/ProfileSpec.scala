package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.operators.{Profile, Sketch}

/** Dataset profiler: exact census metrics, HLL distincts limited to
  * string/integral columns, quantiles == exact percentiles of the same
  * bottom-k sample, and loud failure on unknown columns.
  */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, "a", Some(10.0)),
    (2L, "b", Some(20.0)),
    (3L, "a", None),
    (4L, "c", Some(40.0)),
    (5L, "b", Some(50.0))
  ).toDF("id", "s", "v")

  private def metric(rows: Array[org.apache.spark.sql.Row], c: String,
      m: String): Option[Double] =
    rows.collectFirst {
      case r if r.getString(0) == c && r.getString(1) == m =>
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
    }

  test("census metrics are exact; shape is one tall row per metric") {
    val rows = Profile.dataset(df, keyCol = "id").collect()
    assert(metric(rows, "id", "count").contains(5.0))
    assert(metric(rows, "v", "n_nulls").contains(1.0))
    assert(metric(rows, "s", "n_nulls").contains(0.0))
    assert(metric(rows, "v", "min").contains(10.0))
    assert(metric(rows, "v", "max").contains(50.0))
    // string column: no numeric metrics, but an HLL distinct
    assert(metric(rows, "s", "min").isEmpty)
    assert(metric(rows, "s", "approx_distinct").exists(d =>
      math.abs(d - 3.0) < 0.2))
    // double column: no approx_distinct (float formatting isn't canonical
    // across engines)
    assert(metric(rows, "v", "approx_distinct").isEmpty)
    // id (long) gets both numeric metrics and a distinct estimate
    assert(metric(rows, "id", "approx_distinct").exists(d =>
      math.abs(d - 5.0) < 0.3))
  }

  test("quantiles == exact percentile of the SAME bottom-k sample") {
    val n = 5000
    val big = (1 to n).map(i => (i.toLong, (i * 7 % n).toDouble))
      .toDF("id", "v")
    val rows = Profile.dataset(big, keyCol = "id", cols = Seq("v"),
      k = 256).collect()
    val sample = Sketch.sampleBottomK(big, Nil, col("id"), 256)
    val exact = sample.agg(
      percentile(col("v"), lit(0.25)),
      percentile(col("v"), lit(0.5)),
      percentile(col("v"), lit(0.75))).head
    assert(metric(rows, "v", "q25").contains(exact.getDouble(0)))
    assert(metric(rows, "v", "q50").contains(exact.getDouble(1)))
    assert(metric(rows, "v", "q75").contains(exact.getDouble(2)))
    // sample-of-256 median of a uniform permutation lands near the true
    // median (rank error O(1/sqrt k))
    assert(math.abs(metric(rows, "v", "q50").get - n / 2.0) < n * 0.15)
  }

  test("a failed pass cancels its sibling passes: no job or helper " +
      "thread outlives the throw") {
    // `bad` (string: census + HLL passes) throws on its first row; `v`
    // (double: census + quantile passes) sleeps per row, so the quantile
    // pass alone would run for tens of seconds. One input partition: each
    // pass's scan is one task, so the three never queue for cores.
    val bad = udf { (i: Long) =>
      if (i >= 0) throw new IllegalStateException("profile udf failed")
      "x"
    }
    val slow = udf { (i: Long) => Thread.sleep(40); i.toDouble }
      .asNondeterministic()
    val frame = spark.range(0, 500, 1, 1)
      .select(col("id"), slow(col("id")).as("v"), bad(col("id")).as("bad"))
    val e = intercept[Exception](Profile.dataset(frame, keyCol = "id"))
    val thrownAt = System.nanoTime
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("profile udf failed")),
      s"not the UDF's error: $e")
    // drain the listener bus first: a job start still queued there would
    // read as "no active job"
    def settled = {
      ListenerBridge.drain(spark)
      spark.sparkContext.statusTracker.getActiveJobIds.isEmpty
    } &&
      !Thread.getAllStackTraces.keySet.asScala.exists(t =>
        t.isAlive && t.getName.startsWith("graft-concurrent-"))
    // look once, 2 s after the throw: a pass still planning at the throw
    // starts its job later, so an earlier look can miss it
    Thread.sleep(math.max(0L, 2000L - (System.nanoTime - thrownAt) / 1000000))
    assert(settled, "a profile pass kept running after Profile.dataset threw")
  }

  test("unknown profile column fails loudly") {
    val e = intercept[IllegalArgumentException] {
      Profile.dataset(df, keyCol = "id", cols = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("profile of an empty frame and an all-null column degrade to " +
    "nulls, not errors") {
    val empty = df.filter(col("id") < 0)
    val er = Profile.dataset(empty, "id").collect()
    assert(er.nonEmpty)
    assert(er.filter(_.getString(1) == "count").forall(_.getDouble(2) == 0.0))
    assert(er.filter(r => Set("min", "max", "q50")(r.getString(1)))
      .forall(_.isNullAt(2)))

    val allNull = Seq((1L, None: Option[Double]), (2L, None))
      .toDF("id", "v")
    val nr = Profile.dataset(allNull, "id").collect()
    assert(nr.find(r => r.getString(0) == "v" && r.getString(1) == "n_nulls")
      .get.getDouble(2) == 2.0)
    assert(nr.find(r => r.getString(0) == "v" && r.getString(1) == "min")
      .get.isNullAt(2))
  }

  test("frequentValues == brute-force share filter (sample covers all " +
      "rows); nulls excluded from shares; non-canonical types refused") {
    val df = (1 to 1000).map(i => (i.toLong,
        if (i % 2 == 0) "even" else if (i % 3 == 0) "odd3" else s"rare$i",
        if (i % 10 == 0) null else (i % 5).toString))
      .toDF("id", "a", "b")
    val got = Profile.frequentValues(df, "id", Seq("a", "b"),
      k = 2048, minShare = 0.05)
      .select("col_name", "item", "n", "share").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // brute force: per column, exact counts over non-null values
    val brute = Seq("a", "b").flatMap { c =>
      val nn = df.filter(col(c).isNotNull)
      val tot = nn.count().toDouble
      nn.groupBy(col(c).as("item")).count().collect()
        .map(r => (c, r.getString(0), r.getLong(1), r.getLong(1) / tot))
        .filter(_._4 >= 0.05)
    }.toSet
    assert(got == brute, s"got ${got.diff(brute)} missing ${brute.diff(got)}")
    val e = intercept[IllegalArgumentException] {
      Profile.frequentValues(
        df.withColumn("f", col("id").cast("double")), "id", Seq("f"))
    }
    assert(e.getMessage.contains("canonical"))
  }

  // --- drift (PSI) ---

  private def driftOf(shift: Double, n: Int = 4000) = {
    val base = (1 to n).map(i => (i.toLong, (i % 100).toDouble))
      .toDF("id", "v")
    val cur = (1 to n).map(i => (i.toLong + n, (i % 100).toDouble + shift))
      .toDF("id", "v")
    Profile.drift(base, cur, keyCol = "id", cols = Seq("v"), k = 512)
  }

  test("identical distributions -> PSI ~ 0; shifted -> large PSI; " +
    "summary row = fold of contributions") {
    val same = driftOf(0.0).collect()
    val sameSummary = same.find(_.getInt(1) == -1).get
    assert(math.abs(sameSummary.getDouble(6)) < 1e-3)

    val rows = driftOf(60.0).collect()
    val summary = rows.find(_.getInt(1) == -1).get
    assert(summary.getDouble(6) > 0.5, s"expected drift, got $summary")
    // summary psi == left fold of the 10 bucket contributions
    val contribs = rows.filter(_.getInt(1) >= 0).sortBy(_.getInt(1))
      .map(_.getDouble(6))
    assert(contribs.length == 10)
    assert(summary.getDouble(6) == contribs.foldLeft(0.0)(_ + _))
    // totals on the summary row are the exact non-null counts
    assert(summary.getDouble(2) == 4000.0 && summary.getDouble(3) == 4000.0)
    // shares are smoothed probabilities: each side sums to ~1
    val baseShares = rows.filter(_.getInt(1) >= 0).map(_.getDouble(4)).sum
    assert(math.abs(baseShares - 1.0) < 1e-9)
  }

  test("nulls are excluded from buckets but counted in totals; " +
    "non-numeric drift column refused") {
    val base = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, None))
      .toDF("id", "v")
    val cur = Seq((4L, Some(1.0)), (5L, None), (6L, None))
      .toDF("id", "v")
    val rows = Profile.drift(base, cur, "id", Seq("v"), k = 16).collect()
    val s = rows.find(_.getInt(1) == -1).get
    assert(s.getDouble(2) == 2.0 && s.getDouble(3) == 1.0)
    val bucketed = rows.filter(_.getInt(1) >= 0)
    assert(bucketed.map(_.getDouble(2)).sum == 2.0)
    assert(bucketed.map(_.getDouble(3)).sum == 1.0)

    val e = intercept[IllegalArgumentException] {
      Profile.drift(df, df, "id", Seq("s"))
    }
    assert(e.getMessage.contains("not numeric"))
  }

  test("drift on an empty/all-null baseline fails loudly, naming the " +
      "column, instead of NPEing on a null percentile") {
    val base = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x")
    val cur = Seq((1L, 1.0)).toDF("id", "x")
    val e1 = intercept[IllegalArgumentException] {
      Profile.drift(base.filter(col("id") < 0), cur, "id", Seq("x"))
    }
    assert(e1.getMessage.contains("x") && e1.getMessage.contains("keyCol"))
    val allNull = Seq((1L, None: Option[Double]), (2L, None)).toDF("id", "x")
    val e2 = intercept[IllegalArgumentException] {
      Profile.drift(allNull, cur, "id", Seq("x"))
    }
    assert(e2.getMessage.contains("x"))
  }

  test("per-group drift: shifted group flags, stable group ~0, " +
    "cur-only group excluded, base-only group reports n_cur=0") {
    val base = (1 to 6000).map { i =>
      val g = Seq("stable", "shifty", "gone")(i % 3)
      (g, i.toLong, (i % 100).toDouble)
    }.toDF("g", "id", "v")
    val cur = (1 to 6000).flatMap { i =>
      i % 3 match {
        case 0 => Some(("stable", i.toLong + 10000, (i % 100).toDouble))
        case 1 => Some(("shifty", i.toLong + 10000, (i % 100).toDouble + 55))
        case _ => Some(("brandnew", i.toLong + 10000, (i % 100).toDouble))
      }
    }.toDF("g", "id", "v")
    val rows = Profile.driftByGroup(base, cur, Seq("g"), "id", "v", k = 512)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("stable", "shifty", "gone"))
    assert(math.abs(rows("stable").getDouble(3)) < 0.01)
    assert(rows("shifty").getDouble(3) > 0.5)
    assert(rows("gone").getDouble(2) == 0.0) // n_cur
    assert(rows("gone").getDouble(3) > 0.0)  // max-drift vs empty current
  }

  test("per-group drift on ONE group == the global drift's summary PSI") {
    val base = (1 to 3000).map(i => ("g", i.toLong, (i % 83).toDouble))
      .toDF("g", "id", "v")
    val cur = (1 to 3000).map(i => ("g", i.toLong + 5000, (i % 83) + 7.0))
      .toDF("g", "id", "v")
    val grouped = Profile.driftByGroup(base, cur, Seq("g"), "id", "v",
      k = 512).head
    val global = Profile.drift(base, cur, "id", Seq("v"), k = 512)
      .collect().find(_.getInt(1) == -1).get
    assert(grouped.getDouble(3) == global.getDouble(6))
  }

  test("incrementally maintained profile == one-shot dataset report, " +
    "bit-for-bit, across batches incl. a replayed one") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-profstream").toString
    val all = (1 to 3000).map(i =>
      (i.toLong, s"s${i % 70}",
        if (i % 13 == 0) None else Some((i % 997).toDouble)))
    val dfs = all.grouped(1000).map(_.toDF("id", "s", "v")).toSeq
    val handler = Profile.profileStream(root, keyCol = "id", k = 256)
    handler(dfs(0), 0L)
    handler(dfs(1), 1L)
    handler(dfs(1), 1L) // at-least-once replay: census must not double-count
    handler(dfs(2), 2L)
    val inc = Profile.assemble(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    val one = Profile.dataset(all.toDF("id", "s", "v"), "id", k = 256)
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(inc == one)
  }

  // --- weighted sampling (Efraimidis–Spirakis) ---

  test("weighted sample: inclusion tracks weight, exact k, merge == " +
    "one-shot, invalid weights excluded") {
    val n = 20000
    // weight 9 for ids divisible by 10 (10% of rows), weight 1 otherwise:
    // heavy rows hold 50% of total weight, so a k-sample should include
    // heavy ids at ~9x the rate of light ones
    val d = (1 to n).map(i =>
      (i.toLong, if (i % 10 == 0) 9.0 else 1.0)).toDF("id", "w")
    val k = 2000
    val s = Sketch.weightedSampleBottomK(d, Nil, col("id"), col("w"), k)
    assert(s.count() == k)
    val heavy = s.filter(col("w") === 9.0).count().toDouble
    val heavyRate = heavy / (n / 10)          // of 2000 heavy rows
    val lightRate = (k - heavy) / (n * 0.9)   // of 18000 light rows
    assert(heavyRate / lightRate > 5.0 && heavyRate / lightRate < 14.0,
      s"heavyRate=$heavyRate lightRate=$lightRate")

    // mergeable: sample(A) ∪ sample(B) re-trimmed == sample(A ∪ B)
    val (a, b) = (d.filter(col("id") <= n / 2), d.filter(col("id") > n / 2))
    val merged = Sketch.weightedSampleBottomK(a, Nil, col("id"), col("w"), k)
      .unionByName(Sketch.weightedSampleBottomK(b, Nil, col("id"), col("w"), k))
      .orderBy("__wk", "__ks").limit(k)
    assert(merged.select("id").exceptAll(s.select("id")).isEmpty)

    // null / non-positive weights never sample
    val bad = Seq((1L, Some(0.0)), (2L, Some(-1.0)), (3L, None),
      (4L, Some(2.0))).toDF("id", "w")
    val sb = Sketch.weightedSampleBottomK(bad, Nil, col("id"), col("w"), 10)
    assert(sb.select("id").as[Long].collect().toSeq == Seq(4L))

    // the operator's own merge (dedup + rank re-trim) == one-shot EXACTLY,
    // including under a replayed batch
    val sa = Sketch.weightedSampleBottomK(a, Nil, col("id"), col("w"), k)
    // replay: batch A delivered twice (fresh attribute ids so the
    // self-union binds cleanly)
    val saReplay = spark.createDataFrame(sa.rdd, sa.schema)
    val viaMerge = Sketch.mergeWeightedSamples(
      sa.unionByName(saReplay),
      Sketch.weightedSampleBottomK(b, Nil, col("id"), col("w"), k),
      Nil, k)
    val mids = viaMerge.select("id").as[Long].collect()
    assert(mids.length == k)
    assert(mids.toSet == s.select("id").as[Long].collect().toSet)
  }

  test("streaming weighted-sample maintenance converges to the one-shot " +
    "sample across batches and replays") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-wsstream").toString
    val all = (1 to 9000).map(i =>
      (i.toLong, if (i % 10 == 0) 9.0 else 1.0))
    val dfs = all.grouped(3000).map(_.toDF("id", "w")).toSeq
    val handler = Sketch.weightedSampleStream(root, Nil, col("id"),
      col("w"), k = 512)
    handler(dfs(0), 0L)
    handler(dfs(1), 1L)
    handler(dfs(1), 1L) // replay
    handler(dfs(2), 2L)
    val live = graft.sinks.SnapshotLake.read(spark, root).select("id")
    val one = Sketch.weightedSampleBottomK(all.toDF("id", "w"), Nil,
      col("id"), col("w"), 512).select("id")
    assert(live.count() == 512)
    assert(live.exceptAll(one).isEmpty && one.exceptAll(live).isEmpty)
  }

  // --- theta/KMV set overlap ---

  test("theta overlap is EXACT below k, and symmetric") {
    val a = (1 to 300).map(i => Tuple1(i.toLong)).toDF("v")
    val b = (201 to 500).map(i => Tuple1(i.toLong)).toDF("v")
    val r = Sketch.thetaOverlap(a, b, col("v"), col("v"), k = 4096).head
    assert(r.getDouble(0) == 300.0 && r.getDouble(1) == 300.0)
    assert(r.getDouble(2) == 500.0 && r.getDouble(3) == 100.0)
    assert(r.getDouble(4) == 100.0 / 500.0)
    val rev = Sketch.thetaOverlap(b, a, col("v"), col("v"), k = 4096).head
    assert(rev.getDouble(3) == r.getDouble(3) &&
      rev.getDouble(2) == r.getDouble(2))
  }

  test("theta overlap estimates track exact overlap at 200k keys " +
    "(rel err within ~3/sqrt(k))") {
    val n = 200000
    val a = (1 to n).map(i => Tuple1(i.toLong)).toDF("v")
    val b = ((n / 2 + 1) to (n + n / 2)).map(i => Tuple1(i.toLong)).toDF("v")
    val k = 2048
    val r = Sketch.thetaOverlap(a, b, col("v"), col("v"), k = k).head
    val tol = 3.0 / math.sqrt(k) // ~6.6%
    assert(math.abs(r.getDouble(0) - n) / n < tol, s"n_a=${r.getDouble(0)}")
    assert(math.abs(r.getDouble(2) - 1.5 * n) / (1.5 * n) < tol,
      s"n_union=${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 0.5 * n) / (0.5 * n) < 2 * tol,
      s"n_intersect=${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) - 1.0 / 3.0) < 2 * tol,
      s"jaccard=${r.getDouble(4)}")
  }

  test("kmv sketch plans as TakeOrdered (bounded per-partition heap), " +
    "never a global sort") {
    val df = spark.range(100000).selectExpr("id AS v")
    val plan = Sketch.kmvSketch(df, col("v"), 4096)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("\nSort "), plan)
  }

  test("per-group theta overlap == the global form per group; groups " +
    "on one side only report zero for the missing side") {
    val a = (1 to 2000).flatMap(i => Seq(
      ("x", i.toLong), ("y", i.toLong), ("only_a", i.toLong)))
      .toDF("g", "v")
    val b = (1 to 2000).flatMap(i => Seq(
      ("x", i.toLong + 1000),  // x: half overlap
      ("y", i.toLong + 50000), // y: disjoint
      ("only_b", i.toLong))).toDF("g", "v")
    val k = 512
    val grouped = Sketch.thetaOverlapByGroup(a, b, Seq("g"),
      col("v"), col("v"), k = k)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(grouped.keySet == Set("x", "y", "only_a", "only_b"))
    for (g <- Seq("x", "y")) {
      val solo = Sketch.thetaOverlap(
        a.filter(col("g") === g), b.filter(col("g") === g),
        col("v"), col("v"), k = k).head
      val gr = grouped(g)
      for (i <- 1 to 4)
        assert(gr.getDouble(i) == solo.getDouble(i - 1),
          s"$g col $i: ${gr.getDouble(i)} vs ${solo.getDouble(i - 1)}")
      assert(gr.getDouble(5) == solo.getDouble(4))
    }
    assert(grouped("y").getDouble(4) == 0.0) // disjoint: no intersection
    val tol = 3.0 / math.sqrt(512) // ~13% — counts above k are estimates
    assert(grouped("only_a").getDouble(2) == 0.0)
    assert(math.abs(grouped("only_a").getDouble(1) - 2000.0) < 2000 * tol)
    assert(grouped("only_b").getDouble(1) == 0.0)
    assert(math.abs(grouped("only_b").getDouble(2) - 2000.0) < 2000 * tol)
  }

  test("theta overlap: disjoint sets and empty side") {
    val a = (1 to 100).map(i => Tuple1(i.toLong)).toDF("v")
    val b = (1000 to 1100).map(i => Tuple1(i.toLong)).toDF("v")
    val r = Sketch.thetaOverlap(a, b, col("v"), col("v")).head
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0)
    val empty = a.filter(col("v") < 0)
    val re = Sketch.thetaOverlap(a, empty, col("v"), col("v")).head
    assert(re.getDouble(1) == 0.0 && re.getDouble(2) == 100.0)
    val rb = Sketch.thetaOverlap(empty, empty, col("v"), col("v")).head
    assert(rb.isNullAt(4)) // jaccard of two empty sets is undefined
  }
}
