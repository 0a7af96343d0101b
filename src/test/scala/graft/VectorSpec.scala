package graft

import org.apache.spark.sql.functions._

import graft.operators.VectorOps

class VectorSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val df = Seq(
      (vec(1, 0, 0, 0), vec(1, 0, 0, 0)),
      (vec(1, 0, 0, 0), vec(0, 1, 0, 0)),
      (vec(1, 0, 0, 0), vec(-1, 0, 0, 0))
    ).toDF("a", "b")
    val cs = df.select(VectorOps.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(cs(0) === 1.0)
    assert(cs(1) === 0.0)
    assert(cs(2) === -1.0)
  }

  test("blockedTopPairs guard rail fails fast on an oversized block") {
    val vecs = (1 to 40).map(i => (i.toLong, s"b${i % 4}", vec(i, 1, 0, 0)))
      .toDF("vec_id", "blk0", "embedding")
    // within the limit: pairs come back, ranked by cosine
    val ok = VectorOps.blockedTopPairs(vecs, col("blk0"), 5, maxBlockRows = 100)
      .collect()
    assert(ok.length == 5)
    // one hot block over the limit: explicit failure, not a silent n^2 run
    val e = intercept[Exception] {
      VectorOps.blockedTopPairs(vecs, lit("all"), 5, maxBlockRows = 10).collect()
    }
    // the failure must TEACH the fix: the guard message names the
    // blocksFor dial (the linear production shape — VERDICT r8 #8)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("blocksFor")),
      s"guard message should name blocksFor: ${messages(e).mkString(" | ")}")
  }

  test("nearDupTopPairs (dialed blocking) finds the planted near-dup pair") {
    // 3 tight clusters of 4 + the planted near-identical pair in one of
    // them; k = blocksFor(n, 4) = 4 blocks of ~4 — the pair must surface
    // at rank 1 even though only within-block pairs are scored
    val base = (0 until 64).map(i => math.sin(i + 1)).toArray
    def jitter(eps: Double) = base.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + eps else x }
    val corpus = (Seq(
      (100L, base.map(_.toFloat)), (101L, jitter(0.001).map(_.toFloat))
    ) ++ (0 until 12).map(j =>
      (j.toLong, (0 until 64).map(i => math.cos(i * (j % 3 + 2)) + 0.05 * j).map(_.toFloat).toArray)
    )).toDF("vec_id", "embedding")
    val k = VectorOps.blocksFor(14, 4)
    val coarse = VectorOps.kmeansCodebook(corpus, k, 4, sampleMod = 1)
    val top = VectorOps.nearDupTopPairs(corpus, coarse, 3).collect()
    assert(top.head.getLong(0) == 100L && top.head.getLong(1) == 101L)
    assert(top.head.getDouble(2) > 0.999)
  }

  test("brute-force top-k finds a planted near-duplicate at rank 1") {
    val base = (0 until 64).map(i => math.sin(i + 1)).toArray
    val near = base.zipWithIndex.map { case (x, i) => if (i == 0) x * 1.01 else x }
    val corpus = (Seq(
      (100L, base.map(_.toFloat)),
      (101L, near.map(_.toFloat))
    ) ++ (0 until 20).map(j =>
      (j.toLong, (0 until 64).map(i => math.cos(i * (j + 2)).toFloat).toArray)
    )).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 100L)
    val top = VectorOps.bruteTopK(q, corpus, 3).collect()
    assert(top.head.getLong(2) == 101L) // rank-1 neighbor is the planted near-dup
    assert(top.head.getDouble(3) > 0.99)
    // ranks are 1..3 with non-increasing cosine
    val cos = top.map(_.getDouble(3))
    assert(cos.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("IVF top-k probes only nProbe lists yet finds the planted near-dup") {
    val base = (0 until 64).map(i => math.sin(i + 1)).toArray
    val near = base.zipWithIndex.map { case (x, i) => if (i == 0) x * 1.01 else x }
    val corpus = (Seq(
      (100L, base.map(_.toFloat)),
      (101L, near.map(_.toFloat))
    ) ++ (0 until 40).map(j =>
      (j.toLong, (0 until 64).map(i => math.cos(i * (j + 2)).toFloat).toArray)
    )).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 100L)
    val top = VectorOps.ivfTopK(q, corpus, 3, nCentroids = 8, nProbe = 3).collect()
    // the near-dup lands in the same inverted list as its near-identical
    // query (cosine-nearest centroid is the same), so rank 1 survives IVF
    assert(top.head.getLong(2) == 101L)
    assert(top.head.getDouble(3) > 0.99)
    // nProbe = all lists degrades to brute force exactly
    val all = VectorOps.ivfTopK(q, corpus, 3, nCentroids = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val brute = VectorOps.bruteTopK(q, corpus, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(all.toSeq == brute.toSeq)
  }

  test("k-means codebook: deterministic, and IVF recall@10 >= 0.55 on sf0.1") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val q = emb.filter(col("vec_id") < 8)
    // deterministic: same inputs, same codebook, twice
    val cb1 = VectorOps.kmeansCodebook(emb, 16, iters = 4, sampleMod = 3)
    val cb2 = VectorOps.kmeansCodebook(emb, 16, iters = 4, sampleMod = 3)
    assert(cb1.length == 16)
    assert(cb1.map(_._2.toSeq).toSeq == cb2.map(_._2.toSeq).toSeq)
    // Lloyd moved the centroids off their init vectors (it actually trained)
    val inits = emb.filter(col("vec_id") % 3 === 0).orderBy("vec_id").limit(16)
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble))
    assert(cb1.map(_._2.toSeq).toSet != inits.map(_.toSeq).toSet)

    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val truth = hits(VectorOps.bruteTopK(q, emb, 10))
    def recallAt(nProbe: Int): Double = {
      val ivf = hits(VectorOps.ivfTopK(q, emb, 10, 16, nProbe, Some(cb1)))
      truth.map { case (qid, t) =>
        ivf.getOrElse(qid, Set.empty[Long]).intersect(t).size / 10.0
      }.sum / truth.size
    }
    val recall4 = recallAt(4)
    info(f"IVF(16 lists, 4 probes) recall@10 vs brute force: $recall4%.3f")
    // stated floor: 4/16 lists probed must recover >= 55% of true top-10
    assert(recall4 >= 0.55, f"recall $recall4%.3f below floor")
    // second operating point (BASELINE.md dial): 8/16 lists scans 2x the
    // corpus for materially better recall — callers pick the trade-off
    val recall8 = recallAt(8)
    info(f"IVF(16 lists, 8 probes) recall@10 vs brute force: $recall8%.3f")
    assert(recall8 >= recall4, "more probes must not lose recall")
    assert(recall8 >= 0.75, f"recall $recall8%.3f below nProbe=8 floor")
  }

  test("PQ codebooks deterministic; ADC + refine recall on sf0.1; sample guard") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val q = emb.filter(col("vec_id") < 8)
    // the v5/v6 production config: 16 4-dim subspaces x 32 centroids
    val cb1 = VectorOps.pqCodebooks(emb, m = 16, ksub = 32, iters = 2, sampleMod = 3)
    val cb2 = VectorOps.pqCodebooks(emb, m = 16, ksub = 32, iters = 2, sampleMod = 3)
    assert(cb1.length == 16 && cb1.forall(_.length == 32))
    assert(cb1.map(_.map(_._2.toSeq).toSeq).toSeq ==
      cb2.map(_.map(_._2.toSeq).toSeq).toSeq)
    assert(cb1.forall(_.forall(_._2.length == 4))) // 4-dim subspace centroids

    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val truth = hits(VectorOps.bruteTopK(q, emb, 10))
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val h = hits(df)
      truth.map { case (qid, t) =>
        h.getOrElse(qid, Set.empty[Long]).intersect(t).size / 10.0
      }.sum / truth.size
    }
    // pure ADC: ranked from 32x-compressed codes alone — measured 0.45 on
    // these near-uniform vectors (ANN's worst case), floored below
    val adc = recallOf(VectorOps.pqTopK(q, emb, 10, cb1))
    info(f"PQ(16x32) ADC recall@10 vs brute force: $adc%.3f")
    assert(adc >= 0.35, f"ADC recall $adc%.3f below floor")
    // the native codegen'd expressions (PqEncode/PqAdcCosine) are
    // bit-equal to the independent HOF Column formulation: same rows,
    // same ranks, same approx_cosine doubles
    val native = VectorOps.pqTopK(q, emb, 10, cb1)
      .collect().map(_.toString).sorted
    val viaCols = Witness.pqTopK(q, emb, 10, cb1)
      .collect().map(_.toString).sorted
    assert(native.sameElements(viaCols), "native PQ path diverged from HOF path")
    // shortlist-100 + exact re-rank: quantization error only costs recall
    // when a true neighbor misses the whole shortlist
    val refined = recallOf(VectorOps.pqRefineTopK(q, emb, 10, 100, cb1))
    info(f"PQ(16x32) refine@100 recall@10 vs brute force: $refined%.3f")
    assert(refined >= 0.85, f"refine recall $refined%.3f below floor")
    assert(refined >= adc, "re-ranking must not lose recall")

    // IVF-PQ + refine (v7): coarse pruning bounds recall by list
    // coverage (IVF@4 probes = 0.663 with EXACT scoring), PQ+refine
    // inside the probed lists should stay near that ceiling
    val coarse = VectorOps.kmeansCodebook(emb, 16, iters = 4, sampleMod = 3)
    val ivfpq = recallOf(VectorOps.ivfPqTopK(q, emb, 10, coarse, cb1,
      nProbe = 4, shortlist = 100))
    info(f"IVFPQ(16 lists, 4 probes, 16x32 PQ, refine@100) recall@10: $ivfpq%.3f")
    assert(ivfpq >= 0.55, f"IVFPQ recall $ivfpq%.3f below floor")

    // same driver-sample guard rail as the IVF codebook
    val err = intercept[IllegalArgumentException] {
      VectorOps.pqCodebooks(emb, m = 16, ksub = 32, iters = 2,
        sampleMod = 1, maxSample = 10)
    }
    assert(err.getMessage.contains("maxSample"))
  }

  test("semantic drop list drops a planted twin, keeps the original") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    // twin of vector 0 under a HIGHER id: same coarse list by
    // construction, cosine 1.0 — must be dropped; 0 must be kept
    val twin = emb.filter(col("vec_id") === 0)
      .select(lit(900001L).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(twin)
    val coarse = VectorOps.kmeansCodebook(corpus, 16, 2, 3)
    val drops = VectorOps.semanticDropList(corpus, coarse, tau = 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(drops.contains(900001L), s"twin not dropped: $drops")
    assert(!drops.contains(0L), "keep-lowest-id must keep the original")

    // guard rail: an undersized maxListRows fails fast with the sizing
    // message instead of running the quadratic pair join
    val err = intercept[Exception] {
      VectorOps.semanticDropList(corpus, coarse, tau = 0.95,
        maxListRows = 3).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(err).exists(m => m != null && m.contains("maxListRows")))
  }

  test("native LSH bucket == Column witness across the corpus") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    for (planes <- Seq(1, 4, 8)) {
      val pair = emb.select(
        VectorOps.lshBucket(col("embedding"), planes, 64).as("nb"),
        Witness.lshBucket(col("embedding"), planes, 64).as("wb"))
      assert(pair.filter(col("nb") =!= col("wb")).count() == 0, s"planes=$planes")
    }
  }

  test("native IVF assignment == HOF witness, n = 1 / 4 / all, both codebooks") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    // k-means codebook (cids 0..k-1) and the vec_id stand-in codebook
    // (cids = corpus ids) — both cid shapes the callers use
    val cbKm = VectorOps.kmeansCodebook(emb, 8, 2, 3)
    val cbIds = emb.orderBy("vec_id").limit(8)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    for (cb <- Seq(cbKm, cbIds); n <- Seq(1, 4, 8)) {
      val native = VectorOps.ivfAssign(emb, cb, n)
        .selectExpr("vec_id", "cent_id").collect().map(_.toString).sorted
      val hof = Witness.ivfAssign(emb, cb, n)
        .selectExpr("vec_id", "cent_id").collect().map(_.toString).sorted
      assert(native.sameElements(hof), s"n=$n cids=${cb.take(2).map(_._1).mkString(",")}")
    }
  }

  test("blocksFor keeps pairwise candidates linear in corpus size; fixed blocks go quadratic") {
    // candidate count = sum n_i*(n_i-1)/2 over the census — measurable
    // without evaluating a single cosine
    def candidates(n: Long, nBlocks: Int): Long = {
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(16)), i =>
          ((pmod(xxhash64(col("id") * lit(17L) + i), lit(2001L)) - lit(1000L))
            .cast("double") / lit(1000.0)).cast("float")).as("embedding"))
      val cb = VectorOps.kmeansCodebook(vecs, nBlocks, 1, sampleMod = 7)
      VectorOps.ivfAssign(vecs, cb, 1)
        .groupBy("cent_id").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) / 2"))).head.getAs[Any](0)
        .toString.toDouble.toLong
    }
    val target = 2000L
    val cSmall = candidates(20000, VectorOps.blocksFor(20000, target))
    val cBig = candidates(80000, VectorOps.blocksFor(80000, target))
    val ratioDialed = cBig.toDouble / cSmall
    // 4x corpus with the dial: candidates grow ~4x (linear), never ~16x
    assert(ratioDialed < 8.0, s"dialed ratio $ratioDialed (small=$cSmall big=$cBig)")
    // the oracle-pinned FIXED block count goes quadratic on the same data
    val fSmall = candidates(20000, 10)
    val fBig = candidates(80000, 10)
    val ratioFixed = fBig.toDouble / fSmall
    assert(ratioFixed > 10.0, s"fixed-blocks ratio $ratioFixed should be ~16x")
    info(f"candidates 4x corpus: dialed x$ratioDialed%.1f, fixed-blocks x$ratioFixed%.1f")
    assert(VectorOps.blocksFor(0, 100) == 1 && VectorOps.blocksFor(1000000, 4096) == 245)
  }

  test("IVF assignment ranks degenerate (zero-norm) scores identically in native and witness") {
    // zero-norm vectors/centroids make the cosine NULL (witness) / NaN
    // (native); both must rank them LAST with cid ties — the ADVICE r4
    // non-transitivity case. Mix degenerate and real on both sides.
    val rows = Seq(
      (0L, Array(0f, 0f, 0f, 0f)),           // zero-norm vector: ALL scores NaN
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.5f, 0.5f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val cb: Array[(Long, Array[Double])] = Array(
      (10L, Array(0.0, 0.0, 0.0, 0.0)),      // zero-norm centroid: NaN vs everyone
      (11L, Array(1.0, 0.0, 0.0, 0.0)),
      (12L, Array(0.0, 1.0, 0.0, 0.0)),
      (13L, Array(0.0, 0.0, 0.0, 0.0))       // second zero centroid: cid tie-break
    )
    for (n <- Seq(1, 2, 4)) {
      val native = VectorOps.ivfAssign(rows, cb, n)
        .selectExpr("vec_id", "cent_id").collect().map(_.toString).sorted
      val hof = Witness.ivfAssign(rows, cb, n)
        .selectExpr("vec_id", "cent_id").collect().map(_.toString).sorted
      assert(native.sameElements(hof), s"n=$n")
    }
    // explicit rank check: a real score always beats a NaN one, NaN ties
    // break to the LOWEST cid
    val one = VectorOps.ivfAssign(rows.filter(col("vec_id") === 1L), cb, 4)
      .selectExpr("cent_id").collect().map(_.getLong(0))
    assert(one.take(1).sameElements(Array(11L)), s"got ${one.mkString(",")}")
    assert(one.drop(2).sameElements(Array(10L, 13L)),
      s"NaN scores must rank last, cid ties ascending: ${one.mkString(",")}")
  }

  test("top-k heap aggregate == window ranking, incl. ties and tiny corpora") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb.filter(col("vec_id") < 8)
    // end-to-end: the aggregate-ranked brute path vs the window-ranked one
    val viaAgg = VectorOps.bruteTopK(q, emb, 10).collect().map(_.toString).sorted
    val viaWin = Witness.bruteTopK(q, emb, 10)
      .collect().map(_.toString).sorted
    assert(viaAgg.sameElements(viaWin))

    // tie-heavy synthetic: many identical scores, tie-break on id must
    // match row_number's (score DESC, id ASC) exactly; k larger than some
    // groups exercises the short-group path
    import spark.implicits._
    val scored = (1 to 500).map { i =>
      (i % 3L, (i % 7).toDouble, i.toLong) // 3 queries, 7 distinct scores
    }.toDF("query_id", "cosine", "neighbor_id")
    val aggRanked = VectorOps.topKPerQuery(scored, 25, "cosine")
      .collect().map(_.toString).sorted
    val winRanked = Witness.topKPerQuery(scored, 25, "cosine")
      .collect().map(_.toString).sorted
    assert(aggRanked.sameElements(winRanked))
  }

  test("k-means codebook refuses an unbounded driver-side sample, fast") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    // sampleMod=3 strides ~1/3 of the corpus onto the driver: with a tight
    // maxSample the count-guard must fail BEFORE any collect
    val e = intercept[IllegalArgumentException] {
      VectorOps.kmeansCodebook(emb, 16, iters = 1, sampleMod = 3, maxSample = 100)
    }
    assert(e.getMessage.contains("exceeds maxSample=100"))
    assert(e.getMessage.contains("raise sampleMod"))
  }

  test("multi-probe lsh recall >= single-probe; results within hamming 1") {
    val corpus = (0 until 60).map(j =>
      (j.toLong, (0 until 64).map(i => math.cos(i * (j + 2) * 0.7).toFloat).toArray)
    ).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 5)
    val single = VectorOps.lshTopK(q, corpus, 5, 4, 64).collect()
      .filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val multi = VectorOps.lshTopKMultiProbe(q, corpus, 5, 4, 64).collect()
      .filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // more candidates can only improve (or keep) each query's best cosine
    single.foreach { case (qid, best) =>
      assert(multi.getOrElse(qid, Double.MinValue) >= best, s"query $qid")
    }
    assert(multi.size >= single.size)
    // every returned neighbor is within hamming 1 of the probe's bucket
    val buckets = corpus.select(col("vec_id"),
        VectorOps.lshBucket(col("embedding"), 4, 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    VectorOps.lshTopKMultiProbe(q, corpus, 5, 4, 64).collect().foreach { r =>
      val d = java.lang.Long.bitCount(buckets(r.getLong(0)) ^ buckets(r.getLong(2)))
      assert(d <= 1, s"hamming $d between query ${r.getLong(0)} and ${r.getLong(2)}")
    }
  }

  test("lsh top-k only pairs vectors in the same bucket and keeps near-dups") {
    val base = (0 until 64).map(i => math.sin(i + 1)).toArray
    val near = base.map(_ * 2.0) // same direction, same bucket by construction
    val corpus = (Seq(
      (100L, base.map(_.toFloat)),
      (101L, near.map(_.toFloat))
    ) ++ (0 until 30).map(j =>
      (j.toLong, (0 until 64).map(i => math.cos(i * (j + 2)).toFloat).toArray)
    )).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 100L)
    val res = VectorOps.lshTopK(q, corpus, 5, planes = 4, dims = 64).collect()
    // scaled copy has identical hyperplane signs -> guaranteed same bucket
    assert(res.exists(r => r.getLong(2) == 101L && r.getLong(1) == 1L))
    val buckets = corpus
      .select(col("vec_id"), VectorOps.lshBucket(col("embedding"), 4, 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    res.foreach(r => assert(buckets(r.getLong(2)) == buckets(100L)))
  }

  test("native dot product is bit-equal to the HOF witness, incl. null/length edges") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pairs = emb.as("a").crossJoin(emb.limit(7).as("b"))
      .select(col("a.embedding").as("x"), col("b.embedding").as("y"))
    val diff = pairs.select(
        VectorOps.dot(col("x"), col("y")).as("n"),
        Witness.dot(col("x"), col("y")).as("w"))
      .filter(!(col("n") <=> col("w"))).count()
    assert(diff == 0)
    // double-typed side (centroid shape) + mismatched lengths → null
    val edge = Seq(
      (Array(1.0f, 2.0f), Array(0.5, 0.25)),
      (Array(1.0f), Array(0.5, 0.25))
    ).toDF("x", "y")
    val out = edge.select(
      VectorOps.dot(col("x"), col("y")).as("n"),
      Witness.dot(col("x"), col("y")).as("w")).collect()
    assert(out(0).getDouble(0) == out(0).getDouble(1))
    assert(out(1).isNullAt(0) && out(1).isNullAt(1))
    // norm2 = dot(a, a) equals the fused v*v fold bit-for-bit
    val n2 = emb.select(VectorOps.norm2(col("embedding")).as("n"),
        Witness.norm2(col("embedding")).as("w"))
      .filter(!(col("n") <=> col("w"))).count()
    assert(n2 == 0)
  }
}
