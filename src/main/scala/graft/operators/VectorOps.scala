package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Pq

/** Vector similarity operators over embedding columns (`array<float>`):
  * cosine similarity, brute-force top-k, random-hyperplane LSH bucketing,
  * blocked near-duplicate pairs.
  *
  * Numeric discipline: every reduction is a LEFT-TO-RIGHT fold over the
  * array index order (`aggregate` in Spark, `list_reduce` in DuckDB), with
  * floats widened to double element-wise — both engines then produce
  * bit-identical doubles, so cosine values hash-compare exactly.
  *
  * Scale design (100 TB): brute-force top-k broadcasts the (small) query
  * set and makes ONE pass over the corpus — no corpus self-join. The LSH
  * variant buckets both sides by hyperplane sign bits and equi-joins on the
  * bucket id, turning all-pairs into per-bucket work; the blocked pair scan
  * bounds the quadratic term by the blocking key. All expressions are
  * codegen'd (no UDFs).
  */
object VectorOps {

  /** Bit-exact dot product: one compiled loop forming each product once
    * and adding left-to-right — the identical op sequence as the
    * products-array-then-fold Column form (`graft.Witness.dot` in the
    * tests; VectorSpec asserts bit-equality).
    */
  def dot(a: Column, b: Column): Column = graft.functions.Dot.dot(a, b)

  /** Squared L2 norm — dot(a, a): each v·v formed once and added in index
    * order, the identical op sequence as the fused fold
    * (`graft.Witness.norm2`; bit-equality in VectorSpec).
    */
  def norm2(a: Column): Column = graft.functions.Dot.dot(a, a)

  /** Cosine similarity — dot / (sqrt(n2a) * sqrt(n2b)). try_divide: an
    * all-zero vector yields NULL, not an ANSI DIVIDE_BY_ZERO job failure
    * (DuckDB float division also yields NULL there).
    */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Cosine from PRE-STAGED squared norms. A join re-evaluates expression
    * trees per OUTPUT row, so inlining [[cosine]] into a pair join folds
    * each side's norm once per PAIR — 3× the arithmetic of the dot alone.
    * Staging `norm2` as a column on each side before the join computes it
    * once per ROW; the per-pair value (and the oracle mirror) is
    * unchanged: same dot, same sqrt of the same norm.
    */
  def cosineStaged(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    try_divide(dot(a, b), sqrt(n2a) * sqrt(n2b))

  /** Deterministic integer hyperplane coefficient for (plane p, dim d):
    * ((1103515245·(p·dim + d) + 12345) mod 2001) − 1000 ∈ [−1000, 1000].
    * Pure integer arithmetic → identical in any engine; inlined as literals
    * into the oracle SQL from the same formula.
    */
  def planeCoef(p: Int, dims: Int)(d: Column): Column =
    (lit(1103515245L) * (lit(p.toLong * dims) + d) + lit(12345L)) % lit(2001L) - lit(1000L)

  /** Signed projection of `v` onto hyperplane `p` (fold over dims) — the
    * Column form of one [[lshBucket]] projection, the shape the oracle
    * mirrors.
    */
  def planeDot(v: Column, p: Int, dims: Int): Column =
    aggregate(sequence(lit(1), lit(dims)), lit(0.0), (acc, i) =>
      acc + element_at(v.cast("array<double>"), i) *
        planeCoef(p, dims)(i - lit(1)).cast("double"))

  /** LSH bucket id from `planes` hyperplane sign bits — the native
    * codegen'd [[graft.functions.LshBucket]]: coefficient planes live in
    * the expression object and the projections run as generated loops.
    * Bit-equal to the [[planeDot]] sign-bit sum (`graft.Witness.lshBucket`
    * in VectorSpec; v2/v3 oracles).
    */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    graft.functions.Lsh.bucket(v, planes, dims)

  /** Per-query top-k WITHOUT a global sort: [[graft.functions.TopKByScore]]
    * — a bounded-heap native aggregate — keeps k entries per (query,
    * partition) with map-side partial aggregation, so only `partitions ×
    * queries × k` heap entries cross the wire and nothing is ever sorted
    * beyond the final k rows per query. The windowed formulation
    * (`row_number() OVER (PARTITION BY query_id)`) must shuffle AND SORT
    * every scored row — measured at a 10 M-vector ADC scan the sort
    * dominated the whole pass; the aggregate streams it in one pass.
    * Output is identical (same rows, ranks, tie-breaks — asserted against
    * `graft.Witness.topKPerQuery` in VectorSpec and PropertySpec; the
    * v1-v8 oracles pin it end-to-end).
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int, scoreCol: String): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopK.topK(col(scoreCol), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as(scoreCol))

  // ------------------------------------------------------------------
  // Filter-and-refine: every top-k path below is a candidate generator
  // handed to ONE core. The generator decides which (query, candidate)
  // pairs meet — a broadcast cross join, an equi-join on an LSH bucket or
  // an IVF list, or a fetched shortlist — and the scorer is either the
  // exact staged-norm cosine or ADC over PQ codes. Column contract:
  // probes carry (query_id, qv, __n2q[, key]); candidates carry
  // (neighbor_id[, key]) plus (cemb, __n2c) for the exact scorer or
  // __codes for ADC.

  /** How a met (query, candidate) pair is scored, and the score column's
    * name in the output.
    */
  private final case class Score(name: String, value: Column)

  /** Exact staged-norm cosine — bit-identical across every path that uses
    * it, so a refine re-rank scores a pair exactly as [[bruteTopK]] does.
    */
  private val Exact = Score("cosine",
    cosineStaged(col("qv"), col("cemb"), col("__n2q"), col("__n2c")))

  /** ADC approximate cosine from the candidate's PQ codes
    * ([[graft.functions.PqAdcCosine]]).
    */
  private def adc(cbs: Pq.Codebooks) = Score("approx_cosine",
    Pq.adcCosine(col("__codes"), col("qv"), col("__n2q"), cbs))

  /** The query side, staged once: id, vector, squared norm. */
  private def stagedQueries(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      norm2(col("embedding")).as("__n2q"))

  /** Raw-vector candidates for the exact scorer, norm staged per row. */
  private def exactCands(corpus: DataFrame, cols: Column*): DataFrame =
    corpus.select(Seq(col("vec_id").as("neighbor_id"), col("embedding").as("cemb"),
      norm2(col("embedding")).as("__n2c")) ++ cols: _*)

  /** THE core: meet `cands` with `probes` (cross join when `on` is None,
    * else an equi-join on that key), drop self-pairs, score, keep the top
    * k per query. Every generator meets a (query, candidate) pair at most
    * once, so no pair needs collapsing before ranking.
    */
  private def filterRefine(probes: DataFrame, cands: DataFrame,
      on: Option[String], score: Score, k: Int): DataFrame = {
    val met = on.fold(cands.crossJoin(probes))(key => cands.join(probes, Seq(key)))
    topKPerQuery(met.filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), score.value.as(score.name)),
      k, score.name)
  }

  /** Brute-force cosine top-k: broadcast the query set, one corpus pass,
    * per-query ranking (ties broken by neighbor id).
    */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    // NOTE on the staged corpus norm: whole-stage codegen fuses this
    // projection into the join's per-pair consume, so __n2c actually
    // re-folds once per (row, query) — an exchange here would make the
    // staging literal, but shipping RAW 256-byte vectors through a
    // shuffle costs more than the re-fold (measured at 10 M rows:
    // repartitioned 48 s vs fused 35 s), and at 100 TB you never shuffle
    // the full corpus. The PQ paths get the exchange instead — their
    // codes are 32x smaller (see pqTopK). The 100 TB form of staging for
    // raw vectors is storing the norm as a table column at write time.
    filterRefine(broadcast(stagedQueries(queries)), exactCands(corpus),
      None, Exact, k)

  /** LSH-bucketed top-k: both sides keyed by bucket, equi-join, rank within
    * the probe's bucket only. Recall < 1 by construction; the scale path.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int, dims: Int): DataFrame =
    filterRefine(
      stagedQueries(queries).withColumn("bucket", lshBucket(col("qv"), planes, dims)),
      exactCands(corpus, lshBucket(col("embedding"), planes, dims).as("bucket")),
      Some("bucket"), Exact, k)

  /** Multi-probe LSH top-k: the probe side also visits every bucket at
    * Hamming distance 1 from its own (flip each plane bit) — recall
    * recovers the near-misses that straddle one hyperplane at the cost of
    * (planes+1)× probe rows; the corpus side stays single-bucket so the
    * index build is unchanged. The standard recall/latency dial for
    * sign-random-projection LSH. A query's probe buckets are pairwise
    * distinct and each corpus vector sits in exactly one bucket, so a
    * (query, neighbor) pair meets at most once.
    */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int, dims: Int): DataFrame = {
    // the bucket is computed before the explode so it runs once per
    // query, not once per flip
    val probes = stagedQueries(queries)
      .withColumn("bucket0", lshBucket(col("qv"), planes, dims))
      .select(col("query_id"), col("qv"), col("__n2q"), col("bucket0"),
        explode(array((lit(0L) +: (0 until planes).map(p => lit(1L << p))): _*))
          .as("flip"))
      .select(col("query_id"), col("qv"), col("__n2q"),
        col("bucket0").bitwiseXOR(col("flip")).as("bucket"))
    filterRefine(probes,
      exactCands(corpus, lshBucket(col("embedding"), planes, dims).as("bucket")),
      Some("bucket"), Exact, k)
  }

  /** The driver-side stride sample both codebook trainers learn from:
    * rows with `vec_id % sampleMod == 0` in vec_id order, bounded on BOTH
    * sides — at most `maxSample` rows (checked with a 1-row count BEFORE
    * the collect, so pointing a small `sampleMod` at a 10¹⁰-row corpus
    * fails fast instead of OOMing the driver) and at least `k`.
    */
  private def strideSample(corpus: DataFrame, what: String, k: Int,
      sampleMod: Long, maxSample: Long): Array[(Long, Array[Double])] = {
    val strided = corpus.filter(col("vec_id") % sampleMod === 0)
    val sampleRows = strided.count() // 1-row aggregate, no data movement
    require(sampleRows <= maxSample,
      s"$what sample ($sampleRows rows at sampleMod=$sampleMod) exceeds " +
        s"maxSample=$maxSample — the sample is collected onto the driver; " +
        "raise sampleMod so the stride sample stays bounded, or raise " +
        "maxSample deliberately")
    val sample = strided
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    require(sample.length >= k,
      s"$what sample (${sample.length}) smaller than k=$k — lower sampleMod")
    sample
  }

  /** Fixed-iteration Lloyd over the slice [off, off + len) of every sample
    * vector: init = the first k sample slices, cid = 0..k-1; assignment =
    * argmax of `score(v, off, centroid)`, strict > so ties keep the LOWEST
    * cid; update = per-dim mean over members in vec_id order, a
    * LEFT-TO-RIGHT double fold seeded 0.0 divided by the member count;
    * empty clusters keep their previous centroid.
    */
  private def lloyd(sample: Array[(Long, Array[Double])], k: Int, iters: Int,
      off: Int, len: Int,
      score: (Array[Double], Int, Array[Double]) => Double): Array[(Long, Array[Double])] = {
    var cents: Array[Array[Double]] = sample.take(k).map(_._2.slice(off, off + len))
    for (_ <- 0 until iters) {
      val assigned = sample.map { case (id, v) =>
        var best = 0; var bestS = score(v, off, cents(0)); var c = 1
        while (c < k) {
          val s = score(v, off, cents(c))
          if (s > bestS) { best = c; bestS = s }
          c += 1
        }
        (best, (id, v))
      }
      val byC = assigned.groupBy(_._1)
      cents = Array.tabulate(k) { c =>
        byC.get(c) match {
          case None => cents(c)
          case Some(members) =>
            val vs = members.map(_._2).sortBy(_._1).map(_._2)
            Array.tabulate(len) { d =>
              var acc = 0.0; var i = 0
              while (i < vs.length) { acc = acc + vs(i)(off + d); i += 1 }
              acc / vs.length
            }
        }
      }
    }
    cents.zipWithIndex.map { case (cv, cid) => (cid.toLong, cv) }
  }

  /** Driver-side deterministic k-means codebook: [[lloyd]] over the whole
    * vector with argmax COSINE assignment (the same `ORDER BY cos DESC,
    * cid` rule the query itself uses), on the guarded [[strideSample]].
    * No randomness and a FIXED iteration count — reproducible on any
    * cluster, and every float op has a fixed association mirrored by
    * DuckDB's `list_reduce(list_prepend(0.0, …))` (a stride sample is the
    * one sampling scheme an oracle can replicate verbatim; production
    * codebooks train on samples anyway).
    *
    * The result is tiny (k × dims doubles) and rides into the plan as a
    * literal — broadcast by construction, never a shuffle. 100 k × 128-dim
    * doubles ≈ 100 MB of sample — a comfortable `maxSample` ceiling for
    * Lloyd iterations on the driver; raise it deliberately if you have the
    * heap.
    */
  def kmeansCodebook(corpus: DataFrame, k: Int, iters: Int,
      sampleMod: Long, maxSample: Long = 100000): Array[(Long, Array[Double])] = {
    val sample = strideSample(corpus, "k-means", k, sampleMod, maxSample)
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { acc = acc + a(i) * b(i); i += 1 }; acc
    }
    lloyd(sample, k, iters, 0, sample(0)._2.length, (v, _, c) =>
      dotD(v, c) / (math.sqrt(dotD(v, v)) * math.sqrt(dotD(c, c))))
  }

  /** Coarse IVF assignment: each row of `df` gets its `n` nearest
    * centroids (cosine desc, cid asc — identical tie order to the
    * oracle's `row_number() OVER (ORDER BY cos DESC, cid)`) exploded into
    * `cent_id` rows. A pure map through the native codegen'd
    * [[graft.functions.IvfAssignTopN]]: the codebook lives in the
    * expression OBJECT, not the plan tree — a literal codebook bloats
    * every explain at 16 centroids and becomes a multi-megabyte plan at
    * the thousands a 100 TB index runs — and the top-n selection never
    * allocates or sorts a per-row struct array. Bit-equal to the
    * `transform` + `array_sort` Column form (`graft.Witness.ivfAssign`
    * in VectorSpec; v4/v7/v8 oracles pin it end-to-end).
    */
  private[graft] def ivfAssign(df: DataFrame,
      cents: Array[(Long, Array[Double])], n: Int): DataFrame = {
    val staged = df.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("__n2"))
    staged.select(col("vec_id"), col("embedding"), col("__n2"),
      explode(graft.functions.Ivf.assignTopN(col("embedding"), col("__n2"),
        cents, n)).as("cent_id"))
  }

  /** The IVF probe side: each query on its `nProbe` nearest lists. */
  private def ivfProbes(queries: DataFrame,
      cents: Array[(Long, Array[Double])], nProbe: Int): DataFrame =
    ivfAssign(queries, cents, nProbe).select(col("cent_id"),
      col("vec_id").as("query_id"), col("embedding").as("qv"),
      col("__n2").as("__n2q"))

  /** V4 — IVF-flat top-k: partition the corpus into inverted lists by
    * nearest centroid, probe only the `nProbe` closest lists per query.
    *
    * The codebook is `codebook` when given, else a [[kmeansCodebook]]
    * trained here. Assignment is a PURE MAP over the corpus
    * ([[ivfAssign]]), so building the inverted lists costs one pass and
    * zero shuffles; the only shuffle is the probe join on cent_id.
    * Recall/cost dial: nProbe/nCentroids of the corpus is scanned per
    * query (nProbe=4 of 16 lists = 25%), vs 100% for [[bruteTopK]] and
    * bucket-luck for [[lshTopK]].
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      codebook: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    // No caller-supplied codebook → TRAIN one ([[kmeansCodebook]], stride
    // sized from a 1-row count so the driver sample stays ≤ ~50 k rows).
    // The old default — the nCentroids smallest-vec_id embeddings — was a
    // silent recall trap: on a corpus SORTED or CLUSTERED by vec_id those
    // rows all come from one region, every list but one sits empty, and
    // probing returns near-random neighbors (VectorSpec shows the clustered
    // fixture collapsing to ≈chance). Training costs one extra pass over
    // the stride sample and removes the pathology.
    val cents: Array[(Long, Array[Double])] = codebook.getOrElse {
      val n = corpus.count() // 1-row aggregate
      val maxSample = 50000L
      // stride over DENSE-ish vec_ids: mod chosen so ~n/mod <= maxSample;
      // sparse ids just under-sample, and kmeansCodebook fails fast if the
      // sample drops below k.
      val mod = math.max(1L, (n + maxSample - 1) / maxSample)
      kmeansCodebook(corpus, nCentroids, iters = 5, sampleMod = mod,
        maxSample = 2 * maxSample)
    }
    val inv = ivfAssign(corpus, cents, 1).select(col("cent_id"),
      col("vec_id").as("neighbor_id"), col("embedding").as("cemb"),
      col("__n2").as("__n2c"))
    filterRefine(ivfProbes(queries, cents, nProbe), inv, Some("cent_id"), Exact, k)
  }

  /** Per-subspace deterministic k-means codebooks for product quantization:
    * the vector is cut into `m` contiguous subspaces of `dims/m` dims, and
    * each subspace gets its own [[lloyd]] codebook — the same guarded
    * [[strideSample]] as [[kmeansCodebook]] (ONE driver collect, shared by
    * all m trainings) — but with SQUARED-L2 assignment (cosine is
    * meaningless on subvectors; L2 is the PQ-standard metric), ties to the
    * lowest cid. Every float op is a left-to-right double fold seeded 0.0,
    * so DuckDB replays the training bit-exactly.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iters: Int,
      sampleMod: Long, maxSample: Long = 100000): Array[Array[(Long, Array[Double])]] = {
    val sample = strideSample(corpus, "PQ", ksub, sampleMod, maxSample)
    val dims = sample(0)._2.length
    require(dims % m == 0, s"dims=$dims not divisible into m=$m subspaces")
    val sub = dims / m
    // argmin L2² as argmax of its negation: negation is exact, so the
    // strict > keeps exactly the cid the strict < would
    def negL2(a: Array[Double], off: Int, b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) {
        val d = a(off + i) - b(i); acc = acc + d * d; i += 1
      }
      -acc
    }
    Array.tabulate(m)(j => lloyd(sample, ksub, iters, j * sub, sub, negL2))
  }

  /** V5 — product-quantization top-k with asymmetric distance computation
    * (ADC): the corpus is ENCODED once into `m` small codes (argmin
    * squared-L2 against each subspace codebook — a pure map), and each
    * query scores a candidate from its codes alone: approx dot =
    * Σ_j dot(q_j, centroid_{j,code_j}), approx corpus norm =
    * Σ_j ‖centroid_{j,code_j}‖², approx cosine = adot / (‖q‖·√(Σ‖c‖²))
    * with the EXACT query norm (the asymmetric half).
    *
    * Scale story (the one that matters at 100 TB): the searchable index is
    * `m` bytes per vector instead of `4·dims` — 32× smaller at 64-dim
    * float, so a corpus whose raw embeddings span a cluster's disks
    * becomes a codes table that fits in MEMORY; encode is one shuffle-free
    * pass, search is the same broadcast-queries single corpus pass as
    * [[bruteTopK]] but over codes (compose with [[ivfTopK]]'s coarse
    * lists to also cut the scanned fraction). Encode and ADC are the
    * native codegen'd [[graft.functions.PqEncode]] /
    * [[graft.functions.PqAdcCosine]], bit-equal to their HOF Column form
    * (`graft.Witness.pqTopK` in VectorSpec); all folds are fixed-order, so
    * the scores — and the DuckDB oracle replaying codebook training,
    * encoding, and ADC — are bit-exact.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      codebooks: Array[Array[(Long, Array[Double])]]): DataFrame = {
    val cbs: Pq.Codebooks = codebooks.map(_.map(_._2))
    // the repartition is a deliberate pipeline break: whole-stage codegen
    // fuses this projection into the broadcast join's per-PAIR consume, so
    // without an exchange PqEncode re-evaluates once per (row, query) —
    // measured 8 queries x 10 M rows: 72 s fused vs 4.4 s encode + 2.6 s
    // scan with the boundary. At scale this exchange is the moral
    // equivalent of writing the codes table — which a real deployment
    // persists anyway.
    val encoded = corpus.select(col("vec_id").as("neighbor_id"),
      Pq.encode(col("embedding"), cbs).as("__codes"))
      .repartition(col("neighbor_id"))
    filterRefine(broadcast(stagedQueries(queries)), encoded, None, adc(cbs), k)
  }

  /** V6 — PQ shortlist + exact re-rank (the FAISS "refine" pattern): ADC
    * ranks the WHOLE corpus from codes alone ([[pqTopK]]), the top
    * `shortlist` candidates per query are then re-scored with the TRUE
    * cosine and re-ranked to the final k. Quantization error now only
    * costs recall when a true neighbor misses the whole shortlist —
    * measured on the sf0.1 embeddings (near-uniform vectors, ANN's worst
    * case): ADC@10 recall 0.45 → refine@100 recall 0.95.
    *
    * Scale shape: the ADC pass touches only the 32×-compressed codes; the
    * refine join fetches `queries × shortlist` true vectors in ONE corpus
    * scan against the broadcast shortlist (at 100 TB: a point-lookup
    * against the vector store). Exact-cosine re-rank reuses the staged
    * norms, so the final scores are bit-identical to [[bruteTopK]]'s for
    * the same pairs — the oracle replays shortlist and re-rank verbatim.
    */
  def pqRefineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int, codebooks: Array[Array[(Long, Array[Double])]]): DataFrame =
    rerankExact(queries, corpus, k,
      pqTopK(queries, corpus, shortlist, codebooks)
        .select(col("query_id"), col("neighbor_id")))

  /** Exact-cosine re-rank of a `(query_id, neighbor_id)` shortlist: fetch
    * the true vectors in one corpus scan against the broadcast shortlist,
    * score with staged norms (bit-identical to [[bruteTopK]] for the same
    * pairs), keep the top k per query.
    */
  private[graft] def rerankExact(queries: DataFrame, corpus: DataFrame, k: Int,
      cand: DataFrame): DataFrame =
    filterRefine(broadcast(stagedQueries(queries)),
      exactCands(corpus).join(broadcast(cand), Seq("neighbor_id")),
      Some("query_id"), Exact, k)

  /** IVF-PQ refine, shared by [[ivfPqTopK]] and the persisted
    * [[VectorIndex.topK]]: probe the `nProbe` nearest lists, meet the
    * coded candidates `codes(probes)` returns (cent_id, neighbor_id,
    * __codes) on cent_id, keep the ADC shortlist, re-rank it exactly.
    * `codes` sees the probes so an index can prune its read to the probed
    * lists.
    */
  private[operators] def ivfPqRefine(queries: DataFrame, corpus: DataFrame,
      k: Int, coarse: Array[(Long, Array[Double])], cbs: Pq.Codebooks,
      nProbe: Int, shortlist: Int)(codes: DataFrame => DataFrame): DataFrame = {
    val probes = ivfProbes(queries, coarse, nProbe)
    val cand = filterRefine(probes, codes(probes), Some("cent_id"), adc(cbs),
      shortlist).select(col("query_id"), col("neighbor_id"))
    rerankExact(queries, corpus, k, cand)
  }

  /** V7 — IVF-PQ with refine (the full production ANN index, FAISS's
    * IndexIVFPQ + refine): the coarse quantizer prunes the SCAN (only
    * `nProbe`/`nCentroids` of the corpus is touched per query), PQ codes
    * compress what is scanned (`m` bytes per vector in the candidate
    * pass), and the exact re-rank of the ADC shortlist restores recall.
    * At 100 TB this is the composition that works: inverted lists bound
    * I/O, codes bound memory, and the refine join touches only
    * `queries × shortlist` raw vectors.
    *
    * Everything deterministic and oracle-replayed: coarse assignment =
    * [[ivfAssign]] (cosine, ties to lowest cid), codes = [[graft.functions.PqEncode]],
    * ADC = [[graft.functions.PqAdcCosine]], shortlist ties broken on
    * neighbor_id, re-rank = exact staged-norm cosine.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      coarse: Array[(Long, Array[Double])],
      codebooks: Array[Array[(Long, Array[Double])]],
      nProbe: Int = 4, shortlist: Int = 100): DataFrame = {
    val cbs: Pq.Codebooks = codebooks.map(_.map(_._2))
    ivfPqRefine(queries, corpus, k, coarse, cbs, nProbe, shortlist) { _ =>
      // pipeline break before the probe join — see pqTopK: without it the
      // fused join re-evaluates PqEncode per matched probe pair
      ivfAssign(corpus, coarse, 1)
        .select(col("cent_id"), col("vec_id").as("neighbor_id"),
          Pq.encode(col("embedding"), cbs).as("__codes"))
        .repartition(col("neighbor_id"))
    }
  }

  /** The scale dial for every blocked pairwise stage ([[blockedTopPairs]],
    * [[semanticDropList]]): size the block COUNT so the expected block
    * holds ~`targetBlockRows`. With block size bounded, total pairwise
    * work is ∝ corpus × targetBlockRows — LINEAR in corpus — where a
    * FIXED block count makes it quadratic (the sf1 gate measured exactly
    * that: d5/d7 ran 21–31× at 10× data with their oracle-pinned fixed
    * blocks; see BASELINE.md). Skew can still concentrate a list —
    * [[VectorIndex.imbalance]] is the census and the in-plan
    * `maxBlockRows` guard stays the backstop. Driver-side Lloyd training
    * bounds k in practice (~thousands); beyond that, train hierarchically
    * or reuse a persisted index's coarse quantizer.
    */
  def blocksFor(corpusRows: Long, targetBlockRows: Long = 4096): Int = {
    require(corpusRows >= 0 && targetBlockRows > 0)
    math.max(1, math.ceil(corpusRows.toDouble / targetBlockRows).toInt)
  }

  /** Blocked most-similar pairs: all pairs within a block (IVF-style coarse
    * partition), global top-n by cosine (deterministic tiebreak on ids).
    *
    * Guard rail: the block is the caller's foot-gun — pairs grow as the
    * SQUARE of block size, so one hot block (say 10 M rows in a 100 M-row
    * corpus) is 5·10¹³ comparisons. `maxBlockRows` embeds an `assert_true`
    * in the plan (per-block counts ride the join's own hash partitioning —
    * no extra action, no driver round-trip): an oversized block fails the
    * job with an explicit message instead of silently running for days.
    * Raise it deliberately, or use more/finer blocks (IVF centroids).
    */
  @deprecated("a caller-fixed block column makes pair work QUADRATIC in " +
    "the corpus (BENCH_sf10: 68.8x for 10x data); use nearDupTopPairs " +
    "with a blocksFor(corpusRows, target)-sized codebook — the linear " +
    "dial", since = "round 10")
  def blockedTopPairs(df: DataFrame, block: Column, topN: Int,
      maxBlockRows: Long = 100000): DataFrame = blockedTopPairsImpl(
    df, block, topN, maxBlockRows)

  private[graft] def blockedTopPairsImpl(df: DataFrame, block: Column,
      topN: Int, maxBlockRows: Long): DataFrame = {
    val bn = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("blk")))
    val e = df.select(block.as("blk"), col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("__n2"))
      .withColumn("__bn", bn)
    // when the guard passes the cosine flows through UNTOUCHED (no 0.0+x
    // arithmetic that could flip a -0.0 and break oracle bit-exactness);
    // norms are staged per ROW above, not re-folded per pair
    val guarded = when(col("x.__bn") <= maxBlockRows,
      cosineStaged(col("x.embedding"), col("y.embedding"),
        col("x.__n2"), col("y.__n2")))
      .otherwise(raise_error(
        lit(s"blockedTopPairs: a block exceeds maxBlockRows=$maxBlockRows; " +
          "pairs grow quadratically in block size — size the block count " +
          "with VectorOps.blocksFor(corpusRows, targetBlockRows) (train " +
          "that many IVF centroids) or raise maxBlockRows deliberately"))
        .cast("double"))
    e.as("x").join(e.as("y"),
        col("x.blk") === col("y.blk") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id1"), col("y.vec_id").as("vec_id2"),
        guarded.as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id1"), col("vec_id2"))
      .limit(topN)
  }

  /** [[blockedTopPairs]] blocked by a coarse IVF codebook — the public
    * dialed form (README example; oracle-gated as d5b): train the codebook
    * with k = [[blocksFor]](corpus rows, target) and block size stays
    * ~target at any corpus, keeping pair work linear.
    */
  def nearDupTopPairs(corpus: DataFrame,
      coarse: Array[(Long, Array[Double])], topN: Int,
      maxBlockRows: Long = 100000): DataFrame =
    blockedTopPairsImpl(
      ivfAssign(corpus, coarse, 1)
        .select(col("vec_id"), col("embedding"), col("cent_id")),
      col("cent_id"), topN, maxBlockRows)

  /** Semantic near-dup drop list — the embedding-space analog of the
    * MinHash drop list ([[Dedup.dropListFromPairs]]): candidates are
    * pairs sharing a coarse IVF list (blocking = the index's own
    * partition layout, so candidate count is Σ listᵢ², never corpus²),
    * a pair is a duplicate iff its EXACT staged-norm cosine ≥ `tau`, and
    * the greedy keep-lowest-id rule drops the higher id of every
    * duplicate pair. One self-equi-join on cent_id plus a distinct —
    * the same shuffle shape at any corpus size; norms ride from
    * [[ivfAssign]]'s staging so the pair computes only the dot.
    *
    * Recall caveat (same as every blocked near-dup pass, documented not
    * hidden): a pair straddling two coarse lists is not a candidate.
    * Probe more lists (assign with n > 1) to trade candidates for
    * recall, exactly like nProbe on the query path.
    *
    * Guard rail (same discipline as [[blockedTopPairs]]): pairs grow as
    * Σ listᵢ², so a codebook under-provisioned for the corpus — 16 lists
    * against 10 M rows is 6·10¹² comparisons — must FAIL FAST, not run
    * for days. `maxListRows` embeds an in-plan `assert`-style
    * `raise_error` on the per-list count (rides the join's own hash
    * partitioning, no extra action); size `coarse` so lists stay under
    * it, or raise it deliberately.
    */
  def semanticDropList(corpus: DataFrame,
      coarse: Array[(Long, Array[Double])], tau: Double,
      nAssign: Int = 1, maxListRows: Long = 100000): DataFrame = {
    val ln = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("cent_id")))
    val inv = ivfAssign(corpus, coarse, nAssign)
      .select(col("cent_id"), col("vec_id"), col("embedding"), col("__n2"))
      .withColumn("__ln", ln)
    // guard wraps the pair cosine: when lists are within bound the value
    // flows through untouched (bit-exactness for the oracle), otherwise
    // the job fails with the sizing message
    val guarded = when(col("x.__ln") <= maxListRows,
      cosineStaged(col("x.embedding"), col("y.embedding"),
        col("x.__n2"), col("y.__n2")))
      .otherwise(raise_error(
        lit(s"semanticDropList: a coarse list exceeds maxListRows=$maxListRows; " +
          "pairs grow quadratically in list size — train " +
          "VectorOps.blocksFor(corpusRows, targetBlockRows) coarse " +
          "centroids for this corpus or raise maxListRows deliberately"))
        .cast("double"))
    inv.as("x").join(inv.as("y"),
        col("x.cent_id") === col("y.cent_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(guarded >= tau)
      .select(col("y.vec_id").as("drop_id"))
      .distinct()
  }
}
