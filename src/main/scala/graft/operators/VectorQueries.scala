package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Declared-query catalog for the vector-similarity operators ([[VectorOps]])
  * on the `embeddings` table (64-dim float vectors).
  */
object VectorQueries {

  private val dims = 64
  private val planes = 4
  private val k = 10

  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") < 8)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v1_cosine_topk" -> ((s, dir) =>
      VectorOps.bruteTopK(queriesDf(s, dir), Tables.embeddings(s, dir), k)),
    "v2_lsh_topk" -> ((s, dir) =>
      VectorOps.lshTopK(queriesDf(s, dir), Tables.embeddings(s, dir), k, planes, dims)),
    "v3_lsh_multiprobe" -> ((s, dir) =>
      VectorOps.lshTopKMultiProbe(queriesDf(s, dir), Tables.embeddings(s, dir),
        k, planes, dims)),
    "v4_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = VectorOps.kmeansCodebook(emb, nCentroids, kmIters, sampleMod)
      VectorOps.ivfTopK(queriesDf(s, dir), emb, k, nCentroids, nProbe, Some(cb))
    }),
    "v5_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cbs = VectorOps.pqCodebooks(emb, pqM, pqKsub, pqIters, sampleMod)
      VectorOps.pqTopK(queriesDf(s, dir), emb, k, cbs)
    }),
    "v6_pq_refine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cbs = VectorOps.pqCodebooks(emb, pqM, pqKsub, pqIters, sampleMod)
      VectorOps.pqRefineTopK(queriesDf(s, dir), emb, k, pqShortlist, cbs)
    }),
    "v7_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val coarse = VectorOps.kmeansCodebook(emb, nCentroids, kmIters, sampleMod)
      val cbs = VectorOps.pqCodebooks(emb, pqM, pqKsub, pqIters, sampleMod)
      VectorOps.ivfPqTopK(queriesDf(s, dir), emb, k, coarse, cbs, nProbe, pqShortlist)
    }),
    // v7 served FROM the persisted index (train+encode once per JVM into
    // a temp lake, every run after that reads codes through partition
    // pruning) — same quantizer parameters, so the v7 oracle pins it
    // bit-exactly; the bench's min-of-two-sweeps shows the SERVE cost
    "v8_index_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = indexCache.computeIfAbsent(dir, _ => {
        val path = graft.TempDirs.create("graft-vidx-query")
        VectorIndex.build(emb, path, nCentroids, pqM, pqKsub,
          coarseIters = kmIters, pqIters = pqIters, sampleMod = sampleMod)
      })
      VectorIndex.topK(queriesDf(s, dir), emb, idx, k, nProbe, pqShortlist)
    }),
    "d5_embedding_top_pairs" -> ((s, dir) =>
      VectorOps.blockedTopPairs(Tables.embeddings(s, dir), col("label"), 50)),
    // semantic dedup end-to-end: IVF-blocked candidates, exact cosine
    // threshold, greedy keep-lowest-id — the embedding-space d6
    "d7_semantic_drop_list" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val coarse = VectorOps.kmeansCodebook(emb, nCentroids, kmIters, sampleMod)
      VectorOps.semanticDropList(emb, coarse, semanticTau)
    }),
    // d5/d7 AT SCALE — the production dial (VERDICT r8): block count =
    // blocksFor(corpus, 2048), a pure function of the corpus count, so the
    // DuckDB oracle replays the SAME dialed k from its own count(*). Block
    // SIZE stays ~dialTarget at every SF, making pair work LINEAR in the
    // corpus where the fixed-block d5/d7 above (kept: they pin the
    // fixed-parameter API shape) grow quadratically (BENCH_sf10: 68.8x /
    // 44.5x for 10x data vs 1.3x dialed — BASELINE.md round-8 table). At
    // the small gate SFs the dial degenerates to k=1 (2 000 rows is one
    // block); the sf1/sf10 gates pin k=10/98 — same query text, same dial.
    "d5b_embedding_top_pairs_scale" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.nearDupTopPairs(emb, dialedCodebook(emb, dir), 50)
    }),
    "d7b_semantic_drop_list_scale" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.semanticDropList(emb, dialedCodebook(emb, dir), semanticTau)
    })
  )

  /** The blocksFor-dialed coarse codebook shared by d5b/d7b (trained once
    * per SF dir per JVM — both queries replay the identical centroids, as
    * do the oracles from the same deterministic Lloyd spec).
    */
  private def dialedCodebook(emb: DataFrame,
      dir: String): Array[(Long, Array[Double])] =
    dialCache.computeIfAbsent(dir, _ =>
      VectorOps.kmeansCodebook(emb,
        VectorOps.blocksFor(emb.count(), dialTarget), kmIters, sampleMod))

  private val nCentroids = 16
  private val nProbe = 4
  private val kmIters = 4
  private val sampleMod = 3
  // d5b/d7b blocking dial: expected rows per coarse block. 2048 matches
  // the round-8 scale measurement (1.3x wall for 2x data at 100-200k,
  // BASELINE.md)
  private val dialTarget = 2048L
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, VectorIndex.Index]()
  private val dialCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Array[Double])]]()
  // m=16 4-dim subspaces x 32 centroids: measured on the sf0.1 embeddings
  // (near-uniform unit vectors — ANN's worst case), ADC recall@10 = 0.45
  // and refine@100 = 0.95 vs brute force; finer m or larger ksub buys more
  // recall at more oracle CTEs
  private val pqM = 16
  private val pqKsub = 32
  private val pqIters = 2
  private val pqShortlist = 100
  // d7 duplicate threshold: ~the p99 of within-list cosines on the
  // near-uniform test embeddings at every SF — a real corpus with true
  // semantic dups would sit at 0.9+; the rule is threshold-agnostic
  private val semanticTau = 0.35

  // ------------------------------------------------------------------
  // DuckDB mirrors — same left-to-right fold discipline as VectorOps.

  /** Bit-exact dot of two DOUBLE[] lists (fold in index order). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])), (acc, v) -> acc + v)"

  private def norm2Sql(a: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $a), (acc, x) -> acc + x * x)"

  private def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${norm2Sql(a)}) * sqrt(${norm2Sql(b)}))"

  private val embSql =
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** Plane-projection fold mirroring VectorOps.planeDot. */
  private def planeDotSql(v: String, p: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, $dims), i -> $v[i] * CAST((1103515245 * (${p.toLong * dims} + (i - 1)) + 12345) % 2001 - 1000 AS DOUBLE))), (acc, x) -> acc + x)"

  private def bucketSql(v: String): String =
    (0 until planes)
      .map(p => s"(CASE WHEN ${planeDotSql(v, p)} > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")

  /** Chained-CTE mirror of [[VectorOps.kmeansCodebook]] — one
    * (assign, members, update, carry) CTE quartet per Lloyd iteration,
    * ending in `cb$kmIters (cid, cv)`. Identical float association to the
    * driver-side Scala: cosine/mean folds are left-to-right double folds
    * seeded 0.0, members averaged in vec_id order, empty clusters carry
    * the previous centroid via the LEFT JOIN coalesce.
    */
  private def kmeansCtes: String = kmeansCtesK(nCentroids.toString)

  /** [[kmeansCtes]] with the centroid count as an arbitrary SQL scalar
    * expression — `(SELECT k FROM kdial)` replays the blocksFor dial
    * (d5b/d7b): only the INIT truncation depends on k; every later Lloyd
    * CTE ranges over whatever cb0 holds.
    */
  private def kmeansCtesK(limitExpr: String): String = {
    val sb = new StringBuilder
    sb.append(s", samp AS (SELECT vec_id, v FROM e WHERE vec_id % $sampleMod = 0)")
    sb.append(s",\ncb0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v AS cv " +
      s"FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT $limitExpr))")
    for (i <- 1 to kmIters) {
      val prev = s"cb${i - 1}"
      sb.append(s""",
        |a$i AS (
        |  SELECT vec_id, v, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rnk
        |  FROM (SELECT s.vec_id, s.v, c.cid, ${cosineSql("s.v", "c.cv")} AS cos
        |        FROM samp s CROSS JOIN $prev c)
        |),
        |m$i AS (SELECT cid, list(v ORDER BY vec_id) AS vs FROM a$i WHERE rnk = 1 GROUP BY cid),
        |u$i AS (SELECT cid, list_transform(generate_series(1, $dims), d ->
        |          list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(vs, w -> w[d])), (acc, x) -> acc + x) / len(vs)) AS cv
        |        FROM m$i),
        |cb$i AS (SELECT p.cid, coalesce(u.cv, p.cv) AS cv FROM $prev p LEFT JOIN u$i u ON p.cid = u.cid)""".stripMargin)
    }
    sb.toString
  }

  /** Chained-CTE mirror of [[VectorOps.pqCodebooks]] + [[VectorOps.pqTopK]]:
    * per subspace j, the same (init, assign, members, update, carry) Lloyd
    * chain as [[kmeansCtes]] but over the j-th 8-dim subvector with
    * SQUARED-L2 assignment; then per-vector encoding (argmin distance,
    * ties to the lowest cid) and the ADC score — subspace dots summed
    * left-to-right, exact query norm, centroid-composed corpus norm —
    * every fold in the same association as the Spark expressions.
    */
  private def pqCtes: String = {
    val sub = dims / pqM
    def subL2(v: String, off: Int, cv: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, $sub), i -> ($v[i + $off] - $cv[i]) * ($v[i + $off] - $cv[i]))), (acc, x) -> acc + x)"
    def subVec(v: String, off: Int): String =
      s"list_transform(generate_series(1, $sub), i -> $v[i + $off])"
    val sb = new StringBuilder
    sb.append(s", psamp AS (SELECT vec_id, v FROM e WHERE vec_id % $sampleMod = 0)")
    for (j <- 0 until pqM) {
      val off = j * sub
      sb.append(s""",
        |p${j}cb0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, ${subVec("v", off)} AS cv
        |  FROM (SELECT vec_id, v FROM psamp ORDER BY vec_id LIMIT $pqKsub))""".stripMargin)
      for (i <- 1 to pqIters) {
        val prev = s"p${j}cb${i - 1}"
        sb.append(s""",
          |p${j}a$i AS (
          |  SELECT vec_id, v, cid,
          |         row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid) AS rnk
          |  FROM (SELECT s.vec_id, s.v, c.cid, ${subL2("s.v", off, "c.cv")} AS d
          |        FROM psamp s CROSS JOIN $prev c)
          |),
          |p${j}m$i AS (SELECT cid, list(v ORDER BY vec_id) AS vs FROM p${j}a$i WHERE rnk = 1 GROUP BY cid),
          |p${j}u$i AS (SELECT cid, list_transform(generate_series(1, $sub), d ->
          |          list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(vs, w -> w[d + $off])), (acc, x) -> acc + x) / len(vs)) AS cv
          |        FROM p${j}m$i),
          |p${j}cb$i AS (SELECT p.cid, coalesce(u.cv, p.cv) AS cv FROM $prev p LEFT JOIN p${j}u$i u ON p.cid = u.cid)""".stripMargin)
      }
      sb.append(s""",
        |p${j}enc AS (
        |  SELECT vec_id, cid AS code FROM (
        |    SELECT e.vec_id, c.cid,
        |           row_number() OVER (PARTITION BY e.vec_id ORDER BY ${subL2("e.v", off, "c.cv")} ASC, c.cid) AS rnk
        |    FROM e CROSS JOIN p${j}cb$pqIters c)
        |  WHERE rnk = 1
        |)""".stripMargin)
    }
    sb.append(s""",
      |codes AS (
      |  SELECT p0enc.vec_id, ${(0 until pqM).map(j => s"p${j}enc.code AS code$j").mkString(", ")}
      |  FROM p0enc ${(1 until pqM).map(j => s"JOIN p${j}enc ON p${j}enc.vec_id = p0enc.vec_id").mkString(" ")}
      |)""".stripMargin)
    sb.toString
  }

  private def pqScoreSql: String = {
    val sub = dims / pqM
    def subDot(off: Int, cv: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, $sub), i -> q.v[i + $off] * $cv[i])), (acc, x) -> acc + x)"
    val adot = (0 until pqM).map(j => subDot(j * sub, s"c$j.cv")).mkString(" + ")
    val cn2 = (0 until pqM).map(j => norm2Sql(s"c$j.cv")).mkString(" + ")
    s"($adot) / (sqrt(${norm2Sql("q.v")}) * sqrt($cn2))"
  }

  val oracle: Map[String, String] = Map(
    "v1_cosine_topk" -> (embSql +
      s"""
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosineSql("q.v", "c.v")} DESC, c.vec_id) AS rank
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8
         |) WHERE rank <= $k""".stripMargin),
    "v2_lsh_topk" -> (embSql +
      s""", b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosineSql("q.v", "c.v")} DESC, c.vec_id) AS rank
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8
         |) WHERE rank <= $k""".stripMargin),
    "v3_lsh_multiprobe" -> (embSql +
      s""", b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |probes AS (
         |  SELECT vec_id, v, xor(bucket, f) AS bucket
         |  FROM b CROSS JOIN (SELECT unnest([${(0L +: (0 until planes).map(p => 1L << p)).mkString(", ")}]) AS f) ff
         |  WHERE vec_id < 8
         |),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine
         |  FROM probes q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM cand
         |) WHERE rank <= $k""".stripMargin),
    "v4_ivf_topk" -> (embSql + kmeansCtes +
      s""",
         |cents AS (SELECT cid, cv FROM cb$kmIters),
         |asgn AS (
         |  SELECT vec_id, v, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rnk
         |  FROM (SELECT e.vec_id, e.v, c.cid, ${cosineSql("e.v", "c.cv")} AS cos
         |        FROM e CROSS JOIN cents c)
         |),
         |inv AS (SELECT cid, vec_id, v FROM asgn WHERE rnk = 1),
         |probes AS (SELECT cid, vec_id, v FROM asgn WHERE rnk <= $nProbe AND vec_id < 8)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosineSql("q.v", "c.v")} DESC, c.vec_id) AS rank
         |  FROM probes q JOIN inv c ON q.cid = c.cid AND c.vec_id <> q.vec_id
         |) WHERE rank <= $k""".stripMargin),
    "v5_pq_topk" -> (embSql + pqCtes +
      s""",
         |cands AS (
         |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
         |         $pqScoreSql AS approx_cosine
         |  FROM e q CROSS JOIN codes t
         |  ${(0 until pqM).map(j => s"JOIN p${j}cb$pqIters c$j ON c$j.cid = t.code$j").mkString(" ")}
         |  WHERE q.vec_id < 8 AND t.vec_id <> q.vec_id
         |)
         |SELECT query_id, rank, neighbor_id, approx_cosine FROM (
         |  SELECT query_id, neighbor_id, approx_cosine,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY approx_cosine DESC, neighbor_id) AS rank
         |  FROM cands
         |) WHERE rank <= $k""".stripMargin),
    "v6_pq_refine" -> (embSql + pqCtes +
      s""",
         |cands AS (
         |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
         |         $pqScoreSql AS approx_cosine
         |  FROM e q CROSS JOIN codes t
         |  ${(0 until pqM).map(j => s"JOIN p${j}cb$pqIters c$j ON c$j.cid = t.code$j").mkString(" ")}
         |  WHERE q.vec_id < 8 AND t.vec_id <> q.vec_id
         |),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY approx_cosine DESC, neighbor_id) AS rnk
         |    FROM cands
         |  ) WHERE rnk <= $pqShortlist
         |)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT s.query_id, s.neighbor_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine,
         |         row_number() OVER (PARTITION BY s.query_id
         |           ORDER BY ${cosineSql("q.v", "c.v")} DESC, s.neighbor_id) AS rank
         |  FROM short s JOIN e q ON q.vec_id = s.query_id
         |               JOIN e c ON c.vec_id = s.neighbor_id
         |) WHERE rank <= $k""".stripMargin),
    "v7_ivfpq_topk" -> (embSql + kmeansCtes + pqCtes +
      s""",
         |cents AS (SELECT cid, cv FROM cb$kmIters),
         |casgn AS (
         |  SELECT vec_id, v, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rnk
         |  FROM (SELECT e.vec_id, e.v, c.cid, ${cosineSql("e.v", "c.cv")} AS cos
         |        FROM e CROSS JOIN cents c)
         |),
         |cinv AS (SELECT cid, vec_id FROM casgn WHERE rnk = 1),
         |cprobes AS (SELECT cid, vec_id, v FROM casgn WHERE rnk <= $nProbe AND vec_id < 8),
         |cands AS (
         |  SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
         |         $pqScoreSql AS approx_cosine
         |  FROM cprobes q
         |  JOIN cinv i ON i.cid = q.cid AND i.vec_id <> q.vec_id
         |  JOIN codes t ON t.vec_id = i.vec_id
         |  ${(0 until pqM).map(j => s"JOIN p${j}cb$pqIters c$j ON c$j.cid = t.code$j").mkString(" ")}
         |),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY approx_cosine DESC, neighbor_id) AS rnk
         |    FROM cands
         |  ) WHERE rnk <= $pqShortlist
         |)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT s.query_id, s.neighbor_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine,
         |         row_number() OVER (PARTITION BY s.query_id
         |           ORDER BY ${cosineSql("q.v", "c.v")} DESC, s.neighbor_id) AS rank
         |  FROM short s JOIN e q ON q.vec_id = s.query_id
         |               JOIN e c ON c.vec_id = s.neighbor_id
         |) WHERE rank <= $k""".stripMargin),
    "d5_embedding_top_pairs" -> (embSql +
      s"""
         |SELECT x.vec_id AS vec_id1, y.vec_id AS vec_id2,
         |       ${cosineSql("x.v", "y.v")} AS cosine
         |FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
         |ORDER BY cosine DESC, vec_id1, vec_id2
         |LIMIT 50""".stripMargin),
    "d7_semantic_drop_list" -> (embSql + kmeansCtes +
      s""",
         |cents AS (SELECT cid, cv FROM cb$kmIters),
         |casgn AS (
         |  SELECT vec_id, v, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rnk
         |  FROM (SELECT e.vec_id, e.v, c.cid, ${cosineSql("e.v", "c.cv")} AS cos
         |        FROM e CROSS JOIN cents c)
         |),
         |inv AS (SELECT cid, vec_id, v FROM casgn WHERE rnk = 1)
         |SELECT DISTINCT y.vec_id AS drop_id
         |FROM inv x JOIN inv y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |WHERE ${cosineSql("x.v", "y.v")} >= CAST('0.35' AS DOUBLE)""".stripMargin),
    "d5b_embedding_top_pairs_scale" -> (embSql + dialedKmeansCtes + dialedInvCtes +
      s"""
         |SELECT x.vec_id AS vec_id1, y.vec_id AS vec_id2,
         |       ${cosineSql("x.v", "y.v")} AS cosine
         |FROM inv x JOIN inv y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |ORDER BY cosine DESC, vec_id1, vec_id2
         |LIMIT 50""".stripMargin),
    "d7b_semantic_drop_list_scale" -> (embSql + dialedKmeansCtes + dialedInvCtes +
      s"""
         |SELECT DISTINCT y.vec_id AS drop_id
         |FROM inv x JOIN inv y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |WHERE ${cosineSql("x.v", "y.v")} >= CAST('0.35' AS DOUBLE)""".stripMargin)
  )

  /** The dialed kmeans: k = blocksFor(count(e), dialTarget) computed by the
    * oracle itself (same pure function of the corpus count the Spark side
    * evaluates), feeding [[kmeansCtesK]] through a scalar-subquery LIMIT.
    */
  private def dialedKmeansCtes: String =
    s", kdial AS (SELECT greatest(1, CAST(ceil(count(*) / $dialTarget.0) AS BIGINT)) AS k FROM e)" +
      kmeansCtesK("(SELECT k FROM kdial)")

  /** Coarse n=1 assignment of the whole corpus to the dialed centroids —
    * the shared blocking CTE of d5b/d7b (mirrors VectorOps.ivfAssign).
    */
  private def dialedInvCtes: String =
    s""",
       |cents AS (SELECT cid, cv FROM cb$kmIters),
       |casgn AS (
       |  SELECT vec_id, v, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rnk
       |  FROM (SELECT e.vec_id, e.v, c.cid, ${cosineSql("e.v", "c.cv")} AS cos
       |        FROM e CROSS JOIN cents c)
       |),
       |inv AS (SELECT cid, vec_id, v FROM casgn WHERE rnk = 1)""".stripMargin

  /** v8 shares v7's oracle verbatim: the persisted-index serve is the
    * same computation (same quantizers, same ADC, same refine) read from
    * the lake instead of recomputed — it must be bit-equal.
    */
  val oracleAll: Map[String, String] =
    oracle + ("v8_index_topk" -> oracle("v7_ivfpq_topk"))
}
