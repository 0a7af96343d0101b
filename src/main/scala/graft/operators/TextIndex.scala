package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextNative, TopK}

/** Persisted inverted index for BM25 search — the [[VectorIndex]]
  * discipline applied to text: the lake layout IS the index.
  *
  * Layout under `path`:
  *   - `postings/` parquet partitioned by `bucket` =
  *     pmod(tokenHash(term), buckets): one row per (doc, term) with the
  *     term string, tf, and the doc length DENORMALIZED onto the posting
  *     (classic posting-list design — scoring never joins a doc table).
  *   - `stats_log/` APPEND-ONLY rows (batch_id, n_docs, sum_dl): the
  *     corpus size N and Σdl BM25 needs are the SUM over the log. No
  *     write ever reads or overwrites an existing stats row, so a crash
  *     cannot destroy stats and two appends cannot lose each other's
  *     delta (the round-6 read-modify-write is gone).
  *   - `.staging_<batchId>/` in-flight append batches (dot-prefixed —
  *     invisible to parquet partition discovery until committed).
  *
  * Append commit protocol (crash-safe, replay-idempotent):
  *   1. [[recoverPending]] rolls any prior crashed append forward/back;
  *   2. a batchId already present in `stats_log` is a COMMITTED batch →
  *      the whole call is a no-op (exactly-once under micro-batch
  *      replay — [[graft.streaming.StreamTextIndex]] passes the epoch id);
  *   3. postings + the one-row delta are written under `.staging_<id>/`
  *      (one tokenize pass, stats observed on the same scan);
  *   4. an empty `_READY` marker is created — the commit point. No
  *      marker → recovery ROLLS BACK (staging deleted, nothing was
  *      visible). Marker present → recovery ROLLS FORWARD;
  *   5. staged part files are renamed into their live bucket dirs (file
  *      names are job-unique, so re-running the rename set is
  *      idempotent), the delta row is appended to `stats_log`, staging
  *      is deleted.
  * A crash between 5's renames and the stats append leaves a bounded
  * read-skew window (new postings scored against the previous N/Σdl)
  * that the next writer — or an explicit [[recoverPending]] — heals;
  * contrast with round 6 where the same crash destroyed the stats table
  * outright. Appends assume a single writer per index (documented
  * contract; concurrent DIFFERENT batches only contend on the
  * `stats_log` append job commit).
  *
  * Query cost model (why this scales to 100 TB of documents):
  *   - a query's terms hash to ≤ |terms| buckets → the scan's partition
  *     filter prunes every other directory at the FILESYSTEM level
  *     (asserted via the scan's numFiles metric in TextIndexSpec);
  *   - df(term) is derivable from the PRUNED read (every posting of a
  *     term lives in its bucket), so no side lookup exists;
  *   - per-term tf columns come from one conditional aggregation per
  *     doc, the score is the SAME left-to-right fold as the batch scan
  *     ([[TextSearch.scoreExpr]] — shared code, bit-identical doubles),
  *     and ranking is the bounded-heap top-k. Nothing is globally
  *     sorted; nothing reads a bucket the query didn't touch.
  *
  * TextIndexSpec asserts index-served results are BIT-IDENTICAL to
  * [[TextSearch.bm25TopK]]'s one-shot scan on the same corpus, that
  * build touches the corpus exactly once (recordsRead), and replays the
  * crash windows above.
  */
object TextIndex {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Build (overwrite) the index: ONE tokenize pass — postings are the
    * write, corpus stats (N, Σdl) are observed on the same scan (the
    * pre-explode per-doc frame flows through a CollectMetrics node), so
    * the round-6 second full-corpus scan for two longs is gone
    * (TextIndexSpec asserts recordsRead ≈ |corpus|, not 2×).
    */
  def build(docs: DataFrame, text: Column, id: Column, path: String,
      buckets: Int = 64): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = docs.sparkSession
    recoverPending(spark, path)
    val obs = Observation()
    val perDoc = docs
      .select(id.as("doc_id"), TextNative.docTermFreqs(text).as("__r"))
      .observe(obs, count(lit(1)).as("n_docs"),
        sum(col("__r.dl").cast("long")).as("sum_dl"))
    postingsOf(perDoc, buckets)
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("bucket")
      .parquet(s"$path/postings")
    val m = obs.get
    import spark.implicits._
    Seq(("build", m("n_docs").asInstanceOf[Long],
        Option(m("sum_dl")).map(_.asInstanceOf[Long]).getOrElse(0L)))
      .toDF("batch_id", "n_docs", "sum_dl")
      .write.mode("overwrite").parquet(s"$path/stats_log")
  }

  /** The shared posting shape: (doc_id, dl, term, tf, bucket), clustered
    * within each bucket partition for row-group locality. tf aggregation
    * happens INSIDE each row ([[graft.functions.DocTermFreqs]], one
    * compiled pass per document) — the pre-round-7 explode + groupBy
    * shuffled every token occurrence (40 M rows/M docs) and its wide hash
    * agg spilled on one-shot builds; now the only shuffle is the bucket
    * repartition of the already-aggregated postings (1 M-doc build:
    * 137.8 s with the explode+groupBy form vs 17.9-42 s across runs with
    * the kernel — round 7's streaming smoke, BASELINE.md; the spread is
    * shared-host load, the win reproduces in every pairing).
    */
  private def postingsOf(perDoc: DataFrame, buckets: Int): DataFrame =
    perDoc
      .select(col("doc_id"), col("__r.dl").as("dl"),
        explode(col("__r.tfs")).as("p"))
      .select(col("doc_id"), col("dl"),
        col("p.term").as("term"), col("p.tf").as("tf"))
      .withColumn("bucket", pmod(TextHash.tokenHash(col("term")), lit(buckets.toLong)))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "term", "doc_id")

  /** Append a batch of NEW documents (caller guarantees doc_ids disjoint
    * from the indexed corpus — ingest-time dedup is [[Dedup
    * .incrementalDropList]]'s job, upstream of indexing) under the
    * staged-commit protocol in the class doc. `batchId` is the
    * idempotency key: re-running a committed batchId is a no-op, so
    * streaming replay after a crash cannot double-append.
    * TextIndexSpec asserts build(half)+append(half) == build(full)
    * bit-exactly, and that every crash window recovers.
    */
  def append(spark: SparkSession, newDocs: DataFrame, text: Column,
      id: Column, path: String, batchId: String,
      buckets: Int = 64): Unit = {
    require(batchId.nonEmpty && !batchId.contains("/"),
      s"batchId must be a non-empty path-safe token, got '$batchId'")
    recoverPending(spark, path)
    if (statsHasBatch(spark, path, batchId)) return // committed: replay no-op
    stage(spark, newDocs, text, id, path, batchId, buckets)
    commitStaged(spark, path, s"$path/.staging_$batchId")
  }

  /** Write the batch under `.staging_<batchId>/` and create the `_READY`
    * commit marker. Package-visible so the spec can stop exactly here
    * (the "killed between staging and commit" window).
    */
  private[graft] def stage(spark: SparkSession, newDocs: DataFrame,
      text: Column, id: Column, path: String, batchId: String,
      buckets: Int): String = {
    val staging = s"$path/.staging_$batchId"
    val fs = fsOf(spark, path)
    fs.delete(new Path(staging), true) // partial earlier attempt, never visible
    val obs = Observation()
    val perDoc = newDocs
      .select(id.as("doc_id"), TextNative.docTermFreqs(text).as("__r"))
      .observe(obs, count(lit(1)).as("n_docs"),
        sum(col("__r.dl").cast("long")).as("sum_dl"))
    postingsOf(perDoc, buckets)
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("bucket")
      .parquet(s"$staging/p")
    val m = obs.get
    import spark.implicits._
    Seq((batchId, m("n_docs").asInstanceOf[Long],
        Option(m("sum_dl")).map(_.asInstanceOf[Long]).getOrElse(0L)))
      .toDF("batch_id", "n_docs", "sum_dl")
      .write.mode("overwrite").parquet(s"$staging/delta")
    fs.create(new Path(staging, "_READY"), false).close() // the commit point
    staging
  }

  /** Roll a `_READY` staging dir forward: move its part files into the
    * live bucket dirs (idempotent — job-unique file names; an
    * already-moved file is skipped), append the delta row to `stats_log`
    * unless that batch_id is already logged, drop the staging dir.
    */
  private def commitStaged(spark: SparkSession, path: String,
      staging: String): Unit = {
    val fs = fsOf(spark, path)
    val p = new Path(staging, "p")
    if (fs.exists(p)) {
      fs.listStatus(p).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("bucket=")).foreach { b =>
        val live = new Path(s"$path/postings/${b.getPath.getName}")
        fs.mkdirs(live)
        fs.listStatus(b.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .foreach { f =>
            val dst = new Path(live, f.getPath.getName)
            if (fs.exists(dst)) fs.delete(f.getPath, false) // already moved
            else require(fs.rename(f.getPath, dst),
              s"postings commit failed: ${f.getPath} -> $dst")
          }
      }
    }
    val deltaRow = spark.read.parquet(s"$staging/delta").collect()(0)
    if (!statsHasBatch(spark, path, deltaRow.getString(0))) {
      import spark.implicits._
      Seq((deltaRow.getString(0), deltaRow.getLong(1), deltaRow.getLong(2)))
        .toDF("batch_id", "n_docs", "sum_dl")
        .write.mode("append").parquet(s"$path/stats_log")
    }
    fs.delete(new Path(staging), true)
  }

  /** Roll interrupted appends forward (`_READY` present → finish the
    * commit) or back (no marker → the batch was never visible; drop it).
    * Idempotent; called at the start of every write; safe — and cheap —
    * to call explicitly before serving queries from a possibly-crashed
    * writer's index.
    */
  def recoverPending(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".staging_"))
      .foreach { s =>
        if (fs.exists(new Path(s.getPath, "_READY")))
          commitStaged(spark, path, s.getPath.toString)
        else fs.delete(s.getPath, true)
      }
  }

  private def statsHasBatch(spark: SparkSession, path: String,
      batchId: String): Boolean = {
    val log = new Path(s"$path/stats_log")
    fsOf(spark, path).exists(log) &&
      !spark.read.parquet(log.toString)
        .filter(col("batch_id") === batchId).isEmpty
  }

  /** The one-row (n_docs, sum_dl) frame: the SUM over the append-only
    * log. Absent log (first streamed batch before any build) = empty
    * corpus.
    */
  private def statsDf(spark: SparkSession, path: String): DataFrame = {
    val log = new Path(s"$path/stats_log")
    if (fsOf(spark, path).exists(log))
      spark.read.parquet(log.toString)
        .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
    else {
      import spark.implicits._
      Seq((0L, 0L)).toDF("n_docs", "sum_dl")
    }
  }

  /** Top-k BM25 from the index: (rank, doc_id, score), identical to
    * [[TextSearch.bm25TopK]] on the indexed corpus. Duplicate query
    * terms are deduplicated (first occurrence kept) so the pivot here
    * and the slot-keyed [[graft.functions.TermFreqs]] batch kernel agree
    * on one contract: a term contributes once.
    */
  def topK(spark: SparkSession, path: String, terms: Seq[String], k: Int,
      buckets: Int = 64, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val dterms = terms.distinct
    val m = dterms.size
    val qBuckets = dterms.map(t =>
      java.lang.Long.remainderUnsigned(
        graft.functions.TextKernel.hash60(t), buckets.toLong)).distinct
    val pruned = spark.read.parquet(s"$path/postings")
      // partition-directory pruning: bucket is the partition column
      .filter(col("bucket").cast("long").isin(qBuckets: _*))
      .filter(col("term").isin(dterms: _*))
    // per-doc term pivot: tf_i columns in TERM ORDER (missing term → 0,
    // which contributes exactly 0.0 like the batch scan's tf = 0)
    val tfCols = dterms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("tf"))).as(s"__tf$i")
    }
    val perDoc = pruned.groupBy(col("doc_id"), col("dl"))
      .agg(tfCols.head, tfCols.tail: _*)
    // df per term from the pruned read (a term's postings all live here)
    val dfAggs = dterms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"__df$i")
    }
    val dfs = pruned.agg(dfAggs.head, dfAggs.tail: _*)
    val scored = perDoc
      .crossJoin(broadcast(dfs))
      .crossJoin(broadcast(statsDf(spark, path)))
    val score = TextSearch.scoreExpr(
      (0 until m).map(i => coalesce(col(s"__tf$i"), lit(0))),
      col("dl"), col("n_docs"), col("sum_dl"),
      (0 until m).map(i => col(s"__df$i")), k1, b)
    scored.select(col("doc_id"), score.as("score"))
      .filter(col("score") > 0.0)
      .agg(TopK.topK(col("score"), col("doc_id"), k).as("__top"))
      .select(posexplode(col("__top")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
  }

  /** Batched multi-query BM25 from the index: score EVERY query in
    * `queries` (query_id, terms: array&lt;string&gt;) in ONE job —
    * the shape an eval-decontamination or retrieval-eval pipeline needs
    * when it has thousands of queries, where a [[topK]] loop would be
    * thousands of Spark jobs.
    *
    * Shape: postings ⋈ exploded query terms. The query-term vocabulary
    * is driver-sized BY DEFINITION (it is the query set), so the bucket
    * list for partition pruning and the (term → query slots) side are
    * literal/broadcast — the corpus-sized postings never shuffle; the
    * only aggregation keys are (query_id, doc_id) pairs that matched.
    * Per (query, doc) the matched contributions fold in SLOT ORDER from
    * 0.0 — bitwise equal to [[TextSearch.scoreExpr]]'s full fold because
    * the skipped terms contribute exactly +0.0 (IEEE: x + 0.0 == x for
    * the non-negative contributions here). Ranking is the bounded-heap
    * top-k per query_id. TextIndexSpec asserts bit-identity with a
    * per-query [[topK]] loop; the bm2 oracle replays it in DuckDB.
    *
    * Scale notes, measured at 1 M docs / 40 M postings (BASELINE.md
    * round-8):
    *  - the vocab filter `term.isin(vocab)` optimizes to an InSet hash
    *    probe above 10 terms (TextIndexSpec pins the plan shape), so
    *    10^4-term query sets cost O(1)/postings-row, not O(|vocab|);
    *  - bucket pruning VANISHES as the query vocabulary grows: once the
    *    distinct terms cover ~all `buckets` residues (coupon-collector:
    *    likely by |vocab| ≈ buckets · ln(buckets)), the bucket filter
    *    keeps every partition and the expected — and correct — plan is a
    *    full-postings scan gated only by the InSet term filter. Batched
    *    serving still wins by running ONE job instead of |queries|.
    *
    * @param queries (query_id: long, terms: array&lt;string&gt;);
    *                duplicate terms within a query are deduplicated
    *                (first occurrence keeps its slot) like [[topK]].
    */
  def topKBatch(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, buckets: Int = 64, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val qt = queries.select(col("query_id"),
        posexplode(array_distinct(col("terms"))).as(Seq("slot", "term")))
    // the query vocabulary: tiny by construction — collected once for the
    // literal bucket filter (filesystem-level pruning, same as topK)
    val vocab = qt.select("term").distinct().collect().map(_.getString(0)).toSeq
    if (vocab.isEmpty)
      return spark.range(0).select(col("id").as("query_id"),
        col("id").as("rank"), col("id").as("doc_id"),
        col("id").cast("double").as("score"))
    val qBuckets = vocab.map(t =>
      java.lang.Long.remainderUnsigned(
        graft.functions.TextKernel.hash60(t), buckets.toLong)).distinct
    val pruned = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").cast("long").isin(qBuckets: _*))
      .filter(col("term").isin(vocab: _*))
    // df per term from the pruned read — ≤ |vocab| rows, broadcast back
    val dfByTerm = pruned.groupBy("term").agg(count(lit(1)).as("__df"))
    val joined = pruned
      .join(broadcast(qt), "term")
      .join(broadcast(dfByTerm), "term")
      .crossJoin(broadcast(statsDf(spark, path)))
    val contrib = TextSearch.contribExpr(col("tf"), col("dl"),
      col("n_docs"), col("sum_dl"), col("__df"), k1, b)
    val scored = joined
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("slot"), contrib.as("c"))))
        .as("__cs"))
      .select(col("query_id"), col("doc_id"),
        aggregate(col("__cs"), lit(0.0),
          (acc, x) => acc + x.getField("c")).as("score"))
    scored
      .filter(col("score") > 0.0)
      .groupBy(col("query_id"))
      .agg(TopK.topK(col("score"), col("doc_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
  }

  /** Compact each bucket's accumulated small files (streamed appends
    * land one file set per micro-batch) into `filesPerBucket`, with a
    * rename-aside swap: write `.compact_tmp_bucket=*`, swap the live
    * dir aside, swap tmp in, drop old LAST — plus leftover-dir recovery
    * at entry, so a crash at any point leaves a servable index. Also
    * folds `stats_log`'s per-batch rows into one (same swap). Query
    * results are bit-identical before/after (TextIndexSpec).
    *
    * Run with any ingest stream stopped (single-writer contract).
    */
  def compactPostings(spark: SparkSession, path: String,
      filesPerBucket: Int = 1): Unit = {
    recoverPending(spark, path)
    recoverCompact(spark, path)
    val fs = fsOf(spark, path)
    val post = new Path(s"$path/postings")
    if (fs.exists(post)) {
      fs.listStatus(post).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("bucket=")).foreach { b =>
        val live = b.getPath
        val name = live.getName
        val tmp = new Path(post, s".compact_tmp_$name")
        val old = new Path(post, s".compact_old_$name")
        spark.read.parquet(live.toString)
          .repartition(filesPerBucket)
          .sortWithinPartitions("term", "doc_id")
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(tmp.toString)
        require(fs.rename(live, old), s"compact swap-out failed: $live")
        require(fs.rename(tmp, live), s"compact swap-in failed: $live")
        fs.delete(old, true)
      }
    }
    // fold the stats log to one row via the same swap
    val log = new Path(s"$path/stats_log")
    if (fs.exists(log)) {
      val folded = statsDf(spark, path).collect()(0)
      val tmp = new Path(s"$path/.compact_tmp_stats_log")
      val old = new Path(s"$path/.compact_old_stats_log")
      import spark.implicits._
      Seq(("compacted", folded.getLong(0), folded.getLong(1)))
        .toDF("batch_id", "n_docs", "sum_dl")
        .write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(log, old), s"compact swap-out failed: $log")
      require(fs.rename(tmp, log), s"compact swap-in failed: $log")
      fs.delete(old, true)
    }
  }

  /** Roll an interrupted [[compactPostings]] swap forward or back: an
    * `.compact_old_*` left behind means the process died inside a swap —
    * if the live dir exists the new data is in place (drop old), else
    * restore old; a lone `.compact_tmp_*` never swapped (drop it).
    */
  private def recoverCompact(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    def sweep(dir: Path): Unit = if (fs.exists(dir)) {
      fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith(".compact_old_")).foreach { old =>
          val live = new Path(dir, old.getName.stripPrefix(".compact_old_"))
          val tmp = new Path(dir, s".compact_tmp_${live.getName}")
          if (!fs.exists(live)) {
            if (fs.exists(tmp)) require(fs.rename(tmp, live),
              s"compact recovery failed: $tmp -> $live")
            else require(fs.rename(old, live),
              s"compact recovery failed: $old -> $live")
          }
          fs.delete(old, true)
          fs.delete(tmp, true)
        }
      fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith(".compact_tmp_"))
        .foreach(fs.delete(_, true))
    }
    sweep(new Path(s"$path/postings"))
    sweep(new Path(path))
  }
}
