package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.{TextOps, VectorOps}
import graft.sinks.{BloomSidecars, SnapshotLake}

/** The bit-equality witnesses of the native kernels: the legacy
  * higher-order-function and Column formulations each kernel replaced,
  * kept VERBATIM and used only by the equality specs (TextNativeSpec,
  * DedupSpec, VectorSpec, PropertySpec, BloomSidecarSpec). Each is the
  * shape the DuckDB oracle mirrors (the bloom builder: the bytes the lake
  * wrote before its writers built sidecars in the task); the engine itself has exactly one implementation per
  * kernel. Interpreted per row — test fixtures only.
  */
object Witness {

  // ------------------------------------------------------------------
  // Text kernels ([[graft.functions.TextNative]])

  private val LmClasses = 38

  private def charClasses(t: Column): Column =
    transform(filter(split(lower(t), ""), c => c =!= ""), { c =>
      val a = ascii(c)
      when(a >= 97 && a <= 122, a - 96)
        .when(a >= 48 && a <= 57, a - 21) // 27 + (a - 48)
        .when(a === 32, lit(37))
        .otherwise(lit(0))
    })

  /** The HOF slot chain (split→classify→zip) — witness for
    * [[graft.functions.CharLmSlots]]: bigram slot ids (prev·38 + next) in
    * document order; empty below 2 chars.
    */
  def lmSlots(t: Column): Column = {
    val cls = charClasses(t)
    when(size(cls) >= 2,
      zip_with(slice(cls, lit(1), size(cls) - 1), slice(cls, lit(2), size(cls) - 1),
        (x, y) => x * LmClasses + y))
      .otherwise(array().cast("array<int>"))
  }

  /** Frozen-model char-LM scoring as a HOF fold — witness for
    * [[graft.functions.CharLmScore]].
    */
  def scoreCharLm(df: DataFrame, text: Column, id: Column,
      model: Array[Double]): DataFrame = {
    require(model.length == LmClasses * LmClasses,
      s"char-LM model must have 1444 slots, got ${model.length}")
    val lp = typedlit(model.toSeq)
    val scored = df.select(id.as("doc_id"), lmSlots(text).as("__sl"))
    val sum = aggregate(col("__sl"), lit(0.0),
      (acc, s) => acc + element_at(lp, s + 1))
    scored.select(col("doc_id"),
      size(col("__sl")).cast("long").as("n_bigrams"),
      when(size(col("__sl")) > 0,
        -sum / size(col("__sl"))).as("nll"))
  }

  def tokenCount(text: Column): Column = size(TextHash.tokens(text))

  def stopwordRatio(text: Column): Column = {
    val toks = TextHash.tokens(text)
    val stops = filter(toks, t => t.isInCollection(TextOps.EnStopwords))
    when(size(toks) > 0, size(stops).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  def qualityScore(text: Column): Column = {
    val toks = TextHash.tokens(text)
    val n = size(toks).cast("double")
    val lenScore = least(lit(1.0), n / lit(50.0))
    val alphaRatio =
      size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("double") / n
    val diversity = size(array_distinct(toks)).cast("double") / n
    val stopCloseness =
      lit(1.0) - abs(stopwordRatio(text) - lit(0.4))
    when(n > 0,
      (lenScore + alphaRatio + diversity + stopCloseness) * lit(0.25))
      .otherwise(lit(0.0))
  }

  def fingerprint(text: Column, p: Long = 2147483647L): Column =
    aggregate(
      TextHash.tokens(text),
      lit(0L),
      (acc, t) => (acc * lit(31L) + TextHash.tokenHash(t) % lit(p)) % lit(p))

  def repeatedNgramRatio(text: Column, n: Int): Column = {
    val ng = TextHash.wordNgrams(TextHash.tokens(text), n)
    val m = size(ng)
    when(m > 0,
      (m - size(array_distinct(ng))).cast("double") / m.cast("double"))
      .otherwise(lit(0.0))
  }

  def meanWordLength(text: Column): Column = {
    val tk = TextHash.tokens(text)
    when(size(tk) > 0,
      aggregate(tk, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(tk).cast("double"))
      .otherwise(lit(0.0))
  }

  def symbolRatio(text: Column): Column = {
    val total = length(text)
    val clean = length(regexp_replace(text, "[^a-z0-9 ]", ""))
    when(total > 0,
      (total - clean).cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Simhash word over the token hashes: bit b set when more than half
    * the tokens' hashes have bit b set — one vote fold per bit.
    */
  def simhash(text: Column, bits: Int = 60): Column = {
    val hs = transform(TextHash.tokens(text), t => TextHash.tokenHash(t))
    val n = size(hs)
    (0 until bits).map { b =>
      val nSet = aggregate(hs, lit(0L),
        (acc, h) => acc + shiftright(h, b).bitwiseAND(lit(1L)))
      when(nSet * lit(2) > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  // ------------------------------------------------------------------
  // Vector kernels ([[graft.functions.Dot]], [[graft.functions.Lsh]],
  // [[graft.functions.Ivf]], [[graft.functions.Pq]],
  // [[graft.functions.TopK]])

  /** Products array, then a left-to-right fold — witness for
    * [[VectorOps.dot]].
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"), _ * _),
      lit(0.0), (acc, v) => acc + v)

  /** The fused v·v fold — witness for [[VectorOps.norm2]]. */
  def norm2(a: Column): Column =
    aggregate(a.cast("array<double>"), lit(0.0), (acc, v) => acc + v * v)

  /** Sign bits of [[VectorOps.planeDot]] — witness for
    * [[VectorOps.lshBucket]].
    */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    (0 until planes)
      .map(p => when(VectorOps.planeDot(v, p, dims) > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** `row_number() OVER (PARTITION BY query_id ORDER BY score DESC,
    * neighbor_id)` — witness for the bounded-heap per-query top-k.
    */
  def topKPerQuery(scored: DataFrame, k: Int, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col(scoreCol).desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col(scoreCol))
  }

  /** [[VectorOps.bruteTopK]] with the window-ranked tail. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        VectorOps.norm2(col("embedding")).as("__n2q")))
    val joined = corpus
      .select(col("vec_id"), col("embedding"), VectorOps.norm2(col("embedding")).as("__n2c"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorOps.cosineStaged(col("qv"), col("embedding"),
          col("__n2q"), col("__n2c")).as("cosine"))
    topKPerQuery(joined, k, "cosine")
  }

  /** Coarse IVF assignment as literal-codebook `transform` + `array_sort`
    * — witness for [[graft.functions.IvfAssignTopN]]; output columns as
    * `VectorOps.ivfAssign`.
    */
  def ivfAssign(df: DataFrame, cents: Array[(Long, Array[Double])],
      n: Int): DataFrame = {
    val centArr = array(cents.map { case (cid, cv) =>
      struct(lit(cid).as("cid"), typedLit(cv).as("cv")) }: _*)
    // (score DESC, NULL last, cid ASC) — NULL scores (try_divide's
    // zero-denominator result, the native expression's NaN) are ranked
    // explicitly so the comparator is total; an implicit fall-through to
    // the cid tie would be non-transitive and array_sort's output
    // undefined on degenerate inputs.
    val cmp: (Column, Column) => Column = (l, r) =>
      when(l.getField("cs").isNull && r.getField("cs").isNull,
          when(l.getField("cid") < r.getField("cid"), -1).otherwise(1))
        .when(l.getField("cs").isNull, 1)
        .when(r.getField("cs").isNull, -1)
        .when(l.getField("cs") > r.getField("cs"), -1)
        .when(l.getField("cs") < r.getField("cs"), 1)
        .when(l.getField("cid") < r.getField("cid"), -1)
        .otherwise(1)
    val staged = df.select(col("vec_id"), col("embedding"),
      VectorOps.norm2(col("embedding")).as("__n2"))
    val scored = transform(centArr, c =>
      struct(VectorOps.cosineStaged(col("embedding"), c.getField("cv"),
        col("__n2"), VectorOps.norm2(c.getField("cv"))).as("cs"),
        c.getField("cid").as("cid")))
    staged.select(col("vec_id"), col("embedding"), col("__n2"),
        explode(slice(array_sort(scored, cmp), 1, n)).as("__a"))
      .select(col("vec_id"), col("embedding"), col("__n2"),
        col("__a.cid").as("cent_id"))
  }

  /** PQ encode + ADC top-k from higher-order-function folds only —
    * witness for [[graft.functions.PqEncode]] /
    * [[graft.functions.PqAdcCosine]] and the reference for the oracle's
    * fold orders.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      codebooks: Array[Array[(Long, Array[Double])]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0)._2.length
    def centArr(j: Int): Column = array(codebooks(j).map { case (cid, cv) =>
      struct(lit(cid).as("cid"), typedLit(cv).as("cv")) }: _*)
    def subvec(v: Column, j: Int): Column =
      slice(v.cast("array<double>"), j * sub + 1, sub)
    def l2sub(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    // (distance asc, cid asc) — the oracle's ORDER BY d ASC, cid
    val cmp: (Column, Column) => Column = (l, r) =>
      when(l.getField("d") < r.getField("d"), -1)
        .when(l.getField("d") > r.getField("d"), 1)
        .when(l.getField("cid") < r.getField("cid"), -1)
        .otherwise(1)
    val codeCols = (0 until m).map { j =>
      element_at(array_sort(
        transform(centArr(j), c =>
          struct(l2sub(subvec(col("embedding"), j), c.getField("cv")).as("d"),
            c.getField("cid").as("cid"))), cmp), 1)
        .getField("cid").as(s"__code$j")
    }
    val encoded = corpus.select(col("vec_id") +: codeCols: _*)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), VectorOps.norm2(col("embedding")).as("__n2q")))
    // codebooks store cid 0..ksub-1 in order, so element_at(code+1) is the
    // cid's centroid; Σ over subspaces is a left-to-right reduce
    def codeCent(j: Int): Column = {
      val cvs = array(codebooks(j).map { case (_, cv) => typedLit(cv) }: _*)
      element_at(cvs, (col(s"__code$j") + lit(1)).cast("int"))
    }
    val adot = (0 until m).map(j => VectorOps.dot(subvec(col("qv"), j), codeCent(j)))
      .reduce(_ + _)
    val cn2 = (0 until m).map(j => VectorOps.norm2(codeCent(j))).reduce(_ + _)
    val scored = encoded.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        try_divide(adot, sqrt(col("__n2q")) * sqrt(cn2)).as("approx_cosine"))
    VectorOps.topKPerQuery(scored, k, "approx_cosine")
  }

  // ------------------------------------------------------------------
  // Lake bloom sidecars ([[graft.sinks.BloomSidecars]])

  /** The two-pass sidecar builder the in-task writer replaced: read the
    * data files back and build each (file, bloom column)'s filter in ONE
    * Spark job — partial filters accumulate per task (a task may read
    * several coalesced small files — `input_file_name` keys the
    * partials), the shuffle moves only serialized filters, and partials
    * merge by key. Files with zero non-null values for a column get an
    * explicit empty filter. Returns the sidecar bytes by (rel, column),
    * where the builder wrote them to `_blooms/<rel>.<col>.bloom`.
    */
  def bloomSidecars(spark: SparkSession, root: String,
      entries: Seq[SnapshotLake.FileEntry],
      bloomCols: Seq[String]): Map[(String, String), Array[Byte]] = {
    if (entries.isEmpty || bloomCols.isEmpty) return Map.empty
    import org.apache.spark.util.sketch.BloomFilter
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dd = new Path(root, "data")
    // qualified first: tasks key by `input_file_name`, which is absolute
    // even when `root` is relative; then scheme-insensitive
    def key(p: Path): String = fs.makeQualified(p).toUri.getPath
    // entries carry the footer row count — sizes each file's filter so
    // fpp holds at any file size
    val rowsByKey = entries.map { e =>
      key(new Path(dd, e.rel)) -> math.max(1L, e.rows)
    }.toMap
    val df = spark.read.parquet(entries.map(e => new Path(dd, e.rel).toString): _*)
    val fpp = BloomSidecars.Fpp
    val rowsBc = spark.sparkContext.broadcast(rowsByKey)
    val n = bloomCols.size
    val sel = df.select(input_file_name().as("__file") +: bloomCols.map(col): _*)
    val merged: Array[((String, Int), Array[Byte])] = sel.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.Map.empty[(String, Int), BloomFilter]
      it.foreach { row =>
        val fk = new Path(row.getString(0)).toUri.getPath
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i + 1)) {
            val bf = acc.getOrElseUpdate((fk, i),
              BloomFilter.create(rowsBc.value(fk), fpp))
            BloomSidecars.put(bf, row.get(i + 1))
          }
          i += 1
        }
      }
      acc.iterator.map { case (k, bf) =>
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (k, bos.toByteArray)
      }
    }.reduceByKey { (a, b) =>
      val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
      fa.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      val bos = new java.io.ByteArrayOutputStream()
      fa.writeTo(bos)
      bos.toByteArray
    }.collect()
    val byKey = merged.toMap
    entries.flatMap { e =>
      val fk = key(new Path(dd, e.rel))
      bloomCols.zipWithIndex.map { case (c, i) =>
        (e.rel, c) -> byKey.getOrElse((fk, i), {
          val bos = new java.io.ByteArrayOutputStream()
          BloomFilter.create(1, fpp).writeTo(bos)
          bos.toByteArray
        })
      }
    }.toMap
  }

  /** The manifest entry of the published data file `rel` under `root`,
    * read back from the file itself on the driver: its length, its row
    * count and, for each of `statsCols` whose physical type is numeric
    * (INT32, INT64, FLOAT, DOUBLE — timestamps ride INT64 micros; INT96
    * and binary columns get none), the (min, max) envelope over every row
    * group's footer statistics, as doubles. `bloomCols` are the sidecars
    * the file is expected to carry. The reference the writing tasks'
    * own entries are checked against.
    */
  def footerEntry(spark: SparkSession, root: String, rel: String,
      statsCols: Set[String], bloomCols: Seq[String]): SnapshotLake.FileEntry = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new Path(new Path(root, "data"), rel)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val chunks = blocks.flatMap(_.getColumns.asScala)
        .filter(c => statsCols(c.getPath.toDotString))
      val stats = chunks.groupBy(_.getPath.toDotString).flatMap { case (name, cs) =>
        val bounds = cs.map(_.getStatistics)
          .filter(st => st != null && st.hasNonNullValue)
          .flatMap { st =>
            def d(v: Any): Double = v match {
              case i: java.lang.Integer => i.toDouble
              case l: java.lang.Long => l.toDouble
              case f: java.lang.Float => f.toDouble
              case x: java.lang.Double => x.doubleValue
            }
            st.`type`.getPrimitiveTypeName match {
              case INT32 | INT64 | FLOAT | DOUBLE =>
                Some((d(st.genericGetMin), d(st.genericGetMax)))
              case _ => None
            }
          }
        if (bounds.isEmpty) None
        else Some(name -> (bounds.map(_._1).reduce((a, b) => math.min(a, b)),
          bounds.map(_._2).reduce((a, b) => math.max(a, b))))
      }
      SnapshotLake.FileEntry(rel,
        file.getFileSystem(conf).getFileStatus(file).getLen, stats,
        bloomCols.distinct.sorted, blocks.map(_.getRowCount).sum)
    } finally reader.close()
  }
}
