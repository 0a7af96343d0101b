package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels for the corpus-hygiene / quality / dedup surface.
  *
  * Why these exist (SURVEY §2.10 ladder, same reasoning as [[Lsh]]/[[Pq]]):
  * every higher-order function (`filter`, `transform`, `zip_with`,
  * `aggregate`) is CodegenFallback — evaluated INTERPRETED, per row, with no
  * common-subexpression elimination across the lambda boundary. The text
  * operators stack 5–10 of them per document (tokenize → shingle → hash →
  * fold), so a map-only quality pass was paying interpreted-tree prices:
  * x6 measured 2.3 s for 5 000 tiny docs at sf0.1 — ~15 ms of CPU per
  * 300-char document. Each kernel here is ONE compiled pass over the
  * string, exposed as a codegen-compatible expression (the generated code
  * is a single call on a referenced kernel object, so surrounding
  * whole-stage codegen and subexpression elimination keep working).
  *
  * Bit-exactness contract: every field reproduces the legacy Column-chain
  * formulation EXACTLY — same single-space tokenizer (split on ' ' then
  * drop empties), same md5-prefix 60-bit hash (first 15 hex chars, i.e.
  * first 8 big-endian bytes >>> 4), same fold orders, same integer
  * arithmetic. The HOF chains survive only as test witnesses
  * (`graft.Witness`), and the specs assert equality on the
  * real corpus plus adversarial synthetics; the DuckDB oracles are
  * unchanged and keep hash-matching.
  */
object TextNative {

  def stats(text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(TextStats(ColumnBridge.expression(text), stopwords))

  def tokens(text: Column): Column =
    ColumnBridge.column(Tokens(ColumnBridge.expression(text)))

  def wordNgramHashes(text: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(
      WordNgramHashes(ColumnBridge.expression(text), n, distinct))

  def minhashSig(text: Column, shingleN: Int, nHashes: Int): Column =
    ColumnBridge.column(
      MinhashSig(ColumnBridge.expression(text), shingleN, nHashes))

  def hashModP(arr: Column): Column =
    ColumnBridge.column(HashModP(ColumnBridge.expression(arr)))

  def minhashFromHashes(arr: Column, nHashes: Int): Column =
    ColumnBridge.column(
      MinhashFromHashes(ColumnBridge.expression(arr), nHashes))

  def termFreqs(text: Column, terms: Seq[String]): Column =
    ColumnBridge.column(TermFreqs(ColumnBridge.expression(text), terms))

  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectSize(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def docTermFreqs(text: Column): Column =
    ColumnBridge.column(DocTermFreqs(ColumnBridge.expression(text)))

  def normalizeFp(text: Column): Column =
    ColumnBridge.column(NormalizeFp(ColumnBridge.expression(text)))
}

/** Per-document term frequencies in ONE pass: struct(dl, tfs) where `tfs`
  * is array<struct<term, tf>> over the document's distinct tokens in
  * first-occurrence order (deterministic). This is the map-side half of an
  * inverted-index build: `explode(tfs)` yields exactly the rows that
  * `explode(tokens) → groupBy(doc_id, term) → count` yields, WITHOUT the
  * wide shuffle — tf aggregation happens inside the row, so the only
  * shuffle left in [[graft.operators.TextIndex]]'s postings build is the
  * bucket repartition. Same tokenizer as [[Tokens]]; Σtf == dl by
  * construction (asserted in TextNativeSpec against the groupBy witness).
  */
case class DocTermFreqs(child: Expression) extends UnaryExpression {

  override def prettyName: String = "doc_term_freqs"
  override def dataType: DataType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("tfs", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false))), containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"doc_term_freqs needs string, got $other")
  }

  def compute(input: UTF8String): InternalRow = {
    val toks = TextKernel.tokenize(input.toString)
    val counts = new java.util.LinkedHashMap[String, Array[Int]]()
    var i = 0
    while (i < toks.size) {
      val c = counts.get(toks.get(i))
      if (c == null) counts.put(toks.get(i), Array(1)) else c(0) += 1
      i += 1
    }
    val rows = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      rows(j) = new GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue()(0)))
      j += 1
    }
    new GenericInternalRow(Array[Any](toks.size, new GenericArrayData(rows)))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("docTermFreqs", this, classOf[DocTermFreqs].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): DocTermFreqs =
    copy(child = newChild)
}

/** |a ∩ b| for two SORTED string sets (ascending, distinct — exactly the
  * `sort_array(array_distinct(...))` class keys): one merge walk, no
  * per-row hash table, no materialized intersection array —
  * == `size(array_intersect(a, b))` on that input class (witnessed in
  * TextNativeSpec; the Jaccard class stage runs millions of these per
  * query). Binary comparison (UTF8String ordering) matches both
  * sort_array's ordering and array_intersect's equality.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "sorted_intersect_size"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_size needs two array<string>, got $other")
    }

  def compute(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("sortedIsect", this,
        classOf[SortedIntersectSize].getName)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Document length + per-term occurrence counts in one pass —
  * struct<dl:int, tf:array<int>> with tf(i) = occurrences of terms(i).
  * == `size(tokens)` and `size(filter(tokens, _ === term))` per term; the
  * BM25 scorer reads every field from one kernel call.
  */
case class TermFreqs(child: Expression, terms: Seq[String])
    extends UnaryExpression {
  require(terms.nonEmpty, "terms must be non-empty")
  // the term→slot map is one slot per term: a duplicate term would
  // silently leave its earlier slot at tf=0 while the pivot paths count
  // it — fail loudly here; callers dedupe at their entry points
  require(terms.distinct.size == terms.size,
    s"term_freqs terms must be distinct, got $terms")

  override def prettyName: String = "term_freqs"
  override def dataType: DataType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("tf", ArrayType(IntegerType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"term_freqs needs string, got $other")
  }

  private val index: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    terms.zipWithIndex.foreach { case (t, i) => m.put(t, i) }
    m
  }

  def compute(input: UTF8String): InternalRow = {
    val toks = TextKernel.tokenize(input.toString)
    val tf = new Array[Int](terms.size)
    var i = 0
    while (i < toks.size) {
      val idx = index.get(toks.get(i))
      if (idx != null) tf(idx.intValue()) += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](toks.size, ArrayData.toArrayData(tf)))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("termFreqs", this, classOf[TermFreqs].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): TermFreqs =
    copy(child = newChild)
}

/** Shared per-row computation. All methods are called from generated code —
  * keep signatures Java-friendly (UTF8String / ArrayData in, ArrayData /
  * InternalRow out).
  */
object TextKernel {
  final val P: Long = 2147483647L // 2^31 − 1, the universal-hash modulus

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Single-entry per-thread memo for [[TextStats]]: the quality operators
    * reference the same stats struct from several CASE WHEN branches, and
    * whole-stage subexpression elimination does NOT extract common
    * subtrees that only occur under conditional branches — the generated
    * code calls compute() once per reference (9× measured for
    * qualityScore). The struct is a pure function of (text, stopwords),
    * so consecutive calls with byte-equal input return the cached row.
    * The key is CLONED: column readers reuse buffers across rows, and a
    * stored view could silently mutate into the next row's bytes.
    */
  private val statsMemo = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](3)
  }

  def memoGet(input: UTF8String, stopwords: AnyRef): InternalRow = {
    val m = statsMemo.get()
    val k = m(0).asInstanceOf[UTF8String]
    if (k != null && m(1) == stopwords && k.equals(input))
      m(2).asInstanceOf[InternalRow]
    else null
  }

  def memoPut(input: UTF8String, stopwords: AnyRef, row: InternalRow): Unit = {
    val m = statsMemo.get()
    m(0) = input.clone()
    m(1) = stopwords
    m(2) = row
  }

  /** Same (aᵢ, bᵢ) as `Dedup.hashParams` (which delegates here). */
  def hashParams(n: Int): Seq[(Long, Long)] =
    (0 until n).map { i =>
      val a = (1103515245L * (i + 1) + 12345L) % P
      val b = (1103515245L * (i + 101) + 54321L) % P
      (if (a == 0) 1L else a, b)
    }

  /** == `conv(substring(md5(s), 1, 15), 16, 10)`: the first 15 hex chars of
    * the md5 are the first 60 bits = first 8 big-endian bytes >>> 4.
    */
  def hash60(s: String): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val top =
      ((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) | ((h(2) & 0xffL) << 40) |
        ((h(3) & 0xffL) << 32) | ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
        ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
    top >>> 4
  }

  /** [[hash60]] over a byte slice that is already valid UTF-8 (callers
    * pass pure-ASCII token bytes) — skips the String round-trip.
    */
  def hash60Bytes(arr: Array[Byte], off: Int, len: Int): Long = {
    val d = md.get()
    d.reset()
    d.update(arr, off, len)
    val h = d.digest()
    val top =
      ((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) | ((h(2) & 0xffL) << 40) |
        ((h(3) & 0xffL) << 32) | ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
        ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
    top >>> 4
  }

  /** == `filter(split(text, " "), t => t =!= "")`: split on single spaces,
    * drop empties, order preserved.
    */
  def tokenize(text: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    var start = 0
    val len = text.length
    var i = 0
    while (i < len) {
      if (text.charAt(i) == ' ') {
        if (i > start) out.add(text.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    if (len > start) out.add(text.substring(start, len))
    out
  }

  /** n-gram strings (tokens joined by ' '), order preserved; empty when
    * fewer than n tokens — mirrors `TextHash.wordNgrams`.
    */
  def ngrams(toks: java.util.ArrayList[String], n: Int): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    val m = toks.size - n + 1
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(toks.get(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks.get(i + k)); k += 1 }
      out.add(sb.toString)
      i += 1
    }
    out
  }
}

/** One compiled pass over a document, returning every scalar the
  * quality / repetition / fingerprint / simhash operators need. All fields
  * are exact integers; ratios stay in Column land so their single IEEE
  * division (and null semantics via the legacy when/otherwise wrappers)
  * are untouched.
  */
case class TextStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def prettyName: String = "text_stats"

  override def dataType: DataType = TextStats.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"text_stats needs string, got $other")
  }

  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  def compute(input: UTF8String): InternalRow = {
    val cached = TextKernel.memoGet(input, stopwords)
    if (cached != null) return cached
    val text = input.toString
    val toks = TextKernel.tokenize(text)
    val nTok = toks.size

    // character census over the whole text (code points, like length())
    var nChars = 0
    var alnum = 0
    var ci = 0
    while (ci < text.length) {
      val cp = text.codePointAt(ci)
      nChars += 1
      if ((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') || cp == ' ')
        alnum += 1
      ci += Character.charCount(cp)
    }

    var charSum = 0L
    var nAlpha = 0
    var nStop = 0
    var fingerprint = 0L
    val fpP = 2147483647L
    val votes = new Array[Int](60)
    val distinct = new java.util.HashSet[String]()
    var ti = 0
    while (ti < nTok) {
      val t = toks.get(ti)
      charSum += t.codePointCount(0, t.length)
      var alpha = true
      var k = 0
      while (alpha && k < t.length) {
        val c = t.charAt(k)
        if (c < 'a' || c > 'z') alpha = false
        k += 1
      }
      if (alpha) nAlpha += 1
      if (stopSet.contains(t)) nStop += 1
      distinct.add(t)
      val h = TextKernel.hash60(t)
      fingerprint = (fingerprint * 31L + h % fpP) % fpP
      var b = 0
      while (b < 60) {
        votes(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      ti += 1
    }
    var simhash = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) * 2 > nTok) simhash |= (1L << b)
      b += 1
    }

    def repStats(n: Int): (Int, Int) =
      if (nTok < n) (0, 0)
      else {
        val total = nTok - n + 1
        val seen = new java.util.HashSet[String]()
        val gs = TextKernel.ngrams(toks, n)
        var i = 0
        while (i < total) { seen.add(gs.get(i)); i += 1 }
        (total, seen.size)
      }
    val (r2t, r2d) = repStats(2)
    val (r3t, r3d) = repStats(3)

    val row = new GenericInternalRow(Array[Any](
      nTok, nChars, alnum, charSum, nAlpha, distinct.size, nStop,
      r2t, r2d, r3t, r3d, fingerprint, simhash))
    TextKernel.memoPut(input, stopwords, row)
    row
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("textStats", this, classOf[TextStats].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("alnum_chars", IntegerType, nullable = false),
    StructField("char_sum", LongType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("rep2_total", IntegerType, nullable = false),
    StructField("rep2_distinct", IntegerType, nullable = false),
    StructField("rep3_total", IntegerType, nullable = false),
    StructField("rep3_distinct", IntegerType, nullable = false),
    StructField("fingerprint", LongType, nullable = false),
    StructField("simhash", LongType, nullable = false)))
}

/** == `filter(split(text, " "), t => t =!= "")` as one compiled pass. */
case class Tokens(child: Expression) extends UnaryExpression {
  override def prettyName: String = "tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"tokens needs string, got $other")
  }

  def compute(input: UTF8String): ArrayData = {
    val toks = TextKernel.tokenize(input.toString)
    val out = new Array[Any](toks.size)
    var i = 0
    while (i < toks.size) { out(i) = UTF8String.fromString(toks.get(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("tokens", this, classOf[Tokens].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

/** 60-bit md5-prefix hashes of the word n-grams of `text` —
  * == `transform([array_distinct(]wordNgrams(tokens(text), n)[)], tokenHash)`.
  * `distinct` dedupes GRAM STRINGS first (array_distinct order: first
  * occurrence), exactly like the legacy chain, so a (vanishingly unlikely)
  * hash collision still yields the same array as the witness.
  */
case class WordNgramHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def prettyName: String = "word_ngram_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // n = 1 mirrors transform(tokens(null)) = null; n ≥ 2 mirrors the
  // wordNgrams when/otherwise guard, whose null condition falls through to
  // the EMPTY-array branch.
  override def nullable: Boolean = n == 1 && child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"word_ngram_hashes needs string, got $other")
  }

  private lazy val emptyArr: ArrayData = ArrayData.toArrayData(Array.emptyLongArray)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) { if (n == 1) null else emptyArr }
    else compute(v.asInstanceOf[UTF8String])
  }

  def compute(input: UTF8String): ArrayData = {
    val toks = TextKernel.tokenize(input.toString)
    val grams =
      if (n == 1) toks
      else if (toks.size < n) new java.util.ArrayList[String]()
      else TextKernel.ngrams(toks, n)
    val src: java.util.Collection[String] =
      if (distinct) new java.util.LinkedHashSet[String](grams) else grams
    val out = new Array[Long](src.size)
    var i = 0
    val it = src.iterator()
    while (it.hasNext) { out(i) = TextKernel.hash60(it.next()); i += 1 }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (n == 1)
      nullSafeCodeGen(ctx, ev, input => {
        val ref =
          ctx.addReferenceObj("ngramHashes", this, classOf[WordNgramHashes].getName)
        s"${ev.value} = $ref.compute($input);"
      })
    else {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val childGen = child.genCode(ctx)
      val ref =
        ctx.addReferenceObj("ngramHashes", this, classOf[WordNgramHashes].getName)
      val arrCls = classOf[ArrayData].getName
      ev.copy(
        code = code"""
          |${childGen.code}
          |$arrCls ${ev.value} = ${childGen.isNull}
          |  ? $ref.emptyArray()
          |  : $ref.compute(${childGen.value});
          |""".stripMargin,
        isNull = FalseLiteral)
    }

  def emptyArray(): ArrayData = emptyArr

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)
}

/** Full MinHash signature in one pass: distinct word `shingleN`-grams,
  * h = hash60(gram) mod P, sig(i) = min over grams of (aᵢ·h + bᵢ) mod P.
  * NULL when the document has no shingles (mirrors `array_min([]) = null`
  * → all-null mh columns in the legacy chain).
  */
case class MinhashSig(child: Expression, shingleN: Int, nHashes: Int)
    extends UnaryExpression {
  require(shingleN >= 1 && nHashes >= 1)

  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"minhash_sig needs string, got $other")
  }

  private val paramA: Array[Long] = TextKernel.hashParams(nHashes).map(_._1).toArray
  private val paramB: Array[Long] = TextKernel.hashParams(nHashes).map(_._2).toArray

  def compute(input: UTF8String): ArrayData = {
    val toks = TextKernel.tokenize(input.toString)
    val grams =
      if (shingleN == 1) new java.util.LinkedHashSet[String](toks)
      else if (toks.size < shingleN) new java.util.LinkedHashSet[String]()
      else new java.util.LinkedHashSet[String](TextKernel.ngrams(toks, shingleN))
    if (grams.isEmpty) return null
    val mins = new Array[Long](nHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val it = grams.iterator()
    while (it.hasNext) {
      val h = TextKernel.hash60(it.next()) % TextKernel.P
      var i = 0
      while (i < nHashes) {
        val v = (paramA(i) * h + paramB(i)) % TextKernel.P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    ArrayData.toArrayData(mins)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinhashSig].getName)
      s"""
         |${ev.value} = $ref.compute($input);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** array<string> → array<long>: hash60(s) mod P per element, order kept —
  * == `transform(arr, t => tokenHash(t) % P)`.
  */
case class HashModP(child: Expression) extends UnaryExpression {
  override def prettyName: String = "hash_mod_p"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"hash_mod_p needs array<string>, got $other")
  }

  def compute(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = TextKernel.hash60(input.getUTF8String(i).toString) % TextKernel.P
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("hashModP", this, classOf[HashModP].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): HashModP =
    copy(child = newChild)
}

/** array<long> of reduced hashes → the n minhash values in one pass —
  * == `array_min(transform(hs, h => (aᵢ·h + bᵢ) % P))` per i. NULL for an
  * empty input array (array_min of empty is null).
  */
case class MinhashFromHashes(child: Expression, nHashes: Int)
    extends UnaryExpression {
  require(nHashes >= 1)

  override def prettyName: String = "minhash_from_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_from_hashes needs array<long>, got $other")
  }

  private val paramA: Array[Long] = TextKernel.hashParams(nHashes).map(_._1).toArray
  private val paramB: Array[Long] = TextKernel.hashParams(nHashes).map(_._2).toArray

  def compute(input: ArrayData): ArrayData = {
    val n = input.numElements()
    if (n == 0) return null
    val mins = new Array[Long](nHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = input.getLong(j)
      var i = 0
      while (i < nHashes) {
        val v = (paramA(i) * h + paramB(i)) % TextKernel.P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    ArrayData.toArrayData(mins)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("minhashFrom", this,
        classOf[MinhashFromHashes].getName)
      s"""
         |${ev.value} = $ref.compute($input);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashFromHashes =
    copy(child = newChild)
}

/** One-pass char-bigram LM scorer — the native kernel behind
  * [[graft.operators.TextOps.scoreCharLm]]: a single code-point walk per
  * document (lowercase once, classify, accumulate the model's log-prob
  * in DOCUMENT ORDER — the same left fold the HOF witness and the DuckDB
  * oracle run), replacing the split("")→transform→slice→zip_with→
  * aggregate chain whose per-character array allocations dominated at
  * scale (48.9 s → see BASELINE round-9 for the measured win at sf1).
  * The 1444-slot model lives in the expression object (addReferenceObj
  * — a pointer in the plan, not a 12 KB literal). Returns
  * struct(n_bigrams BIGINT, nll DOUBLE — null below 2 chars).
  */
case class CharLmScore(child: Expression, model: Array[Double])
    extends UnaryExpression {

  override def prettyName: String = "charlm_score"

  override def dataType: DataType = CharLmScore.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"charlm_score needs string, got $other")
  }

  require(model.length == 38 * 38,
    s"charlm_score model must have 1444 slots, got ${model.length}")

  def compute(input: UTF8String): InternalRow = {
    // UTF8String.toLowerCase == the column path's lower(); iterate code
    // points like the HOF's split("") does — non-ASCII lands in class 0
    // on both paths (codepoint >= 128 here, negative first byte there)
    val text = input.toLowerCase.toString
    var prev = -1
    var n = 0L
    var acc = 0.0
    var ci = 0
    while (ci < text.length) {
      val cp = text.codePointAt(ci)
      val cls =
        if (cp >= 'a' && cp <= 'z') cp - 'a' + 1
        else if (cp >= '0' && cp <= '9') cp - '0' + 27
        else if (cp == ' ') 37
        else 0
      if (prev >= 0) { acc += model(prev * 38 + cls); n += 1 }
      prev = cls
      ci += Character.charCount(cp)
    }
    if (n == 0L) new GenericInternalRow(Array[Any](0L, null))
    else new GenericInternalRow(Array[Any](n, -acc / n))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("charLmScore", this,
        classOf[CharLmScore].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): CharLmScore =
    copy(child = newChild)

  // Array fields break case-class equality (reference compare) — spell
  // out value semantics so expression canonicalization/dedup still works
  override def equals(other: Any): Boolean = other match {
    case c: CharLmScore =>
      child == c.child && java.util.Arrays.equals(model, c.model)
    case _ => false
  }

  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(model)
}

object CharLmScore {
  val schema: StructType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("nll", DoubleType, nullable = true)))
}

/** The training-side companion of [[CharLmScore]]: the document's bigram
  * slot ids (prev·38 + next) in document order, from the same one-pass
  * code-point walk — feeds the char-LM training explode without the
  * split("")→transform→slice→zip_with chain. Bit-equal to
  * the HOF slot chain `graft.Witness.lmSlots` (asserted in DedupSpec).
  */
case class CharLmSlots(child: Expression) extends UnaryExpression {

  override def prettyName: String = "charlm_slots"

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"charlm_slots needs string, got $other")
  }

  def compute(input: UTF8String): ArrayData = {
    val text = input.toLowerCase.toString
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var prev = -1
    var ci = 0
    while (ci < text.length) {
      val cp = text.codePointAt(ci)
      val cls =
        if (cp >= 'a' && cp <= 'z') cp - 'a' + 1
        else if (cp >= '0' && cp <= '9') cp - '0' + 27
        else if (cp == ' ') 37
        else 0
      if (prev >= 0) out += prev * 38 + cls
      prev = cls
      ci += Character.charCount(cp)
    }
    ArrayData.toArrayData(out.result())
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("charLmSlots", this,
        classOf[CharLmSlots].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): CharLmSlots =
    copy(child = newChild)
}

/** One-walk normalized fingerprint: struct(norm_text, fp) where
  * `norm_text` == `trim(regexp_replace(regexp_replace(lower(text),
  * '[^a-z0-9 ]', ' '), ' +', ' '))` and `fp` is the rolling token-hash
  * fingerprint of that normalized text ([[TextStats]]'s fold: h :=
  * (h*31 + hash60(tok) mod P) mod P).
  *
  * Why: the x5 shape paid TWO regex passes over every document (java
  * regex allocates a fresh string per pass) plus a FULL [[TextStats]]
  * walk over the normalized copy — simhash votes, n-gram sets and a
  * distinct set per token — to extract one long. This kernel does
  * lowercase + strip + collapse + tokenize + hash in a single byte walk
  * with one output buffer (measured 4.2x on the sf10 corpus).
  *
  * Byte-walk equivalence to the regex chain (bit-exact, witnessed in
  * TextNativeSpec): both start from the SAME `UTF8String.toLowerCase`
  * (the `lower()` expression's own kernel). After lowercasing, a kept
  * character is exactly ASCII [a-z0-9] — one byte in UTF-8, one code
  * unit in UTF-16 — and EVERY other character (however many bytes) is
  * replaced by a space, after which ' +'-collapse merges adjacent
  * spaces and trim drops the ends. So "each non-kept CHAR becomes one
  * space, runs collapse" and "each non-kept BYTE is a separator, runs
  * collapse" produce identical strings: any run of non-kept bytes —
  * whether one multi-byte char or many chars — yields exactly one
  * inter-token space, none leading or trailing.
  */
case class NormalizeFp(child: Expression) extends UnaryExpression {

  override def prettyName: String = "normalize_fp"

  override def dataType: DataType = NormalizeFp.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"normalize_fp needs string, got $other")
  }

  def compute(input: UTF8String): InternalRow = {
    val lower = input.toLowerCase
    val b = lower.getBytes
    val nb = b.length
    val out = new Array[Byte](nb)
    var o = 0
    var fp = 0L
    var tokStart = -1      // start of the open token in `out`, -1 = none
    var pendingSep = false // a token has closed; next token gets ' ' first
    var i = 0
    while (i < nb) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (tokStart < 0) {
          if (pendingSep) { out(o) = ' '; o += 1 }
          tokStart = o
        }
        out(o) = c; o += 1
      } else if (tokStart >= 0) {
        val h = TextKernel.hash60Bytes(out, tokStart, o - tokStart)
        fp = (fp * 31L + h % TextKernel.P) % TextKernel.P
        tokStart = -1
        pendingSep = true
      }
      i += 1
    }
    if (tokStart >= 0) {
      val h = TextKernel.hash60Bytes(out, tokStart, o - tokStart)
      fp = (fp * 31L + h % TextKernel.P) % TextKernel.P
    }
    new GenericInternalRow(
      Array[Any](UTF8String.fromBytes(out, 0, o), fp))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("normalizeFp", this,
        classOf[NormalizeFp].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): NormalizeFp =
    copy(child = newChild)
}

object NormalizeFp {
  val schema: StructType = StructType(Seq(
    StructField("norm_text", StringType, nullable = false),
    StructField("fp", LongType, nullable = false)))
}
