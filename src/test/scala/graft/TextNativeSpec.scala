package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextNative}
import graft.operators.{Dedup, TextOps}

/** Bit-equality witnesses for the native text kernels
  * ([[graft.functions.TextNative]]): every kernel must reproduce the legacy
  * higher-order-function chain EXACTLY — on the real corpus fixture AND on
  * adversarial synthetics (null, empty, single/multi-space runs, unicode
  * incl. surrogate pairs, token counts straddling every shingle guard).
  * The same discipline as LshBucket/PqEncode vs their Column witnesses.
  */
class TextNativeSpec extends SparkSpec {
  import spark.implicits._

  /** Adversarial fixture rows + the real sf0.001 documents. */
  private lazy val fixtures: DataFrame = {
    val synth = Seq(
      (1001L, null.asInstanceOf[String]),
      (1002L, ""),
      (1003L, " "),
      (1004L, "   "),
      (1005L, "a"),
      (1006L, "a b"),
      (1007L, "a b c"),
      (1008L, "  leading and   trailing  "),
      (1009L, "the the the the the"),
      (1010L, "héllo wörld © déjà-vu"),
      (1011L, "é 𝄞 music 𝄞"), // surrogate pair
      (1012L, "one-token"),
      (1013L, "the a an of to in is and"),
      (1014L, "THE UPPER CASE TEXT"),
      (1015L, "tabs\tand\nnewlines stay intact"),
      (1016L, "x y x y x y x y"),
      (1017L, (1 to 60).map(i => s"w${i % 7}").mkString(" ")),
      (1018L, "123 456 a1b2 999")
    ).toDF("doc_id", "text")
    val real = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    synth.unionByName(real)
  }

  private def assertColsEqual(df: DataFrame, name: String): Unit = {
    val bad = df.filter(!(col("a") <=> col("b"))).limit(5).collect()
    assert(bad.isEmpty,
      s"$name: native != witness for ${bad.mkString("; ")}")
  }

  test("TextStats scalars equal the legacy HOF chains field by field") {
    // the native 60-bit simhash word masked to `bits`, as Dedup.simhash and
    // Dedup.withSignatures compute it
    def simhash(bits: Int) =
      Dedup.simhashBits(TextNative.stats(col("text"), TextOps.EnStopwords), bits)
    val checks: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = Seq(
      ("tokenCount", TextOps.tokenCount(col("text")), Witness.tokenCount(col("text"))),
      ("stopwordRatio", TextOps.stopwordRatio(col("text")), Witness.stopwordRatio(col("text"))),
      ("qualityScore", TextOps.qualityScore(col("text")), Witness.qualityScore(col("text"))),
      ("fingerprint", TextOps.fingerprint(col("text")), Witness.fingerprint(col("text"))),
      ("rep2", TextOps.repeatedNgramRatio(col("text"), 2), Witness.repeatedNgramRatio(col("text"), 2)),
      ("rep3", TextOps.repeatedNgramRatio(col("text"), 3), Witness.repeatedNgramRatio(col("text"), 3)),
      ("meanWordLength", TextOps.meanWordLength(col("text")), Witness.meanWordLength(col("text"))),
      ("symbolRatio", TextOps.symbolRatio(col("text")), Witness.symbolRatio(col("text"))),
      ("simhash1", simhash(1), Witness.simhash(col("text"), 1)),
      ("simhash16", simhash(16), Witness.simhash(col("text"), 16)),
      ("simhash59", simhash(59), Witness.simhash(col("text"), 59)),
      ("simhash60", simhash(60), Witness.simhash(col("text"))),
      ("langId", TextOps.langId(col("text")), when(Witness.stopwordRatio(col("text")) >= 0.05,
        lit("en")).otherwise(lit("unk")))
    )
    checks.foreach { case (name, native, witness) =>
      assertColsEqual(
        fixtures.select(col("doc_id"), native.as("a"), witness.as("b")), name)
    }
    // the one-pass kernel counts 2- and 3-grams only; other n are refused
    intercept[IllegalArgumentException](TextOps.repeatedNgramRatio(col("text"), 4))
  }

  test("Tokens equals filter(split) incl. order") {
    assertColsEqual(fixtures.select(col("doc_id"),
      TextNative.tokens(col("text")).as("a"),
      TextHash.tokens(col("text")).as("b")), "tokens")
  }

  test("WordNgramHashes equals the wordNgrams+tokenHash chain, both modes") {
    for (n <- Seq(1, 2, 3, 5); dist <- Seq(true, false)) {
      val grams = TextHash.wordNgrams(TextHash.tokens(col("text")), n)
      val base = if (dist) array_distinct(grams) else grams
      val witness = transform(base, g => TextHash.tokenHash(g))
      assertColsEqual(fixtures.select(col("doc_id"),
        TextNative.wordNgramHashes(col("text"), n, dist).as("a"),
        witness.as("b")), s"ngramHashes(n=$n, distinct=$dist)")
    }
  }

  test("MinhashSig equals the tokens/shingle/minhashCol chain") {
    for (shingleN <- Seq(1, 3)) {
      val hs = transform(
        array_distinct(TextHash.wordNgrams(TextHash.tokens(col("text")), shingleN)),
        t => TextHash.tokenHash(t) % lit(Dedup.P))
      val witness = array(Dedup.hashParams(16).map { case (a, b) =>
        Dedup.minhashCol(hs, a, b)
      }: _*)
      // legacy array_min([]) = null PER ELEMENT; native returns a NULL array
      // there — compare element-wise through the null-array collapse
      val native = TextNative.minhashSig(col("text"), shingleN, 16)
      val a = when(native.isNull, array((0 until 16).map(_ =>
        lit(null).cast("long")): _*)).otherwise(native)
      assertColsEqual(fixtures.select(col("doc_id"), a.as("a"), witness.as("b")),
        s"minhashSig(shingleN=$shingleN)")
    }
  }

  test("HashModP / MinhashFromHashes equal their HOF forms") {
    val ts = sort_array(array_distinct(TextNative.tokens(col("text"))))
    assertColsEqual(fixtures.select(col("doc_id"),
      TextNative.hashModP(ts).as("a"),
      transform(ts, t => TextHash.tokenHash(t) % lit(Dedup.P)).as("b")),
      "hashModP")
    val hs = TextNative.hashModP(ts)
    val witness = array(Dedup.hashParams(16).map { case (a, b) =>
      Dedup.minhashCol(hs, a, b)
    }: _*)
    val native = TextNative.minhashFromHashes(hs, 16)
    val a = when(native.isNull, array((0 until 16).map(_ =>
      lit(null).cast("long")): _*)).otherwise(native)
    assertColsEqual(fixtures.select(col("doc_id"), a.as("a"), witness.as("b")),
      "minhashFromHashes")
  }

  test("chunkByTokens: overlap coverage, budget boundary, empty docs") {
    val docs = Seq(
      // 100 toks @ 40/8 → stride 32 → 1 + ceil(60/32) = 3 chunks
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"t$i").mkString(" ")),  // exactly the budget → 1
      (3L, "one two"),                                  // tiny → 1
      (4L, "")                                          // empty → none
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.chunkByTokens(
        docs, col("text"), col("doc_id"), maxTokens = 40, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).length == 3 && !byDoc.contains(4L))
    assert(byDoc(2L).length == 1 && byDoc(3L).head._3 == 2)
    // consecutive chunks of doc 1 share exactly `overlap` tokens
    val c = byDoc(1L).sortBy(_._2).map(_._4.split(" ").toSeq).toSeq
    c.sliding(2).foreach { w =>
      assert(w(0).takeRight(8) == w(1).take(8))
    }
    // every token covered in order: stitching de-overlapped chunks = doc
    val stitched = c.head ++ c.tail.flatMap(_.drop(8))
    assert(stitched == (1 to 100).map(i => s"t$i"))
  }

  test("NormalizeFp equals the normalizeText+fingerprint chain field by " +
      "field, incl. unicode lowercase specials") {
    val extra = Seq(
      (2001L, "Kelvin K sign"),      // U+212A lowercases to ASCII 'k'
      (2002L, "Turkish İ dotted I"), // expands to 'i' + combining dot
      (2003L, "punct!!!only???"),
      (2004L, "ALL CAPS 123 mixed-Case_Text"),
      (2005L, "ß sharp Ω ohm") // ß stays, Ω lowers to ω → space
    ).toDF("doc_id", "text")
    val df = fixtures.unionByName(extra)
    val nf = TextOps.normalizedFingerprint(col("text"))
    assertColsEqual(df.select(
      nf.getField("norm_text").as("a"),
      TextOps.normalizeText(col("text")).as("b")), "NormalizeFp.norm_text")
    assertColsEqual(df.select(
      nf.getField("fp").as("a"),
      TextOps.fingerprint(TextOps.normalizeText(col("text"))).as("b")),
      "NormalizeFp.fp")
  }

  test("property fuzz: kernels equal witnesses on random spacey strings") {
    import org.scalacheck.{Gen, rng}
    val alpha = Gen.frequency(
      (6, Gen.alphaLowerChar), (3, Gen.const(' ')), (1, Gen.oneOf('0', '9', 'é', '.')))
    val gen = Gen.chooseNum(0, 80).flatMap(n => Gen.stringOfN(n, alpha))
    val params = Gen.Parameters.default
    val strs = (0 until 300).flatMap(i =>
      gen.apply(params, rng.Seed(42L + i))) :+ "" :+ " " :+ "a  b"
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val checks = Seq(
      ("fp", TextOps.fingerprint(col("text")), Witness.fingerprint(col("text"))),
      ("rep2", TextOps.repeatedNgramRatio(col("text"), 2),
        Witness.repeatedNgramRatio(col("text"), 2)),
      ("mwl", TextOps.meanWordLength(col("text")), Witness.meanWordLength(col("text"))),
      ("sym", TextOps.symbolRatio(col("text")), Witness.symbolRatio(col("text"))),
      ("q", TextOps.qualityScore(col("text")), Witness.qualityScore(col("text"))))
    checks.foreach { case (name, a, b) =>
      assertColsEqual(df.select(col("doc_id"), a.as("a"), b.as("b")), s"fuzz-$name")
    }
  }

  test("langIdMulti identifies planted languages, unk below threshold, en-first ties") {
    val planted = Seq(
      (1L, "der hund ist nicht mit dem ball und das ist gut"),
      (2L, "le chat est dans la maison et je ne sais pas"),
      (3L, "el perro es muy grande y no come por la noche que"),
      (4L, "the cat is in the house and it is happy"),
      (5L, "zzz qqq www rrr ttt"),
      (6L, "") // empty -> all ratios 0 -> unk
    ).toDF("doc_id", "text")
    val out = planted.select(col("doc_id"),
        graft.operators.TextOps.langIdMulti(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "de", 2L -> "fr", 3L -> "es", 4L -> "en",
      5L -> "unk", 6L -> "unk"))
  }

  test("SortedIntersectSize equals size(array_intersect) on sorted sets") {
    val pairs = fixtures.as("a").crossJoin(fixtures.limit(8).as("b"))
      .select(
        sort_array(array_distinct(TextNative.tokens(col("a.text")))).as("__ta"),
        sort_array(array_distinct(TextNative.tokens(col("b.text")))).as("__tb"))
    assertColsEqual(pairs.select(lit(0L).as("doc_id"),
      TextNative.sortedIntersectSize(col("__ta"), col("__tb")).as("a"),
      size(array_intersect(col("__ta"), col("__tb"))).as("b")),
      "sortedIntersectSize")
  }

  test("filterVerdict equals the witness-composed CASE chain") {
    val witnessVerdict = {
      val n = Witness.tokenCount(col("text"))
      val mwl = Witness.meanWordLength(col("text"))
      when(n < 20, lit("too_short"))
        .when(n > 90, lit("too_long"))
        .when(Witness.symbolRatio(col("text")) > 0.1, lit("symbols"))
        .when(mwl < 4.3 || mwl > 4.7, lit("word_length"))
        .when(Witness.repeatedNgramRatio(col("text"), 2) > 0.05, lit("repetitive"))
        .when(Witness.stopwordRatio(col("text")) === 0.0, lit("no_stopwords"))
        .otherwise(lit("keep"))
    }
    assertColsEqual(fixtures.select(col("doc_id"),
      TextOps.filterVerdict(col("text")).as("a"), witnessVerdict.as("b")),
      "filterVerdict")
  }
  test("DocTermFreqs equals explode+groupBy postings; dl == sum(tf)") {
    // witness: the pre-round-7 shuffle formulation, row set equality
    val docs = fixtures.filter(col("text").isNotNull)
    val native = docs
      .select(col("doc_id"), TextNative.docTermFreqs(col("text")).as("r"))
      .select(col("doc_id"), col("r.dl").as("dl"), explode(col("r.tfs")).as("p"))
      .select(col("doc_id"), col("dl"), col("p.term").as("term"), col("p.tf").as("tf"))
    val witness = docs
      .select(col("doc_id"), TextNative.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("dl"), explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("int").as("tf"))
    assert(native.exceptAll(witness).isEmpty && witness.exceptAll(native).isEmpty,
      "posting rows must be identical to the explode+groupBy form")
    // dl is the total token count, not the distinct-term count
    val bad = native.groupBy("doc_id", "dl").agg(sum("tf").as("s"))
      .filter(col("s") =!= col("dl")).collect()
    assert(bad.isEmpty, s"sum(tf) != dl for ${bad.mkString(",")}")
    // empty/whitespace docs: dl = 0, no postings
    val empties = docs.filter(col("doc_id").isin(1002L, 1003L, 1004L))
      .select(TextNative.docTermFreqs(col("text")).as("r"))
      .select(col("r.dl"), size(col("r.tfs")).as("nt")).collect()
    assert(empties.forall(r => r.getInt(0) == 0 && r.getInt(1) == 0))
    // first-occurrence order is deterministic
    val ord = docs.filter(col("doc_id") === 1016L)
      .select(TextNative.docTermFreqs(col("text")).as("r"))
      .selectExpr("transform(r.tfs, p -> p.term)").collect()(0).getSeq[String](0)
    assert(ord == Seq("x", "y"))
  }
}

