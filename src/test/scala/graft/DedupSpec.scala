package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}

/** Planted-duplicate tests: the testdata corpus has no true near-dups at
  * 3-gram granularity, so detection power is proven here on fixtures.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the hills tonight"
  // near-dup: one word changed; distinct: unrelated text
  private lazy val docs = Seq(
    (1L, base),
    (2L, base.replace("lazy", "sleepy")),
    (3L, "completely different content about spark query engines and columnar execution plans"),
    (4L, base) // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups exact duplicates only") {
    val g = Dedup.exactDedupGroups(docs, col("text"), col("doc_id")).collect()
    assert(g.length == 3)
    val dupGroup = g.find(_.getLong(1) == 2).get
    assert(dupGroup.getLong(2) == 1L) // keeper = min id
  }

  test("minhash LSH finds the near-dup pair, not the unrelated doc") {
    val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 16, 3)
    val pairs = Dedup.lshCandidatePairs(sig, 4, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // exact pair (1,4) shares all 16; near pair (1,2)/(2,4) shares most
    assert(pairs.exists(p => p._1 == 1 && p._2 == 4 && p._3 == 16))
    assert(pairs.exists(p => p._1 == 1 && p._2 == 2 && p._3 >= 8))
    assert(!pairs.exists(p => p._2 == 3 || p._1 == 3))
  }

  test("simhash of near-dups is closer than unrelated docs") {
    val sh = Dedup.simhash(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1) == sh(4))
    assert(ham(sh(1), sh(2)) < ham(sh(1), sh(3)))
    assert(ham(sh(1), sh(2)) <= 20) // one word of 17 changed, 60-bit hash
  }

  test("jaccard on LSH candidates finds the same near-dups without blocking") {
    val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 16, 1)
    val cands = Dedup.lshCandidatePairs(sig, 4, 4)
    val j = Dedup.jaccardOnCandidates(docs, col("text"), col("doc_id"), cands, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.8)
    assert(!j.contains((1L, 3L))) // unrelated doc never becomes a candidate
  }

  test("class-collapsed jaccardPairsAtScale matches the doc-level path") {
    // add a second exact dup so an intra-class expansion (>2 members) runs
    val d = docs.unionByName(Seq((5L, base)).toDF("doc_id", "text"))
    val sig = Dedup.minhashSignature(d, col("text"), col("doc_id"), 16, 1)
    val docLevel = Dedup.jaccardOnCandidates(d, col("text"), col("doc_id"),
        Dedup.lshCandidatePairs(sig, 4, 4), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val atScale = Dedup.jaccardPairsAtScale(d, col("text"), col("doc_id"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(atScale == docLevel)
    assert(atScale.contains((1L, 4L, 15L, 15L, 1.0))) // intra-class pair
    assert(atScale.contains((4L, 5L, 15L, 15L, 1.0)))
  }

  test("jaccardCensusAtScale equals the aggregated pair output, pairs never expanded") {
    val d = docs.unionByName(Seq((5L, base)).toDF("doc_id", "text"))
    // expected histogram: aggregate the oracle-pinned pair relation
    val expected = Dedup.jaccardPairsAtScale(d, col("text"), col("doc_id"), 0.5)
      .groupBy(floor(col("jaccard") * 20).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val census = Dedup.jaccardCensusAtScale(d, col("text"), col("doc_id"), 0.5)
    val got = census.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == expected)
    // the census plan must carry pair COUNTS, never pair rows: no explode
    // of the member lists (jaccardPairsAtScale's doc expansion is exactly
    // that; the per-doc band-key explode is linear and allowed)
    assert(!census.queryExecution.optimizedPlan.toString.contains("explode(__m"))
    assert(Dedup.jaccardPairsAtScale(d, col("text"), col("doc_id"), 0.5)
      .queryExecution.optimizedPlan.toString.contains("explode(__m")) // witness
  }

  test("density guard: fires on a low-entropy word-salad corpus, silent on clusters") {
    // word salad: each doc draws a pseudo-random ~80% subset of a
    // 20-word universe — distinct classes whose pairwise Jaccard ≈ 0.67,
    // so band keys collide corpus-wide: the documented banding failure
    // class. Deterministic from doc_id (array_join skips the nulls the
    // filter leaves).
    val salad = spark.range(300).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(19)), k =>
        when((col("id") * 131071 + k * 8191) % 5 =!= 0,
          concat(lit("s"), k.cast("string")))), " ").as("text"))
    val (sc, sp) = Dedup.bandCandidateDensity(salad, col("text"), col("doc_id"))
    assert(sp.toDouble / (sc.toDouble * (sc - 1) / 2) > 0.05,
      s"salad fixture not dense enough to exercise the guard: $sp pairs / $sc classes")
    val ex = intercept[IllegalStateException] {
      Dedup.jaccardPairsAtScaleGuarded(salad, col("text"), col("doc_id"), 0.8)
    }
    assert(ex.getMessage.contains("admission check failed"))

    // duplication clusters with diverse (cluster-prefixed) vocabulary:
    // banding prunes all cross-cluster pairs — guard stays silent and
    // the guarded result is bit-identical to the direct path
    val clusters = spark.range(400).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(39)), k =>
        when(k === col("id") % 40, concat(lit("u"), col("id").cast("string")))
          .otherwise(concat(lit("c"), (col("id") % 80).cast("string"),
            lit("w"), k.cast("string")))), " ").as("text"))
    val guarded = Dedup.jaccardPairsAtScaleGuarded(
      clusters, col("text"), col("doc_id"), 0.8)
      .collect().map(_.toString).sorted
    val direct = Dedup.jaccardPairsAtScale(
      clusters, col("text"), col("doc_id"), 0.8)
      .collect().map(_.toString).sorted
    assert(guarded.nonEmpty && guarded.sameElements(direct))
  }

  test("candidate-pair count is observable per run (density telemetry)") {
    val pairs = Dedup.jaccardPairsAtScale(docs, col("text"), col("doc_id"), 0.8)
    pairs.collect()
    val metrics = pairs.queryExecution.observedMetrics
      .collect { case (k, v) if k.startsWith("dedup_density_") => v }
    assert(metrics.nonEmpty, "no dedup_density_* observation recorded")
    assert(metrics.head.getLong(0) >= 1) // the planted near-dup pair banded
  }

  test("token jaccard ranks near-dup above unrelated") {
    val j = Dedup.tokenJaccardPairs(docs.withColumn("src", lit("s")),
        col("text"), col("doc_id"), col("src"), 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.8)
    assert(j.getOrElse((1L, 3L), 0.0) < 0.2)
  }

  test("class-level drop list equals the doc-pair drop list (incl. empty docs)") {
    // dense random corpus + two token-less docs (must never be dropped:
    // null sigs have n_equal 0 even against each other)
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val rnd = new scala.util.Random(7)
    val d = ((1 to 80).map { i =>
      (i.toLong, Seq.fill(4 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((200L, ""), (201L, "   "))).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(d, col("text"), col("doc_id"), 16, 1)
    val docLevel = Dedup.dropListFromPairs(
        Dedup.lshCandidatePairs(sig, 4, 4).filter(col("n_equal") >= 8))
      .collect().map(_.getLong(0)).toSet
    val atScale = Dedup.dropListAtScale(sig, 4, 4, minAgree = 8)
      .collect().map(_.getLong(0)).toSet
    assert(atScale == docLevel)
    assert(atScale.nonEmpty)
    assert(!atScale.contains(200L) && !atScale.contains(201L))
  }

  test("dropListConnected keeps the end of a transitive chain; matches greedy on cliques") {
    // hand-built signatures (bands=2, rows=2): a~b via band0 (3 agreeing
    // hashes), b~c via band1 (3 agreeing), but a≁c (2 agreeing, no band)
    val sig = Seq(
      (1L, 10L, 20L, 30L, 40L), // a
      (2L, 10L, 20L, 30L, 50L), // b
      (3L, 90L, 20L, 30L, 50L)  // c
    ).toDF("doc_id", "mh00", "mh01", "mh02", "mh03")
    val greedy = Dedup.dropListAtScale(sig, 2, 2, minAgree = 3)
      .collect().map(_.getLong(0)).toSet
    val chainAware = Dedup.dropListConnected(sig, 2, 2, minAgree = 3)
      .collect().map(_.getLong(0)).toSet
    // greedy drops c although its only duplicate b is itself dropped
    assert(greedy == Set(2L, 3L))
    // chain-aware resolution keeps c: no KEPT smaller near-dup remains
    assert(chainAware == Set(2L))

    // on a clique (mutual near-dups: 1≈2≈4, 4 exact-dups 1) both agree
    val cliqueSig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 16, 3)
    val g2 = Dedup.dropListAtScale(cliqueSig, 4, 4, minAgree = 12)
      .collect().map(_.getLong(0)).toSet
    val c2 = Dedup.dropListConnected(cliqueSig, 4, 4, minAgree = 12)
      .collect().map(_.getLong(0)).toSet
    assert(g2 == c2 && g2.contains(4L))
  }

  test("drop list keeps the lowest id of each dup group; prune anti-joins it") {
    val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 16, 3)
    val pairs = Dedup.lshCandidatePairs(sig, 4, 4)
      .filter(col("n_equal") >= 12)
    val drops = Dedup.dropListFromPairs(pairs)
    val kept = Dedup.pruneDuplicates(docs, col("doc_id"), drops)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && kept.contains(3L))
    assert(!kept.contains(4L)) // exact dup of 1 dropped
  }

  test("bloom-pruned drop list == plain anti-join bit-for-bit, fp-heavy too") {
    // 10k docs, every 7th dropped; tiny filter (high fpp) so FALSE
    // POSITIVES definitely occur and must be corrected by the exact
    // anti-join branch
    val corpus = spark.range(10000).select(col("id").as("doc_id"),
      concat(lit("doc-"), col("id")).as("text"))
    val drops = spark.range(10000).filter(col("id") % 7 === 0)
      .select(col("id").as("drop_id"))
    val plain = Dedup.pruneDuplicates(corpus, col("doc_id"), drops)
      .collect().map(_.toString).sorted
    for (fpp <- Seq(0.5, 0.03)) {
      val bloom = Dedup.pruneDuplicatesBloom(corpus, col("doc_id"), drops,
          expectedDrops = 1429, fpp = fpp)
        .collect().map(_.toString).sorted
      assert(bloom.sameElements(plain), s"fpp=$fpp")
    }
    // the definite-keep branch is a pure filter: no join above it
    val bloomed = Dedup.pruneDuplicatesBloom(corpus, col("doc_id"), drops, 1429L)
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("graft_might_contain"),
      s"bloom probe should be in the plan:\n$plan")

    // NULL ids land on the KEEP side in both paths (the anti-join keeps
    // them: NULL = drop_id never matches; the bloom probe must coalesce
    // its NULL to keep, not lose the row from both branches)
    val withNull = corpus.withColumn("doc_id",
      when(col("doc_id") % 11 === 0, lit(null)).otherwise(col("doc_id")))
    val plainN = Dedup.pruneDuplicates(withNull, col("doc_id"), drops)
      .collect().map(_.toString).sorted
    val bloomN = Dedup.pruneDuplicatesBloom(withNull, col("doc_id"), drops, 1429L)
      .collect().map(_.toString).sorted
    assert(bloomN.sameElements(plainN))
    // 910 nulled ids all kept + 7791 of the 9090 non-null survive the
    // every-7th drop list — the nulled rows are genuinely kept
    assert(plainN.length == 8701)
  }

  test("normalizeText makes formatting variants fingerprint-identical") {
    val d = Seq(
      (1L, "Alpha,  beta—GAMMA!"),
      (2L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val fp = d.select(col("doc_id"),
        TextOps.fingerprint(TextOps.normalizeText(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
  }

  test("fingerprint is order-sensitive and whitespace-insensitive") {
    val d = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha  beta   gamma"), // extra spaces — same token stream
      (3L, "gamma beta alpha") // reordered
    ).toDF("doc_id", "text")
    val fp = d.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1) == fp(2))
    assert(fp(1) != fp(3))
  }

  test("quality score and lang id behave on natural vs degenerate text") {
    val d = Seq(
      (1L, "the cat sat on the mat and the dog ran to the park in a hurry today"),
      (2L, "zzz zzz zzz zzz zzz"), // repetitive, no stopwords
      (3L, "")
    ).toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("q"),
        TextOps.langId(col("text")).as("lang"))
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getString(2))).toMap
    assert(r(1)._1 > r(2)._1)
    assert(r(1)._2 == "en" && r(2)._2 == "unk")
    assert(r(3)._1 == 0.0)
  }

  test("spanCensus finds cross-doc spans, counts within-doc repeats, ignores singles") {
    val boiler = "all rights reserved contact the site admin for takedown requests"
    val d = Seq(
      (1L, s"page one body text here $boiler"),
      (2L, s"$boiler and some page two content"),
      (3L, s"unrelated third page $boiler again repeated $boiler"),
      (4L, "a document with no shared spans in it at all whatsoever today")
    ).toDF("doc_id", "text")
    val spans = Dedup.spanCensus(d, col("text"), col("doc_id"), n = 10, minDocs = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // the 10-token boilerplate yields exactly one shared 10-gram; doc 3
    // carries it twice → 3 docs, 4 occurrences
    assert(spans.toSeq == Seq((3L, 4L)))
    // n larger than any shared run → empty census
    assert(Dedup.spanCensus(d, col("text"), col("doc_id"), n = 14, minDocs = 2).isEmpty)
  }

  test("decontamination flags benchmark-overlapping docs; bloom variant is bit-equal") {
    import graft.operators.Contamination
    val benchText = "what is the capital of france paris is the capital"
    val d = Seq(
      (0L, benchText), // benchmark doc (id % 97 == 0)
      (1L, s"trivia dump question what is the capital of france answer paris"),
      (2L, "completely clean training document about spark physical plans"),
      (3L, benchText) // verbatim leak of the benchmark
    ).toDF("doc_id", "text")
    val bench = Contamination.benchmarkGrams(d.filter(col("doc_id") % 97 === 0),
      col("text"), n = 3)
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val rep = Contamination.overlapReport(train, col("text"), col("doc_id"), bench, 3)
    val byDoc = rep.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(!byDoc.contains(2L)) // clean doc absent from the report
    // the verbatim leak overlaps on ALL of its distinct 3-grams
    assert(byDoc(3L)._1 == byDoc(3L)._2.toInt && byDoc(3L)._3 == 1.0)
    // the partial leak overlaps on some but not all
    assert(byDoc(1L)._2 >= 3 && byDoc(1L)._3 < 1.0)
    // bloom-pruned variant: bit-equal rows (false positives re-checked
    // by the exact join, false negatives impossible)
    val viaBloom = Contamination.overlapReportBloom(train, col("text"), col("doc_id"),
      bench, 3, expectedGrams = 64L)
    assert(rep.exceptAll(viaBloom).isEmpty && viaBloom.exceptAll(rep).isEmpty)
  }

  test("incrementalDropList drops new docs near-duplicating the corpus, never corpus docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different existing document about catalyst physical plans")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"), // replica of 1
      (101L, "fresh unique content that matches nothing in the landed corpus")
    ).toDF("doc_id", "text")
    val sigC = Dedup.minhashSignature(corpus, col("text"), col("doc_id"), 16, 3)
    val sigN = Dedup.minhashSignature(batch, col("text"), col("doc_id"), 16, 3)
    val drops = Dedup.incrementalDropList(sigN, sigC, 4, 4, minAgree = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(drops.toSeq === Seq((100L, 1L, 1L))) // exact replica: 1 match, keeper id 1
    // drop list only ever names NEW ids — the landed corpus is immutable
    assert(drops.forall(_._1 >= 100L))
  }

  test("lineDedup strips cross-doc boilerplate, keeps first owner, preserves order") {
    val banner = "accept all cookies to continue"
    val d = Seq(
      (10L, s"unique alpha line\n$banner\nunique beta line"),
      (20L, s"$banner\nown content here\n$banner"), // boilerplate twice
      (30L, banner), // nothing but the banner -> fully emptied
      (40L, "repeated inside\nrepeated inside\nonly in this doc")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, col("text"), col("doc_id"), minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 10 is the lowest-id owner: keeps the banner, in original position
    assert(out(10L) === ((3L, 3L, s"unique alpha line\n$banner\nunique beta line")))
    // doc 20 loses BOTH occurrences, surviving lines keep their order
    assert(out(20L) === ((3L, 1L, "own content here")))
    // doc 30 empties but is still present with '' text
    assert(out(30L) === ((1L, 0L, "")))
    // within-doc repetition alone (n_docs = 1) is NOT boilerplate
    assert(out(40L) === ((3L, 3L, "repeated inside\nrepeated inside\nonly in this doc")))
  }

  test("charLmScores: repeated-pattern text scores lower nll than noise; " +
      "model math matches a by-hand fold; short docs go NULL") {
    val d = Seq(
      (1L, "ababababababababab"),   // one dominant bigram pattern
      (2L, "qzx7kv jw9 tq zz pqx"), // junk: rare transitions
      (3L, "a"),                    // 1 char -> no bigrams
      (4L, "ab")                    // single bigram
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps
      .charLmScores(d, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(3L) == ((0L, None)))
    assert(out(4L)._1 == 1L && out(4L)._2.isDefined)
    val (nPat, Some(nllPat)) = out(1L)
    val (nJunk, Some(nllJunk)) = out(2L)
    assert(nPat == 17L && nJunk == 19L)
    // the self-trained model assigns the dominant pattern lower nll
    assert(nllPat < nllJunk)
    // by-hand replication of doc 4's single bigram 'ab' = slot 1*38+2
    // over the corpus-trained counts
    val slots = Map[Int, Long]().withDefaultValue(0L)
    def cls(c: Char): Int =
      if (c >= 'a' && c <= 'z') c - 'a' + 1
      else if (c >= '0' && c <= '9') c - '0' + 27
      else if (c == ' ') 37 else 0
    val counts = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    Seq("ababababababababab", "qzx7kv jw9 tq zz pqx", "a", "ab").foreach { t =>
      t.sliding(2).foreach(p =>
        if (p.length == 2) counts(cls(p(0)) * 38 + cls(p(1))) += 1)
    }
    val prevTot = (0 until 38).map(a =>
      (0 until 38).map(b => counts(a * 38 + b)).sum)
    val slotAb = cls('a') * 38 + cls('b')
    val want = -java.lang.Math.log(
      (counts(slotAb) + 1.0) / (prevTot(cls('a')) + 38.0))
    assert(out(4L)._2.get == want)
  }

  test("native CharLmScore kernel == the HOF witness bit-for-bit on the " +
      "real corpus (incl. empty/short/non-ascii edges)") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, ""), (900002L, "x"),
        (900003L, "café über znak 42"), (900004L, "AB 12 cd"))
        .toDF("doc_id", "text"))
    val model = graft.operators.TextOps.trainCharLm(docs, col("text"))
    val native = graft.operators.TextOps
      .scoreCharLm(docs, col("text"), col("doc_id"), model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val witness = Witness
      .scoreCharLm(docs, col("text"), col("doc_id"), model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(native == witness && native.size == docs.count())
    assert(native(900001L) == ((0L, None)) && native(900002L) == ((0L, None)))
    // the training-side slots kernel is bit-equal to the HOF slot chain
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val nativeSlots = ColumnBridge.column(graft.functions.CharLmSlots(
      ColumnBridge.expression(col("text"))))
    val diff = docs.select(
      nativeSlots.as("a"),
      Witness.lmSlots(col("text")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0)
  }

  test("frozen char-LM model scores a STREAM identically to the batch " +
      "path (stateless map, no state store)") {
    val corpus = Seq((1L, "the quick brown fox jumps"),
      (2L, "pack my box with five dozen jugs"),
      (3L, "zzzz qqqq xxxx glyph")).toDF("doc_id", "text")
    val model = graft.operators.TextOps.trainCharLm(corpus, col("text"))
    val want = graft.operators.TextOps
      .scoreCharLm(corpus, col("text"), col("doc_id"), model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[(Long, String)](spark)
    val scored = graft.operators.TextOps.scoreCharLm(
      ms.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"), model)
    val q = scored.writeStream.format("memory").queryName("charlm_stream")
      .start()
    ms.addData((1L, "the quick brown fox jumps"),
      (2L, "pack my box with five dozen jugs"))
    q.processAllAvailable()
    ms.addData((3L, "zzzz qqqq xxxx glyph"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("charlm_stream").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == want)
  }

  test("connectedComponents labels the full closure: chains collapse " +
      "transitively, orientation/dups/self-loops normalize, edge-free " +
      "nodes stay out") {
    // chain 5-3-9 (no direct 5-9 edge), clique {1,2,7}, pair {20,30} given
    // reversed + duplicated + self-looped — the closure must see through
    val edges = Seq((5L, 3L), (9L, 3L), (1L, 2L), (2L, 7L), (7L, 1L),
      (30L, 20L), (20L, 30L), (20L, 20L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      1L -> 1L, 2L -> 1L, 7L -> 1L, 20L -> 20L, 30L -> 20L))
  }

  test("connectedComponents == brute-force closure on a pseudo-random " +
      "graph (long path + random extra edges)") {
    // deterministic graph: a 60-node path (worst diameter for label
    // propagation — the case large/small-star exists for) + hash edges
    val n = 60
    val path = (1 until n).map(i => (i.toLong, i.toLong + 1))
    val extra = (0 until 25).map { k =>
      val u = ((k * 2654435761L) % 997) % n + 1
      val v = ((k * 40503L + 7) % 991) % n + 1
      (u, v)
    }.filter { case (u, v) => u != v }
    val all = path ++ extra ++ Seq((100L, 101L)) // a far-away island
    val got = Dedup.connectedComponents(all.toDF("a", "b"),
      col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side union-find as the oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    all.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    assert(got == want)
  }

  test("ingestDedup: within-slice keep-first, cross-history drops, replay " +
      "appends nothing; streaming form skips a replayed batch whole") {
    import graft.sinks.SnapshotLake
    val root = TempDirs.create("ingest") + "/corpus"
    val s1 = Seq((1L, "alpha beta"), (2L, "ALPHA   beta!"), (3L, "gamma"))
      .toDF("doc_id", "text") // 2 normalizes to 1's fingerprint
    val (v1, k1) = Dedup.ingestDedup(spark, root, s1, "doc_id", "text")
    assert(k1 == 2) // within-slice keep-first: ids 1 and 3 survive
    val s2 = Seq((10L, "alpha beta"), (11L, "delta"), (12L, "Delta."))
      .toDF("doc_id", "text")
    val (v2, k2) = Dedup.ingestDedup(spark, root, s2, "doc_id", "text")
    assert(k2 == 1 && v2 > v1) // 10 drops vs history; 11 beats 12 in-slice
    // replay of slice 2: every fingerprint already in history
    val (_, k3) = Dedup.ingestDedup(spark, root, s2, "doc_id", "text")
    assert(k3 == 0)
    val ids = SnapshotLake.read(spark, root).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 11L))
    // streaming handler: a replayed batchId is skipped whole even with
    // brand-new content (the batch-id marker, not just the fp check)
    val sroot = TempDirs.create("ingest-s") + "/corpus"
    val h = Dedup.ingestDedupStream(sroot, "doc_id", "text")
    h(s1, 0L)
    h(s2, 1L)
    h(Seq((99L, "totally fresh row")).toDF("doc_id", "text"), 1L) // replayed id
    val sids = SnapshotLake.read(spark, sroot).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sids == Set(1L, 3L, 11L), s"streaming ingest state: $sids")
  }

  test("ingestDedup: null text is not a document — dropped within-slice " +
      "and cross-slice, so the ingest stays idempotent") {
    import graft.sinks.SnapshotLake
    val root = TempDirs.create("ingest-null") + "/corpus"
    val s1 = Seq((1L, "alpha"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val (_, k1) = Dedup.ingestDedup(spark, root, s1, "doc_id", "text")
    assert(k1 == 1, s"null-text rows must drop, kept $k1")
    val (_, k2) = Dedup.ingestDedup(spark, root, s1, "doc_id", "text")
    assert(k2 == 0, "replay appended rows — null handling broke idempotence")
    assert(SnapshotLake.read(spark, root).count() == 1)
  }

  test("ingestDedupBloom: bit-equal to the plain anti-join ingest, " +
      "history sized from the manifest alone, replay idempotent") {
    import graft.sinks.SnapshotLake
    val rootA = TempDirs.create("ingest-a") + "/corpus"
    val rootB = TempDirs.create("ingest-b") + "/corpus"
    val s1 = Seq((1L, "alpha beta"), (2L, "ALPHA   beta!"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val s2 = Seq((10L, "alpha beta"), (11L, "delta"), (12L, "Delta."))
      .toDF("doc_id", "text")
    Dedup.ingestDedup(spark, rootA, s1, "doc_id", "text")
    Dedup.ingestDedup(spark, rootA, s2, "doc_id", "text")
    val (_, kb1) = Dedup.ingestDedupBloom(spark, rootB, s1, "doc_id", "text")
    val (_, kb2) = Dedup.ingestDedupBloom(spark, rootB, s2, "doc_id", "text")
    assert(kb1 == 2 && kb2 == 1, s"bloom ingest kept ($kb1, $kb2)")
    val a = SnapshotLake.read(spark, rootA).collect().toSet
    val b = SnapshotLake.read(spark, rootB).collect().toSet
    assert(a == b, "bloom ingest diverged from the plain anti-join ingest")
    val (_, kb3) = Dedup.ingestDedupBloom(spark, rootB, s2, "doc_id", "text")
    assert(kb3 == 0, "bloom-path replay appended rows")
  }

  test("ingestDedupBloom refuses a pre-row-counts history manifest " +
      "loudly (an empty-looking history would silently skip the dedup)") {
    import graft.sinks.SnapshotLake
    import org.apache.hadoop.fs.Path
    val root = TempDirs.create("ingest-legacy") + "/corpus"
    val s1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    Dedup.ingestDedup(spark, root, s1, "doc_id", "text")
    // strip stats+rows columns from the head manifest (2-col legacy lines)
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new Path(new Path(root, "_manifests"), "v00000001.manifest")
    val in = fs.open(mPath)
    val raw = scala.io.Source.fromInputStream(in).mkString; in.close()
    val legacy = raw.split("\n").map { l =>
      val c = l.split('\t'); if (c.length >= 3) s"${c(0)}\t${c(1)}" else l
    }.mkString("\n")
    val o = fs.create(mPath, true); o.write(legacy.getBytes); o.close()
    SnapshotLake.invalidateManifestCache(root)
    val e = intercept[IllegalArgumentException] {
      Dedup.ingestDedupBloom(spark, root, s1, "doc_id", "text")
    }
    assert(e.getMessage.contains("addStats"))
    // addStats backfills the counts and the bloom path works again
    SnapshotLake.addStats(spark, root, Seq("doc_id"))
    val (_, k) = Dedup.ingestDedupBloom(spark, root, s1, "doc_id", "text")
    assert(k == 0, "replay after backfill must append nothing")
  }
}
