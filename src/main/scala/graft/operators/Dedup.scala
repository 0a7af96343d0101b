package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextNative}

/** Deduplication operators for training-data pipelines: exact content dedup,
  * MinHash signatures + LSH banding, SimHash, and token-set Jaccard.
  *
  * Scale design (100 TB):
  *   - Exact dedup is a hash-groupBy on a 256-bit content digest — one
  *     shuffle on the digest, no text comparison.
  *   - MinHash signatures are pure per-row expressions (array_min over a
  *     transform of the token set — no explode, no UDF, fully codegen).
  *     LSH banding turns the quadratic all-pairs problem into equi-joins on
  *     (band, bandKey): only documents agreeing on a full band meet, so the
  *     shuffle volume is O(n·bands) and candidate pairs are rare by design.
  *   - SimHash reduces each document to one 60-bit value with a map-only
  *     fold; near-dup pairs are found by 15-bit banding (a Hamming-ball
  *     cover), again an equi-join — over DISTINCT simhash values.
  *   - Corpus duplication is collapsed BEFORE any pairwise stage:
  *     [[jaccardPairsAtScale]] and [[dropListAtScale]] group documents
  *     into identical-token-set / identical-signature classes (minhash,
  *     band keys, Jaccard, and agreement counts are pure functions of the
  *     set), run the joins on classes, and expand member lists at the end,
  *     so a corpus that is 95% copies costs a groupBy, not copies².
  *   - All hashes derive from md5 via [[TextHash.tokenHash]], bit-identical
  *     in Spark and DuckDB, so every stage is oracle-checkable.
  */
object Dedup {

  val P: Long = 2147483647L // 2^31 − 1; keeps a*(h%P)+b well inside int64

  /** Deterministic universal-hash parameters (a_i, b_i) for MinHash —
    * plain LCG constants; generated once (in [[graft.functions.TextKernel]],
    * shared with the native signature expressions) and inlined as literals
    * into both the Spark expressions and the oracle SQL.
    */
  def hashParams(n: Int): Seq[(Long, Long)] = graft.functions.TextKernel.hashParams(n)

  /** D1 — exact dedup groups: documents sharing a content digest; keeper is
    * the lowest id (deterministic). One shuffle on the digest.
    */
  def exactDedupGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(sha2(text, 256).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(id).as("keep_id"))

  /** MinHash_i over a column of pre-reduced shingle hashes (h mod P):
    * min over shingles of (a_i·h + b_i) mod P. Null for empty docs.
    */
  def minhashCol(shingleHashes: Column, a: Long, b: Long): Column =
    array_min(transform(shingleHashes, h => (lit(a) * h + lit(b)) % lit(P)))

  /** D2 — MinHash signature over word `shingleN`-grams: id + n flat columns
    * mh00..mhNN (flat columns hash-compare and band more cheaply than
    * arrays). Pure per-row expressions — no explode, no shuffle.
    *
    * The token array and shingle set are materialized in their own
    * projections FIRST: inlining them into all n minhash lambdas makes
    * every `element_at` re-split the text (Catalyst does not CSE across
    * lambda boundaries — observed 80× slowdown). CollapseProject keeps
    * expensive multi-referenced aliases separate, so this stays two
    * pipelined map stages.
    */
  def minhashSignature(df: DataFrame, text: Column, id: Column,
      n: Int = 16, shingleN: Int = 3): DataFrame = {
    // ONE compiled pass per doc (tokenize → distinct shingles → md5 → n
    // affine mins): graft.functions.MinhashSig, bit-equal to the legacy
    // tokens/wordNgrams/tokenHash/minhashCol chain (DedupSpec witness).
    val sig = df.select(id.as("doc_id"),
      TextNative.minhashSig(text, shingleN, n).as("__sig"))
    val cols = (0 until n).map(i =>
      element_at(col("__sig"), i + 1).as(f"mh$i%02d"))
    sig.select((col("doc_id") +: cols): _*)
  }

  /** Column-preserving fuzzy-dedup signatures: ADD mh00..mhNN and
    * `simhash` to `df` without projecting anything away — the streaming
    * enrichment shape ([[graft.streaming.StreamDocs]] lands these with
    * every micro-batch so the lake is drop-list-extendable without a
    * full re-pass; VERDICT r4 item 7). Bit-equal to [[minhashSignature]]
    * and [[simhash]] by construction: same tokenizer, same shingle
    * hashing mod P, same affine maps, same bit-vote fold (asserted in
    * StreamingSpec). Pure per-row expressions — map-only, no state, so
    * it drops into any streaming plan: one compiled minhash pass and one
    * compiled stats pass per document.
    */
  def withSignatures(df: DataFrame, text: Column, n: Int = 16,
      shingleN: Int = 3, bits: Int = 60): DataFrame = {
    val staged = df
      .withColumn("__sig", TextNative.minhashSig(text, shingleN, n))
      .withColumn("__stats", TextNative.stats(text, TextOps.EnStopwords))
    val mhCols = (0 until n).map(i =>
      element_at(col("__sig"), i + 1).as(f"mh$i%02d"))
    staged.select((df.columns.map(col).toSeq ++ mhCols) :+
      simhashBits(col("__stats"), bits).as("simhash"): _*)
  }

  /** D2b — LSH candidate pairs: band the signature (bands × rowsPerBand
    * must equal the signature width), join documents sharing any full band,
    * and report how many of the n minhashes agree (n_equal/n estimates
    * Jaccard). Equi-join on (band, bandKey) — no all-pairs blow-up.
    *
    * The signature rides through the band explode as one array column, so
    * agreement counting is a zip_with on the joined pair — no join-backs to
    * the signature table (two fewer shuffles; the payload cost is
    * n·8 bytes × bands per doc, trivial next to the join shuffle itself).
    */
  def lshCandidatePairs(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val exploded = bandExplode(sig, bands, rowsPerBand)
    val eq = aggregate(
      zip_with(col("x.sig"), col("y.sig"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    exploded.as("x")
      .join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(firstCollision(col("x.__bks"), col("y.__bks"), col("x.band"), bands))
      .select(col("x.doc_id").as("doc_id1"), col("y.doc_id").as("doc_id2"),
        eq.as("n_equal"))
  }

  /** (doc_id, sig array, band, bkey) — one row per (doc, band), the LSH
    * join key material shared by [[lshCandidatePairs]] and
    * [[incrementalDropList]]. The signature rides along as one array so
    * agreement counting after the band join needs no join-back.
    */
  private def bandExplode(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val mhCols = sig.columns.filter(_.startsWith("mh")).map(col).toSeq
    val bkeyCols = (0 until bands).map { b =>
      val ks = (0 until rowsPerBand).map(r => col(f"mh${b * rowsPerBand + r}%02d"))
      TextHash.tokenHash(concat_ws(",", ks: _*))
    }
    // the FULL band-key array rides along (bands × 8 bytes/row, trivial
    // next to the join shuffle) so joins can dedupe multi-band collisions
    // with [[firstCollision]] instead of a full distinct shuffle.
    // NOT `posexplode(col("__bks"))`: InferFiltersFromGenerate infers
    // `size(__bks) > 0`, which is non-foldable on a column REFERENCE and
    // gets pushed below the projections — inlining the whole minhash
    // kernel once per band key per row at the scan (measured: d2b
    // 0.7 → 32 s). Exploding an array-of-structs literal keeps the
    // inferred filter foldable (static size) so it disappears, while the
    // bkey values are element_at references to the aliased-once array.
    sig
      .select(col("doc_id"), array(mhCols: _*).as("sig"),
        array(bkeyCols: _*).as("__bks"))
      .select(col("doc_id"), col("sig"), col("__bks"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            element_at(col("__bks"), b + 1).as("bkey"))): _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("__bks"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** A banded self/cross join emits one row per SHARED band, so a pair
    * colliding in k bands appears k times; the classic dedup is a
    * `.distinct()` — a full shuffle of the (near-quadratic) candidate
    * stream. This predicate keeps a joined row ONLY at the pair's FIRST
    * colliding band (no earlier position has equal band keys), which is
    * exactly one row per distinct pair — same result set, evaluated
    * map-side on the already-joined row with zero extra exchange.
    *
    * Statically expanded over `bands` (a handful), NOT
    * `exists(zip_with(slice(...)))`: higher-order functions are
    * CodegenFallback, and one in a join CONDITION interprets per matched
    * row with per-row array materialization — measured 12 s on d4's
    * ~20 M key-matched rows vs plain compiled comparisons.
    */
  private def firstCollision(xBks: Column, yBks: Column, band: Column,
      bands: Int): Column =
    (0 until bands - 1).map(b =>
        (band > lit(b)) && (element_at(xBks, b + 1) === element_at(yBks, b + 1)))
      .reduceOption(_ || _).map(c => !c).getOrElse(lit(true))

  /** D9 — INCREMENTAL dedup: the drop list for a NEW batch of documents
    * against the EXISTING corpus' signature store, without ever banding
    * the corpus against itself. This is the ingest-time shape: the lake
    * already carries mh00..mhNN per landed doc ([[withSignatures]],
    * streamed in by [[graft.streaming.StreamDocs]]), so admitting a new
    * batch costs one band join of (new × corpus-bands), not a corpus
    * re-pass. A new doc is dropped when it shares an LSH band with an
    * existing doc AND their signatures agree on ≥ `minAgree` of the n
    * minhashes (estimated Jaccard ≥ minAgree/n; an exact replica agrees
    * on all n).
    *
    * Returns one row per dropped NEW doc: `drop_id`, `n_matches`
    * (distinct existing near-dups), `match_id` (lowest matching existing
    * id — the keeper it duplicates).
    *
    * Scale shape: equi-join on (band, bkey) only; the new batch is
    * typically ≪ the corpus, so Catalyst broadcasts ITS banded side and
    * the corpus side streams map-side (no corpus shuffle at all — the
    * 100 TB lake is read once, band keys + signature columns only, which
    * column pruning reduces to a few dozen bytes/doc). Existing-vs-
    * existing pairs are never formed.
    */
  def incrementalDropList(newSig: DataFrame, existingSig: DataFrame,
      bands: Int, rowsPerBand: Int, minAgree: Int): DataFrame = {
    val nb = bandExplode(newSig, bands, rowsPerBand)
    val eb = bandExplode(existingSig, bands, rowsPerBand)
    val eq = aggregate(
      zip_with(col("n.sig"), col("e.sig"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    nb.as("n")
      .join(eb.as("e"),
        col("n.band") === col("e.band") && col("n.bkey") === col("e.bkey"))
      // a pair can share several bands: keep its first colliding band only
      .filter(firstCollision(col("n.__bks"), col("e.__bks"), col("n.band"), bands))
      .select(col("n.doc_id").as("drop_id"), col("e.doc_id").as("match_id"),
        eq.as("n_equal"))
      .filter(col("n_equal") >= minAgree)
      .groupBy("drop_id")
      .agg(count(lit(1)).as("n_matches"), min("match_id").as("match_id"))
  }

  /** Resolve candidate pairs into a drop list: keep the lowest doc_id of
    * every near-dup pair, drop the other. Greedy per-pair (not connected
    * components — a drops-b, b-drops-c chain over-drops c; acceptable and
    * standard for near-dup pruning since over-dropping trades recall for
    * zero dup leakage). One distinct — no iteration, any scale.
    */
  def dropListFromPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_id2").as("drop_id")).distinct()

  /** D6 at corpus scale — the drop list WITHOUT materializing doc pairs:
    * collapse documents to identical-signature classes (n_equal and band
    * keys are functions of the signature), band-join the class
    * representatives, and per class take the minimum member id across its
    * matched neighborhood (adjacent classes with ≥ minAgree agreeing
    * hashes, plus itself — intra-class pairs agree on all n). A document
    * is dropped iff that neighborhood minimum is smaller than its own id —
    * exactly `dropListFromPairs(lshCandidatePairs(sig) ≥ minAgree)`, with
    * the quadratic-in-duplication doc join replaced by a class join plus
    * two linear passes.
    */
  def dropListAtScale(sig: DataFrame, bands: Int, rowsPerBand: Int,
      minAgree: Int): DataFrame = {
    val mhCols = sig.columns.filter(_.startsWith("mh")).map(col).toSeq
    // the class table feeds the band join's two sides and the final member
    // expansion; materialize once instead of re-running the signature
    // collapse per consumer (same round-16 finding as classJaccardOn)
    val classes = sigClasses(sig, mhCols).localCheckpoint()
    val edges = classEdges(classes, mhCols, bands, rowsPerBand, minAgree)
      // candidate-density telemetry (VERDICT r6): edge count is the
      // banding's selectivity — a monitoring hook reads it per run via
      // observedMetrics; [[bandCandidateDensity]] is the pre-flight form
      .observe(s"dedup_density_${obsId.incrementAndGet()}",
        count(lit(1)).as("n_edges"))
    // min adjacent-class member per class (cid2 < ... is not implied: the
    // edge gives each side the OTHER side's minimum = the other cid).
    // Both directions come from ONE explode — a unionByName of two
    // selects would re-evaluate the whole banding join per leg (and
    // double-count the observe above).
    val minAdj = edges
      .select(explode(array(
        struct(col("cid1").as("cid"), col("cid2").as("__nb")),
        struct(col("cid2").as("cid"), col("cid1").as("__nb")))).as("e"))
      .select(col("e.cid").as("cid"), col("e.__nb").as("__nb"))
      .groupBy("cid").agg(min(col("__nb")).as("__minadj"))
    // neighborhood minimum: own minimum (= cid) for non-null signatures —
    // doc-level n_equal between two all-null sigs is 0 (null === null
    // counts as 0), so token-less duplicates never self-match — plus the
    // smallest adjacent class minimum
    classes
      .join(minAdj, Seq("cid"), "left")
      .withColumn("__nbmin",
        when(col("mh00").isNotNull, least(col("cid"), coalesce(col("__minadj"), col("cid"))))
          .otherwise(col("__minadj")))
      .select(col("__nbmin"), explode(col("__members")).as("doc_id"))
      .filter(col("doc_id") > col("__nbmin"))
      .select(col("doc_id").as("drop_id"))
  }

  /** Identical-signature classes: member list + the class minimum id. */
  private def sigClasses(sig: DataFrame, mhCols: Seq[Column]): DataFrame =
    sig.groupBy(mhCols: _*)
      .agg(collect_list(col("doc_id")).as("__members"))
      .withColumn("cid", array_min(col("__members")))

  /** Class-level near-dup edges (cid1 < cid2): band-join the class
    * representatives, keep pairs with ≥ minAgree agreeing hashes. cid IS
    * the min member, so edges carry both classes' minima for free — the
    * upstream class aggregation is evaluated exactly TWICE (once under
    * the band join, once for the final member expansion), not per use.
    */
  private def classEdges(classes: DataFrame, mhCols: Seq[Column],
      bands: Int, rowsPerBand: Int, minAgree: Int): DataFrame = {
    val bkeyCols = (0 until bands).map { b =>
      val ks = (0 until rowsPerBand).map(r => col(f"mh${b * rowsPerBand + r}%02d"))
      TextHash.tokenHash(concat_ws(",", ks: _*))
    }
    val exploded = classes
      .select(col("cid"), array(mhCols: _*).as("sig"),
        array(bkeyCols: _*).as("__bks"))
      // explode an array-of-structs literal, NOT the __bks reference — see
      // bandExplode's note on InferFiltersFromGenerate inlining the hash
      // kernel below the projections otherwise
      .select(col("cid"), col("sig"), col("__bks"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            element_at(col("__bks"), b + 1).as("bkey"))): _*)).as("bk"))
      .select(col("cid"), col("sig"), col("__bks"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val eq = aggregate(
      zip_with(col("x.sig"), col("y.sig"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    exploded.as("x")
      .join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.cid") < col("y.cid"))
      // multi-band collisions dedupe map-side, not via a distinct shuffle
      .filter(firstCollision(col("x.__bks"), col("y.__bks"), col("x.band"), bands))
      .select(col("x.cid").as("cid1"), col("y.cid").as("cid2"), eq.as("n_equal"))
      .filter(col("n_equal") >= minAgree)
      .select("cid1", "cid2")
  }

  /** D6, chain-aware variant — drops resolve against KEPT SURVIVORS only.
    *
    * The greedy rule ([[dropListAtScale]]) drops every document with ANY
    * smaller near-dup neighbor; on a transitive chain a~b, b~c (a≁c) it
    * drops both b and c, although once b is gone c duplicates nothing
    * that remains. This variant keeps c: within each connected component
    * of the class graph the kept set is the greedy minimum-id maximal
    * independent set — a class is dropped only when an ADJACENT class
    * with a smaller id is itself kept. (Pure connected-components
    * labeling — keep only each component's min — would over-drop MORE
    * than greedy: it also drops members merely transitively reachable.)
    *
    * Resolution is an iterative fixpoint on the CLASS graph (already
    * collapsed — typically orders of magnitude smaller than the corpus):
    * each round, classes with no surviving smaller neighbor become kept
    * roots, their larger neighbors drop, and all resolved edges leave the
    * frontier. Real dup graphs are clique-heavy (mutual near-dups), so
    * most edges resolve in round one; rounds are bounded by the longest
    * id-decreasing chain, `maxRounds` guards pathological inputs. Each
    * round's frontier is localCheckpoint'ed: the loop would otherwise
    * stack one join-lineage per round onto the next plan.
    *
    * Doc-level expansion is exact, not approximate: edges are functions
    * of the SIGNATURE, so every member of a dropped class is adjacent to
    * the kept dropper, and every non-min member of a kept class is
    * adjacent to its kept minimum — both drop.
    */
  def dropListConnected(sig: DataFrame, bands: Int, rowsPerBand: Int,
      minAgree: Int, maxRounds: Int = 64): DataFrame = {
    val spark = sig.sparkSession
    val mhCols = sig.columns.filter(_.startsWith("mh")).map(col).toSeq
    val classes = sigClasses(sig, mhCols)
    var frontier = classEdges(classes, mhCols, bands, rowsPerBand, minAgree)
      .localCheckpoint()
    var droppedCids = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          classes.schema("cid").dataType))))
    var rounds = 0
    while (frontier.head(1).nonEmpty) {
      rounds += 1
      require(rounds <= maxRounds,
        s"dropListConnected did not converge in $maxRounds rounds")
      // roots: classes never on the larger side of a live edge → kept
      val roots = frontier.select(col("cid1").as("cid")).distinct()
        .join(frontier.select(col("cid2").as("cid")).distinct(),
          Seq("cid"), "left_anti")
      val newDropped = frontier
        .join(roots.withColumnRenamed("cid", "cid1"), Seq("cid1"))
        .select(col("cid2").as("cid")).distinct().localCheckpoint()
      droppedCids = droppedCids.unionByName(newDropped)
      // resolved edges leave: roots decided all their edges; dropped
      // classes can no longer drop anyone
      frontier = frontier
        .join(roots.withColumnRenamed("cid", "cid1"), Seq("cid1"), "left_anti")
        .join(newDropped.withColumnRenamed("cid", "cid1"), Seq("cid1"), "left_anti")
        .join(newDropped.withColumnRenamed("cid", "cid2"), Seq("cid2"), "left_anti")
        .localCheckpoint()
    }
    // dropped class → all members; kept class → members above its min.
    // All-null-signature classes have no edges and never self-match
    // (doc-level n_equal over null hashes is 0), so they drop nothing —
    // same rule as dropListAtScale.
    val droppedAll = classes.join(droppedCids, Seq("cid"))
      .select(explode(col("__members")).as("doc_id"))
    val keptIntra = classes.join(droppedCids, Seq("cid"), "left_anti")
      .filter(col("mh00").isNotNull)
      .select(col("cid"), explode(col("__members")).as("doc_id"))
      .filter(col("doc_id") > col("cid"))
      .select("doc_id")
    droppedAll.unionByName(keptIntra).select(col("doc_id").as("drop_id"))
  }

  /** Connected components of a duplicate-pair graph — alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014), the published at-scale answer
    * for transitive dup-cluster labeling:
    *
    *  - converges in O(log n) alternations INDEPENDENT of component
    *    diameter — plain min-label propagation needs diameter rounds, so
    *    a long doc-similarity chain (boilerplate families at 100 TB)
    *    would pay thousands of shuffles; this pays ~a dozen;
    *  - each half-round is ONE window-min + projection over the current
    *    edge set — no `collect_list` neighborhoods, so a hub node with
    *    10^8 neighbors never assembles its adjacency on one executor;
    *  - the edge set only shrinks toward the final star graphs, so later
    *    rounds get cheaper, and each round is `localCheckpoint`'ed so
    *    the plan never stacks round lineages.
    *
    * Input: one row per undirected edge (`id1`, `id2`); orientation,
    * duplicates and self-loops are normalized away. Output: one row
    * (`id`, `comp`) for every id that appears in an edge, `comp` = the
    * component's minimum id. Edge-free singletons don't appear (callers
    * union `(id, id)` for ids absent from the result when they need
    * total coverage).
    *
    * vs [[dropListConnected]]: that computes the greedy KEEP policy
    * (a maximal independent set — deliberately NOT the closure, see its
    * doc); this labels the full equivalence closure, which is what
    * cluster censuses, one-per-cluster sampling and cluster-level joins
    * need.
    */
  def connectedComponents(pairs: DataFrame, id1: Column, id2: Column,
      maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // canonical (hi > lo); self-loops carry no connectivity
    var edges = pairs
      .select(greatest(id1, id2).as("hi"), least(id1, id2).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct().localCheckpoint()

    // large-star: every node u attaches its STRICTLY LARGER neighbors to
    // m = min(N(u) ∪ {u}) — long chains halve; emitted edges stay
    // canonical because m <= u < v
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      sym.withColumn("m",
          least(min(col("v")).over(Window.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }

    // small-star: every node reattaches its smaller neighborhood (and
    // itself) to that neighborhood's minimum — stars flatten
    def smallStar(e: DataFrame): DataFrame = {
      val withM = e.withColumn("m",
        min(col("lo")).over(Window.partitionBy("hi")))
      withM.filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(withM.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo"))
        .distinct()
    }

    // Fixpoint test discipline: a full set-equality check (exceptAll) is
    // a shuffle of the whole edge set, and the naive two-sided form runs
    // it twice per round × log(n) rounds. Instead each round pays ONE
    // cheap aggregate — (count, bit_xor(hash)) over the checkpointed
    // edges, a scan + 1-row reduction, no data shuffle — and only when
    // the signature repeats do we CONFIRM with a single one-sided
    // exceptAll. Sound, not probabilistic: both frames are distinct
    // sets, so |A| = |B| ∧ A∖B = ∅ ⟹ A = B; a hash collision merely
    // costs one extra confirm pass that returns non-empty. Net: the
    // shrinking rounds pay no exceptAll at all, the true fixpoint pays
    // exactly one.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(hi, lo))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edgeSig = signature(edges)
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"connectedComponents did not converge in $maxRounds rounds")
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == edgeSig && next.exceptAll(edges).isEmpty
      edges = next
      edgeSig = nextSig
    }
    // fixpoint = stars: (member -> center) edges; centers label themselves
    edges.select(col("hi").as("id"), col("lo").as("comp"))
      .unionByName(
        edges.select(col("lo").as("id"), col("lo").as("comp")).distinct())
  }

  /** Apply a drop list (anti-join — no payload from the drop side).
    *
    * Scale note: when the drop list fits a broadcast, Catalyst plans
    * BroadcastHashJoin(LeftAnti) and the corpus never shuffles — this
    * plain form is then optimal. When it does NOT fit (100 TB corpora
    * drop billions of ids), the anti-join becomes a SortMergeJoin that
    * shuffles the FULL corpus — payload columns included — to drop a
    * few percent of it; use [[pruneDuplicatesBloom]] there. (Spark's
    * own runtime bloom injection, `InjectRuntimeFilter`, never fires on
    * this shape: it requires a selective predicate on the creation
    * side, and a drop list has none — the list IS the filter.)
    */
  def pruneDuplicates(df: DataFrame, id: Column, dropList: DataFrame): DataFrame =
    df.join(dropList, id === col("drop_id"), "left_anti")

  /** Drop-list application for lists too big to broadcast: probe a
    * bloom filter of the drop ids MAP-SIDE, so only the maybe-hits
    * (true drops + `fpp` false positives) reach the anti-join shuffle —
    * rows the filter has definitely not seen are keepers without
    * touching an exchange. The shuffled volume falls from |corpus| to
    * ~|drops| + fpp·|corpus| at the cost of a second map-only pass over
    * the corpus (scans are cheap where shuffles are not; measured 3.2×
    * at 10 M rows × 5% drops — BASELINE.md).
    *
    * The filter is built with one distributed pass over the drop list
    * (`stat.bloomFilter` merges per-partition sketches on the driver)
    * and ships to executors by reference ([[graft.functions.Bloom]]) —
    * at the default fpp 3% that is ~0.9 MB per million drops, so the
    * driver/closure bound is ~100 M drops; beyond that, shard the drop
    * list by id range and apply per shard, or accept the plain
    * anti-join.
    *
    * Bit-equal to [[pruneDuplicates]] by construction: false positives
    * still go through the exact anti-join; false negatives do not exist.
    */
  def pruneDuplicatesBloom(df: DataFrame, id: Column, dropList: DataFrame,
      expectedDrops: Long, fpp: Double = 0.03): DataFrame = {
    require(expectedDrops > 0, s"expectedDrops must be positive, got $expectedDrops")
    val bf = dropList.select(col("drop_id").cast("long").as("drop_id"))
      .stat.bloomFilter("drop_id", expectedDrops, fpp)
    // NULL ids (or ids that fail the long cast): the probe is NULL, and
    // NULL must land on the KEEP side — the plain anti-join keeps them
    // (NULL = drop_id never matches). coalesce(..., false) routes them
    // there instead of silently dropping them from BOTH branches.
    val maybe = coalesce(
      graft.functions.Bloom.mightContain(id.cast("long"), bf), lit(false))
    df.filter(!maybe)
      .unionByName(df.filter(maybe).join(dropList, id === col("drop_id"), "left_anti"))
  }

  /** D3 — SimHash per document, MAP-ONLY: each token occurrence votes ±1
    * on every bit of its 60-bit md5-prefix hash; bit b of the result is set
    * when the vote sum is positive (⟺ 2·#set > n). The votes are folded in
    * the one compiled [[TextNative.stats]] pass per document — no explode,
    * no groupBy, zero shuffles. 60 bits (not 64): the md5-prefix hash is
    * 15 hex chars so it stays positive in a signed int64 on both engines;
    * the 64-bit construction would need unsigned arithmetic DuckDB's
    * BIGINT can't mirror. `bits` < 60 keeps the low `bits` votes
    * ([[simhashBits]]); the per-bit vote fold is the test witness
    * (`graft.Witness.simhash`, TextNativeSpec).
    */
  def simhash(df: DataFrame, text: Column, id: Column, bits: Int = 60): DataFrame =
    df.select(id.as("doc_id"),
      simhashBits(TextNative.stats(text, TextOps.EnStopwords), bits).as("simhash"))

  /** The `bits`-bit simhash word from a [[TextNative.stats]] struct: its
    * 60-bit word (votes folded in the one compiled per-doc pass) masked to
    * the low `bits` bits. Each bit is an independent majority vote, so the
    * mask IS the `bits`-bit simhash; null text hashes to 0.
    */
  private[graft] def simhashBits(stats: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 60, s"simhash bits must be in [1, 60], got $bits")
    val word = coalesce(stats.getField("simhash"), lit(0L))
    if (bits == 60) word else word.bitwiseAND(lit((1L << bits) - 1))
  }

  /** D3b — near-dup pair histogram by Hamming distance: band the simhash
    * into `bands` disjoint `bandBits`-bit slices; pairs within Hamming≤k
    * must agree on ≥1 band when k < bands, so the equi-join per band is a
    * recall-complete candidate filter for maxDist < bands (and recall-
    * biased above). Then exact bit_count(xor) on candidates only.
    *
    * Scale: for random hashes a band matches with probability 2^-bandBits,
    * so candidate volume is ~bands·n²/2^bandBits — 15-bit bands give
    * n²/32768 per band vs n²/256 for the old 8-bit/32-bit construction.
    */
  def simhashHammingHist(sh: DataFrame, maxDist: Int = 3,
      bands: Int = 4, bandBits: Int = 15): DataFrame = {
    val mask = (1L << bandBits) - 1
    // collapse to DISTINCT simhash values first (Hamming distance is a
    // function of the value pair, multiplicity is a weight): the band
    // self-join runs over distinct values and the histogram never
    // materializes a doc pair — duplicated corpora cost a groupBy, not a
    // quadratic join. Equal-value pairs (Hamming 0) are pure counting.
    val vals = sh.groupBy("simhash").agg(count(lit(1)).as("m"))
    val slices = vals.select(col("simhash"), col("m"),
      explode(array((0 until bands).map(k =>
        struct(lit(k).as("k"),
          shiftright(col("simhash"), bandBits * k).bitwiseAND(lit(mask)).as("slice"))): _*)).as("kb"))
      .select(col("simhash"), col("m"),
        col("kb.k").as("k"), col("kb.slice").as("slice"))
    val cross = slices.as("x").join(slices.as("y"),
        col("x.k") === col("y.k") && col("x.slice") === col("y.slice") &&
          col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("s1"), col("y.simhash").as("s2"),
        col("x.m").as("m1"), col("y.m").as("m2"))
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxDist)
      .select(col("hamming"), (col("m1") * col("m2")).as("w"))
    val intra = vals.filter(col("m") > 1)
      .select(lit(0).as("hamming"),
        // integral C(m,2): Spark's `/` is double division — shiftright
        // keeps w (and the summed n_pairs) BIGINT like the oracle's count
        shiftright(col("m") * (col("m") - 1), 1).as("w"))
    (if (maxDist >= 0) cross.unionByName(intra) else cross)
      .groupBy("hamming")
      .agg(sum(col("w")).as("n_pairs"))
  }

  /** D4 (exact-within-block variant) — token-set Jaccard for all pairs
    * within a blocking key: explode distinct tokens, equi-join on
    * (block, token) to count intersections, derive |A∪B| from per-doc set
    * sizes. Quadratic WITHIN a block — only safe when the caller's blocking
    * key bounds block size. For corpus-scale runs use
    * [[jaccardOnCandidates]] over [[lshCandidatePairs]] output instead.
    */
  def tokenJaccardPairs(df: DataFrame, text: Column, id: Column,
      block: Column, minJaccard: Double): DataFrame = {
    val toks = df.select(block.as("blk"), id.as("doc_id"),
      explode(array_distinct(TextNative.tokens(text))).as("t"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = toks.as("x").join(toks.as("y"),
        col("x.blk") === col("y.blk") && col("x.t") === col("y.t") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_id1"), col("y.doc_id").as("doc_id2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("za"), col("doc_id1") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_id2") === col("zb.doc_id"))
      .select(col("doc_id1"), col("doc_id2"), col("n_inter"),
        (col("za.sz") + col("zb.sz") - col("n_inter")).as("n_union"))
      .withColumn("jaccard",
        try_divide(col("n_inter").cast("double"), col("n_union").cast("double")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** D4 at scale — exact token-set Jaccard computed ONLY for candidate
    * pairs (normally [[lshCandidatePairs]] over a 1-gram
    * [[minhashSignature]], i.e. token-set LSH): join each pair to its two
    * token sets and intersect per row. No (block, token) self-join, no
    * quadratic term anywhere — cost is linear in candidates, and candidate
    * volume is bounded by the LSH band threshold (~(1/bands)^(1/rows)).
    */
  def jaccardOnCandidates(df: DataFrame, text: Column, id: Column,
      candidates: DataFrame, minJaccard: Double): DataFrame = {
    val tsets = df.select(id.as("doc_id"),
      sort_array(array_distinct(TextNative.tokens(text))).as("__ts"))
    candidates.select("doc_id1", "doc_id2")
      .join(tsets.select(col("doc_id").as("doc_id1"), col("__ts").as("__tsa")), "doc_id1")
      .join(tsets.select(col("doc_id").as("doc_id2"), col("__ts").as("__tsb")), "doc_id2")
      .select(col("doc_id1"), col("doc_id2"),
        TextNative.sortedIntersectSize(col("__tsa"), col("__tsb"))
          .cast("long").as("n_inter"),
        (size(col("__tsa")) + size(col("__tsb"))).cast("long").as("__sz"))
      .select(col("doc_id1"), col("doc_id2"), col("n_inter"),
        (col("__sz") - col("n_inter")).as("n_union"))
      .withColumn("jaccard",
        try_divide(col("n_inter").cast("double"), col("n_union").cast("double")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** D4 at corpus scale — exact-dedup-then-near-dup composition. MinHash,
    * LSH banding, and token-set Jaccard are all pure functions of the token
    * SET, so documents are first collapsed to distinct-token-set classes
    * (one groupBy) and every quadratic-ish stage — the band bucket join and
    * the exact intersections — runs on classes, not documents. Duplicated
    * corpora (the norm at 100 TB: mirrors, boilerplate, template clones)
    * collapse heavily, so the bucket join sees only unique sets; doc-level
    * pairs are recovered at the end by expanding class pairs through the
    * member lists (linear in output size, which is the lower bound).
    * Same result set as [[jaccardOnCandidates]] over doc-level
    * [[lshCandidatePairs]]: intra-class pairs (identical sets) are always
    * LSH candidates and have Jaccard exactly 1. Pairs of empty/null token
    * sets are excluded (Jaccard undefined — null in the pairwise formula).
    * Measured at sf0.1 (5 000 docs → 2 150 classes, 2.7 M output pairs):
    * 48 s → ~8 s vs doc-level candidates.
    */
  def jaccardPairsAtScale(df: DataFrame, text: Column, id: Column,
      minJaccard: Double, n: Int = 16, bands: Int = 4,
      rowsPerBand: Int = 4, broadcastClasses: Boolean = true): DataFrame = {
    val (classes, classJ) =
      classJaccard(df, text, id, minJaccard, n, bands, rowsPerBand,
        broadcastClasses)
    expandClassPairs(classes, classJ, minJaccard)
  }

  /** Doc-pair expansion of the class-level Jaccard relation — shared by
    * [[jaccardPairsAtScale]] and the guarded entry (which supplies its own
    * checkpointed class table).
    */
  private def expandClassPairs(classes: DataFrame, classJ: DataFrame,
      minJaccard: Double): DataFrame = {
    val cross = classJ
      .select(explode(col("__ma")).as("__a"), col("__mb"),
        col("n_inter"), col("n_union"), col("jaccard"))
      .select(col("__a"), explode(col("__mb")).as("__b"),
        col("n_inter"), col("n_union"), col("jaccard"))
      .select(least(col("__a"), col("__b")).as("doc_id1"),
        greatest(col("__a"), col("__b")).as("doc_id2"),
        col("n_inter"), col("n_union"), col("jaccard"))
    val intra = classes
      .filter(size(col("__members")) > 1 && size(col("__ts")) > 0)
      .select(size(col("__ts")).cast("long").as("__sz"),
        explode(col("__members")).as("__a"), col("__members").as("__mb"))
      .select(col("__a"), explode(col("__mb")).as("__b"), col("__sz"))
      .filter(col("__a") < col("__b"))
      .select(col("__a").as("doc_id1"), col("__b").as("doc_id2"),
        col("__sz").as("n_inter"), col("__sz").as("n_union"),
        lit(1.0).as("jaccard"))
    if (minJaccard > 1.0) cross else cross.unionByName(intra)
  }

  /** D4c — the near-dup CENSUS: the aggregate a 100 TB corpus run actually
    * wants from d4 — how MUCH near-duplication, at what similarity — with
    * pair counts carried as CLASS-pair weights (|A|·|B| cross,
    * C(|A|,2) intra), so NOTHING doc-level is ever materialized: d4's
    * 281 M-pair sf10 output (306.7 s, output-bound — BASELINE.md) becomes
    * a ~5-row histogram whose cost is the candidate generation alone.
    * Buckets are floor(jaccard·20) (0.05-wide); `n_pairs` matches
    * count(*) over [[jaccardPairsAtScale]]'s output exactly (the oracle
    * aggregates the committed d4 oracle's doc pairs — same multiset).
    */
  def jaccardCensusAtScale(df: DataFrame, text: Column, id: Column,
      minJaccard: Double, n: Int = 16, bands: Int = 4,
      rowsPerBand: Int = 4, broadcastClasses: Boolean = true): DataFrame = {
    val (classes, classJ) =
      classJaccard(df, text, id, minJaccard, n, bands, rowsPerBand,
        broadcastClasses)
    val crossW = classJ.select(
      (size(col("__ma")).cast("long") * size(col("__mb")).cast("long"))
        .as("__w"),
      col("jaccard"))
    val m = size(col("__members")).cast("long")
    val intraW = classes
      .filter(size(col("__members")) > 1 && size(col("__ts")) > 0)
      // `/` on Columns is DOUBLE division — exact here (pair counts are
      // far below 2^53) but the census column is a COUNT: keep it integral
      .select((m * (m - 1) / 2).cast("long").as("__w"),
        lit(1.0).as("jaccard"))
    (if (minJaccard > 1.0) crossW else crossW.unionByName(intraW))
      .groupBy(floor(col("jaccard") * 20).cast("long").as("bucket"))
      .agg(sum(col("__w")).as("n_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** Shared core of [[jaccardPairsAtScale]] / [[jaccardCensusAtScale]]:
    * (classes, class-pair Jaccard rows ≥ minJaccard with both member
    * lists). Kept private — callers choose expansion (doc pairs) or
    * aggregation (census) over the SAME class-level relation.
    */
  private def classJaccard(df: DataFrame, text: Column, id: Column,
      minJaccard: Double, n: Int, bands: Int, rowsPerBand: Int,
      broadcastClasses: Boolean): (DataFrame, DataFrame) =
    classJaccardOn(tokenSetClasses(df, text, id).localCheckpoint(),
      minJaccard, n, bands, rowsPerBand, broadcastClasses)

  /** [[classJaccard]] over an already-materialized class table. The class
    * table feeds FIVE consumers (the band join's stream and broadcast
    * sides, both enrichment lookups, the intra-class branch); broadcast
    * subtrees get no exchange reuse, so an un-materialized class table is
    * re-evaluated — scan, tokenize, shuffle, collect_list — once per
    * consumer (measured in round 16: 5 parquet scans of the corpus in
    * d4's physical plan, ~0.7 s per evaluation at sf0.1). Callers
    * localCheckpoint the classes ONCE; the round-6 adjudication that
    * checkpointing nets out slower predates the broadcast-class lookup,
    * which made the aggregation's output partitioning irrelevant (every
    * downstream join is map-side now, so nothing re-shuffles either way).
    */
  private def classJaccardOn(classes: DataFrame,
      minJaccard: Double, n: Int, bands: Int, rowsPerBand: Int,
      broadcastClasses: Boolean): (DataFrame, DataFrame) = {
    val classPairs = classBandPairs(classes, n, bands, rowsPerBand)
      // REBALANCE the candidate stream before the per-pair merge walks:
      // the band join's output is skewed by construction (hot buckets
      // produce most matches, concentrated in whichever probe tasks hold
      // the hot classes), and the downstream enrichment + intersection is
      // the expensive per-row stage. The old `.distinct()` paid this
      // exchange implicitly on the RAW multi-band stream; with the
      // map-side firstCollision dedupe the exchange moves AFTER the
      // dedupe, shuffling ~bands× fewer rows of two longs each (§2.5).
      .repartition(col("cid1"), col("cid2"))
      // candidate-density telemetry (VERDICT r6): this count / the class
      // count is the banding's selectivity — readable per run via
      // observedMetrics; [[bandCandidateDensity]] is the pre-flight form
      .observe(s"dedup_density_${obsId.incrementAndGet()}",
        count(lit(1)).as("n_candidate_pairs"))
    // 4. exact Jaccard once per class pair + 5. expansion to doc pairs —
    // both sides' token sets AND member lists come from ONE shared lookup
    // joined twice under bare aliases: the aliased children canonicalize
    // identically, so the lookup's exchange is built once and REUSED for
    // the second join (naming the sides via post-join projections instead
    // would make the plans differ and re-evaluate the whole class
    // aggregation per join — measured as most of the query's cost).
    // `broadcastClasses` (default): the class table is ~(tokens + members)
    // bytes per CLASS — a few hundred bytes × #distinct-token-sets, orders
    // of magnitude below the corpus — so broadcasting it turns both
    // enrichment joins map-side and the candidate-pair stream (the big
    // side: near-quadratic in corpus self-similarity) never shuffles its
    // payload arrays at all. Measured at sf0.1 (2.75 M class pairs): the
    // shuffle form ships ~1.6 GB of token arrays; the broadcast ships
    // ~1.4 MB once. Disable for corpora whose CLASS COUNT itself is too
    // big to broadcast (≳10⁷ classes) — the shuffle join is the fallback,
    // not a different result.
    val info0 = classes.select(col("cid"), col("__ts"), col("__members"))
    val info = if (broadcastClasses) broadcast(info0) else info0
    val enriched = classPairs
      .join(info.as("i1"), col("cid1") === col("i1.cid"))
      .join(info.as("i2"), col("cid2") === col("i2.cid"))
      .select(
        col("i1.__ts").as("__tsa"), col("i1.__members").as("__ma"),
        col("i2.__ts").as("__tsb"), col("i2.__members").as("__mb"))
    val classJ = enriched
      .select(col("__ma"), col("__mb"),
        // class keys are sorted distinct token arrays -> one native merge
        // walk per pair (no per-pair hash table, no materialized
        // intersection; millions of pairs per query at corpus scale)
        TextNative.sortedIntersectSize(col("__tsa"), col("__tsb"))
          .cast("long").as("n_inter"),
        (size(col("__tsa")) + size(col("__tsb"))).cast("long").as("__sz"))
      .select(col("__ma"), col("__mb"), col("n_inter"),
        (col("__sz") - col("n_inter")).as("n_union"))
      .withColumn("jaccard",
        try_divide(col("n_inter").cast("double"), col("n_union").cast("double")))
      .filter(col("jaccard") >= minJaccard)
    (classes, classJ)
  }

  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** Step 1 of the at-scale pipelines: collapse documents to
    * distinct-token-set classes; the smallest member id is the class key
    * (unique, numeric — no hash-collision risk on the join key).
    */
  private def tokenSetClasses(df: DataFrame, text: Column,
      id: Column): DataFrame =
    df.select(id.as("doc_id"),
        sort_array(array_distinct(TextNative.tokens(text))).as("__ts"))
      .groupBy("__ts").agg(collect_list(col("doc_id")).as("__members"))
      .withColumn("cid", array_min(col("__members")))

  /** Steps 2–3: class-level MinHash signature (native kernels: HashModP →
    * MinhashFromHashes replace the per-element md5 transform + n
    * interpreted minhashCol folds) and LSH band join (same construction
    * as [[lshCandidatePairs]]) → distinct candidate class pairs
    * (cid1 &lt; cid2).
    */
  private def classBandPairs(classes: DataFrame, n: Int, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val hashed = classes.select(col("cid"),
      TextNative.minhashFromHashes(
        TextNative.hashModP(col("__ts")), n).as("__sig"))
    val csig = hashed.select(col("cid") +: (0 until n).map(i =>
      element_at(col("__sig"), i + 1).as(f"mh$i%02d")): _*)
    val bkeyCols = (0 until bands).map { b =>
      val ks = (0 until rowsPerBand).map(r => col(f"mh${b * rowsPerBand + r}%02d"))
      TextHash.tokenHash(concat_ws(",", ks: _*))
    }
    val exploded = csig
      .select(col("cid"), array(bkeyCols: _*).as("__bks"))
      // explode an array-of-structs literal, NOT the __bks reference — see
      // bandExplode's note on InferFiltersFromGenerate inlining the hash
      // kernel below the projections otherwise
      .select(col("cid"), col("__bks"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            element_at(col("__bks"), b + 1).as("bkey"))): _*)).as("bk"))
      .select(col("cid"), col("__bks"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    exploded.as("x")
      .join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.cid") < col("y.cid"))
      // multi-band collisions dedupe map-side ([[firstCollision]]) — the
      // old `.distinct()` shuffled the whole near-quadratic candidate
      // stream (the second-largest stage of d4 in round 16's per-stage
      // profile)
      .filter(firstCollision(col("x.__bks"), col("y.__bks"), col("x.band"), bands))
      .select(col("x.cid").as("cid1"), col("y.cid").as("cid2"))
  }

  /** Pre-flight admission check for banded dedup on an UNKNOWN corpus:
    * the documented failure class of ANY banding scheme is a low-entropy
    * token universe (e.g. every doc drawing from the same 64-word
    * vocabulary) — token sets all look alike, band keys collide
    * everywhere, and the "sub-quadratic" candidate stage silently
    * degenerates toward all-pairs. This runs ONLY the class collapse +
    * band join with two-long rows (none of the token-array enrichment,
    * intersection, or member-expansion work the full pipeline pays) and
    * returns (nClasses, nCandidatePairs); pairs/class is the density
    * dial.
    *
    * At 100 TB this is the cheap probe you run on a new corpus — or on a
    * SAMPLE of it (density is a ratio; a uniform doc sample estimates
    * it) — before committing the cluster to the full pipeline.
    */
  def bandCandidateDensity(df: DataFrame, text: Column, id: Column,
      n: Int = 16, bands: Int = 4, rowsPerBand: Int = 4): (Long, Long) = {
    val classes = tokenSetClasses(df, text, id)
    // one job: count classes and pairs together via a cheap union trick?
    // two tiny count jobs keep the plan trivial — each is two-long rows
    val nClasses = classes.count()
    val nPairs = classBandPairs(classes, n, bands, rowsPerBand).count()
    (nClasses, nPairs)
  }

  /** [[jaccardPairsAtScale]] behind the density guard (ADVICE r6 ×2):
    * refuses to run the quadratic-prone stage when banding is not
    * actually pruning, and picks broadcast-vs-shuffle for the class
    * lookup from the MEASURED class count instead of an unconditional
    * broadcast hint (a ≳10⁷-class corpus would OOM the driver under the
    * old default=true).
    *
    * The dial is SELECTIVITY — candidate pairs as a fraction of all
    * class pairs C·(C−1)/2 — not pairs-per-class: a corpus with large
    * genuine duplication clusters produces many pairs per class and
    * that is legitimate, output-bound work; what banding must deliver is
    * pruning RELATIVE TO ALL-PAIRS, and a low-entropy vocabulary is
    * exactly the case where it can't (selectivity → 1). Costs one extra
    * banding pass — the expert path [[jaccardPairsAtScale]] stays
    * zero-overhead for corpora whose density is already known.
    */
  def jaccardPairsAtScaleGuarded(df: DataFrame, text: Column, id: Column,
      minJaccard: Double, n: Int = 16, bands: Int = 4, rowsPerBand: Int = 4,
      maxSelectivity: Double = 0.05,
      maxBroadcastClasses: Long = 5000000L): DataFrame = {
    // The guard and the real run SHARE one materialized class table
    // (round 16): the old shape ran bandCandidateDensity — which rebuilt
    // the class collapse twice for its two counts — and then the full
    // pipeline rebuilt it five more times. Checkpoint once; the guard's
    // counts are cheap jobs over the cached partitions.
    val classes = tokenSetClasses(df, text, id).localCheckpoint()
    val nClasses = classes.count()
    val nPairs = classBandPairs(classes, n, bands, rowsPerBand).count()
    val allPairs = nClasses.toDouble * (nClasses - 1).toDouble / 2.0
    val sel = if (allPairs == 0) 0.0 else nPairs.toDouble / allPairs
    if (sel > maxSelectivity)
      throw new IllegalStateException(
        f"banded dedup admission check failed: $nPairs candidate pairs over " +
          f"$nClasses token-set classes = $sel%.3f of all class pairs > " +
          f"$maxSelectivity%.3f — the corpus vocabulary is too low-entropy " +
          "for LSH banding to prune (near-all-pairs work ahead). Raise " +
          "rowsPerBand / lower bands to sharpen buckets, pre-shard the " +
          "corpus, or raise maxSelectivity to accept the cost explicitly.")
    val (cls, classJ) = classJaccardOn(classes, minJaccard, n, bands,
      rowsPerBand, broadcastClasses = nClasses <= maxBroadcastClasses)
    expandClassPairs(cls, classJ, minJaccard)
  }

  /** D8 — duplicated-span census: word n-gram spans that occur in ≥
    * `minDocs` distinct documents, with corpus-wide occurrence counts —
    * the discovery half of substring-level dedup (the "duplicated
    * 50-token span" pass modern training corpora run after doc-level
    * dedup; doc-level passes miss boilerplate shared across otherwise
    * distinct pages).
    *
    * Exactly-distinct doc counts WITHOUT `countDistinct`'s expand: the
    * first aggregate collapses (span, doc) to per-doc occurrence counts,
    * the second counts the survivors — two exchanges, but the second is
    * over already-collapsed rows (≤ one per (span, doc) pair), and both
    * are plain hash aggregates with map-side partials. Everything is
    * keyed by the span hash, so at 100 TB the stage buckets/salts like
    * any other key'd aggregate; no stage is quadratic in duplication
    * (contrast [[tokenJaccardPairs]], which must pair docs up).
    *
    * Spans are hashed ([[TextHash.tokenHash]], 60-bit md5 prefix) so the
    * shuffle carries 8-byte keys, not n-word strings, and the DuckDB
    * oracle replays bit-exactly.
    */
  def spanCensus(df: DataFrame, text: Column, id: Column, n: Int,
      minDocs: Int = 2): DataFrame =
    df.select(id.as("doc_id"),
        explode(TextNative.wordNgramHashes(text, n, distinct = false))
          .as("span_hash"))
      .groupBy(col("span_hash"), col("doc_id"))
      .agg(count(lit(1)).as("__occ"))
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__occ")).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)

  /** C2 — corpus-level LINE dedup (the C4/CCNet boilerplate pass): a line
    * occurring in ≥ `minDocs` DISTINCT documents is boilerplate (nav
    * bars, cookie banners, licence headers); keep it only in the
    * lowest-id document containing it and strip it from every other,
    * then reassemble each document's surviving lines in original order.
    * This is the REMOVAL half that [[spanCensus]] is the discovery half
    * of — census counts duplicated spans, this rewrites the corpus.
    *
    * One row per input doc: `doc_id`, `n_lines`, `n_lines_kept`,
    * `text_clean` ('' when every line was boilerplate owned elsewhere —
    * fully-emptied docs are preserved via the left join back to the
    * input, so a downstream length filter can drop them EXPLICITLY).
    *
    * Scale shape (the reason this form survives 100 TB):
    *   - lines shuffle by their 60-bit hash, never by content pairs — no
    *     stage is quadratic in duplication (the d8 discipline);
    *   - the census is distinct + hash-agg with map-side partials;
    *     keep_doc = min(doc_id) makes ownership deterministic without
    *     any window or global sort;
    *   - the join back is an equi-join on the hash (runtime bloom prunes
    *     the probe side exactly like [[pruneDuplicatesBloom]]'s
    *     drop-list application when duplicates are sparse);
    *   - reassembly is one exchange on doc_id; per-doc collect_list is
    *     bounded by document size, not corpus size.
    */
  def lineDedup(df: DataFrame, text: Column, id: Column,
      minDocs: Int = 2): DataFrame = {
    val base = df.select(id.as("doc_id"), text.as("__text"))
    val lines = base
      .select(col("doc_id"),
        posexplode(split(col("__text"), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lhash", TextHash.tokenHash(col("__line")))
    val census = lines.select(col("__lhash"), col("doc_id")).distinct()
      .groupBy("__lhash")
      .agg(count(lit(1)).as("__n_docs"), min(col("doc_id")).as("__keep_doc"))
    val kept = lines.join(census, "__lhash")
      .filter(col("__n_docs") < minDocs || col("doc_id") === col("__keep_doc"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("__kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            s => s.getField("__line")),
          "\n").as("__clean"))
    base
      .select(col("doc_id"),
        size(split(col("__text"), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("__kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("__clean"), lit("")).as("text_clean"))
  }

  // ----------------------------------------------- incremental ingest

  /** Incremental EXACT-dedup ingest against a persisted corpus lake —
    * the continuous corpus-building shape: each arriving slice is
    * fingerprinted in one native walk ([[graft.operators.TextOps
    * .normalizedFingerprint]] — formatting variants collapse), deduped
    * WITHIN the slice (keep-first by id, the reference's F4 rule), then
    * anti-joined against the fingerprints already IN the lake, and only
    * the survivors are appended (carrying their `fp` so they become the
    * next slice's history — no separate fingerprint store to keep in
    * sync). Precedence is first-ARRIVAL-wins; when slices arrive in
    * ascending id order this equals the global min-id-per-fingerprint
    * dedup (the oracle-pinned case).
    *
    * Scale: the history side is a single-column `fp` scan (column
    * pruning reaches the parquet footers through the manifest read);
    * Catalyst broadcasts it while it fits and AQE takes over beyond —
    * for drop-lists past broadcast range compose [[pruneDuplicatesBloom]]
    * on the same column ([[ingestDedupBloom]] is exactly that
    * composition, pre-wired). Naturally idempotent: re-ingesting a
    * slice finds every fingerprint already in history and appends
    * nothing.
    *
    * NULL text is NOT a document: rows whose `textCol` is null carry no
    * fingerprint, so no dedup semantics can apply to them — they are
    * DROPPED, within-slice and cross-slice alike (the same "NULLs are
    * skipped" rule as SQL COUNT DISTINCT and [[Hll.registers]]). This
    * is also what keeps the ingest idempotent: any pass-through choice
    * would re-append the null rows on every replay. Route null-text
    * rows to a quarantine upstream if they matter.
    *
    * Returns (lake version after the append, rows kept from this slice).
    */
  def ingestDedup(spark: org.apache.spark.sql.SparkSession, root: String,
      batch: DataFrame, idCol: String, textCol: String): (Long, Long) = {
    import graft.sinks.SnapshotLake
    val first = sliceFirst(batch, idCol, textCol)
    val survivors =
      if (SnapshotLake.latestVersion(spark, root).isEmpty) first
      // re-select in `first`'s order: the join hoists its key column to
      // the front, and lake appends are schema-ORDER strict
      else first.join(SnapshotLake.read(spark, root).select(col("fp")),
        Seq("fp"), "left_anti").select(first.columns.map(col): _*)
    appendCounted(spark, root, survivors, idCol)
  }

  /** Append `survivors` and return (version, rows kept) with the kept
    * count OBSERVED on the append's own write — the old shape persisted
    * the frame and ran a separate count job before the append, doubling
    * the per-slice job constant for a number the write computes anyway.
    */
  private def appendCounted(spark: org.apache.spark.sql.SparkSession,
      root: String, survivors: DataFrame, idCol: String): (Long, Long) = {
    val obs = org.apache.spark.sql.Observation(
      s"ingest-kept-${obsId.incrementAndGet()}")
    val v = graft.sinks.SnapshotLake.append(spark, root,
      survivors.observe(obs, count(lit(1)).as("kept")),
      statsCols = Seq(idCol))
    (v, obs.get("kept").asInstanceOf[Long])
  }

  /** Fingerprint a slice and keep the first arrival per fingerprint
    * within it (null text dropped — see [[ingestDedup]]'s contract).
    */
  private def sliceFirst(batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nf = TextOps.normalizedFingerprint(col(textCol))
    batch.filter(col(textCol).isNotNull)
      .withColumn("fp", nf.getField("fp"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("fp").orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** [[ingestDedup]] for a history past broadcast range: the cross-slice
    * anti-join is pre-filtered through a bloom filter of the lake's own
    * fp column ([[pruneDuplicatesBloom]] — maybe-hits go through the
    * exact anti-join, definite-misses never reach the shuffle), so the
    * shuffled volume is ~|history ∩ slice| + fpp·|slice| instead of the
    * full slice with payload. Bit-equal to [[ingestDedup]] by
    * construction (a bloom has no false negatives; false positives
    * still anti-join exactly), so both share one oracle.
    *
    * The filter is sized from the manifest's exact per-file row counts
    * ([[graft.sinks.SnapshotLake.summary]]'s discipline) — ZERO data
    * I/O to learn |history|. At the default fpp 3% that is ~0.9 MB per
    * million history docs; past ~100 M docs shard the history by fp
    * range (the [[pruneDuplicatesBloom]] doc's dial) or accept the
    * plain AQE anti-join. Same null-text and idempotence contract as
    * [[ingestDedup]].
    */
  def ingestDedupBloom(spark: org.apache.spark.sql.SparkSession, root: String,
      batch: DataFrame, idCol: String, textCol: String,
      fpp: Double = 0.03): (Long, Long) = {
    import graft.sinks.SnapshotLake
    val first = sliceFirst(batch, idCol, textCol)
    val histRows = SnapshotLake.latestVersion(spark, root)
      .map { v =>
        val files = SnapshotLake.manifest(spark, root, Some(v)).files
        // a pre-row-counts manifest would read as an EMPTY history and
        // silently skip the dedup — refuse instead (addStats backfills)
        val legacy = files.filter(_.rows < 0)
        require(legacy.isEmpty,
          s"ingestDedupBloom sizes its filter from the manifest's row " +
            s"counts; ${legacy.size} file(s) predate them (e.g. " +
            s"${legacy.take(2).map(_.rel).mkString(", ")}) — run " +
            "SnapshotLake.addStats (or compact) to backfill, or use " +
            "ingestDedup")
        files.map(_.rows).sum
      }
      .getOrElse(0L)
    val survivors =
      if (histRows == 0L) first
      else pruneDuplicatesBloom(first, col("fp"),
        SnapshotLake.read(spark, root).select(col("fp").as("drop_id")),
        expectedDrops = histRows, fpp = fpp)
        .select(first.columns.map(col): _*)
    appendCounted(spark, root, survivors, idCol)
  }

  /** Streaming form of [[ingestDedup]]: a `foreachBatch` handler with
    * [[graft.sinks.SnapshotLake.appendStream]]'s batch-id exactly-once
    * discipline (a replayed micro-batch is skipped whole; even without
    * the marker the ingest converges, since a replay finds its own
    * fingerprints in history).
    */
  def ingestDedupStream(root: String, idCol: String, textCol: String,
      streamId: String = "s0"): (DataFrame, Long) => Unit = { (df, batchId) =>
    import graft.sinks.SnapshotLake
    val spark = df.sparkSession
    val replay = SnapshotLake.lastCommittedBatch(spark, root, streamId)
      .exists(_ >= batchId)
    if (!replay) {
      // same null-text rule as ingestDedup: no fingerprint, no document
      val first = sliceFirst(df, idCol, textCol)
      val survivors =
        if (SnapshotLake.latestVersion(spark, root).isEmpty) first
        else first.join(SnapshotLake.read(spark, root).select(col("fp")),
          Seq("fp"), "left_anti").select(first.columns.map(col): _*)
      SnapshotLake.appendStream(root, statsCols = Seq(idCol),
        streamId = streamId)(survivors, batchId)
    }
  }
}
