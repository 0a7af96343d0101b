package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextNative}

/** Text-analysis operators for large-scale training-data pipelines (beyond
  * the reference per the build brief): token counting, language-ID heuristic,
  * quality scoring, document fingerprinting.
  *
  * Execution: every scalar here reads a field of ONE native [[graft.functions.TextStats]]
  * pass per document (compiled, codegen-compatible — whole-stage
  * subexpression elimination collapses the repeated struct subtree), while
  * the ratio arithmetic and its null semantics stay in Column land as the
  * exact when/otherwise shapes the DuckDB mirrors replay. The original
  * higher-order-function chains — interpreted per row, measured ~15 ms of
  * CPU per 300-char doc across a 5-expression quality pass — survive only
  * as test witnesses (`graft.Witness`), and the specs assert bit-equality
  * field by field.
  * A quality-score pass over 100 TB of documents remains a single map-only
  * scan; it just stops paying interpreted-tree prices for it.
  */
object TextOps {

  /** Stopword list for the language-ID / quality heuristics (tiny on
    * purpose: a real deployment swaps in per-language tables — the operator
    * shape is what matters).
    */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "in", "is", "and")

  /** The one-pass stats struct every scalar below reads from. Deterministic
    * and codegen'd, so repeated use inside one projection evaluates once
    * (subexpression elimination); null text → null struct, and the
    * when/otherwise wrappers below reproduce the legacy null behavior.
    */
  private def stats(text: Column): Column = TextNative.stats(text, EnStopwords)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = stats(text).getField("n_tokens")

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space characters — the classic pre-tokenizer regex.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Fraction of tokens that are stopwords (0 for empty docs). */
  def stopwordRatio(text: Column): Column = {
    val s = stats(text)
    val n = s.getField("n_tokens")
    when(n > 0,
      s.getField("n_stop").cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** n-gram-frequency language ID heuristic: stopword-hit ratio over a
    * per-language function-word profile; `en` when the ratio clears the
    * threshold. (Real language-ID adds char-trigram profiles per language;
    * the operator is the same single-pass expression shape.)
    */
  def langId(text: Column, threshold: Double = 0.05): Column =
    when(stopwordRatio(text) >= threshold, lit("en")).otherwise(lit("unk"))

  /** Per-language function-word profiles for [[langIdMulti]] (standard
    * closed-class words; tiny on purpose — swap per-deployment).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "of", "to", "in", "is", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "les", "et", "est", "pas", "une", "dans", "je"),
    "es" -> Seq("el", "los", "y", "es", "no", "una", "por", "que"))

  /** Multi-language ID: function-word hit ratio per profile from ONE
    * [[graft.functions.TermFreqs]] pass over the union vocabulary, winner
    * by first-in-order argmax over the threshold (deterministic
    * tie-break: profile order), `unk` when nothing clears it. The CASE
    * chain is written out (not `greatest`) so the DuckDB mirror is the
    * same decision procedure token for token.
    */
  def langIdMulti(text: Column, threshold: Double = 0.05): Column = {
    val vocab = LangProfiles.flatMap(_._2).distinct
    val idx = vocab.zipWithIndex.toMap
    val f = TextNative.termFreqs(text, vocab)
    val n = f.getField("dl")
    val ratios = LangProfiles.map { case (lang, words) =>
      val hits = words.map(w => element_at(f.getField("tf"), idx(w) + 1))
        .reduceLeft[Column](_ + _)
      lang -> when(n > 0, hits.cast("double") / n.cast("double"))
        .otherwise(lit(0.0))
    }
    val langs = ratios.map(_._1)
    ratios.zipWithIndex.foldRight(lit("unk")) { case (((lang, r), i), els) =>
      val beatsLater = langs.drop(i + 1)
        .map(l => r >= ratios.find(_._1 == l).get._2)
        .foldLeft(r >= threshold)(_ && _)
      when(beatsLater, lit(lang)).otherwise(els)
    }
  }

  /** Document quality score in [0,1]: equal-weight blend of
    * length score (tokens/50 capped at 1), alphabetic-token ratio,
    * type-token diversity, and closeness of the stopword ratio to a
    * natural-text ~0.4 (mirrors the reference's weighted quality score
    * shape, data_validator.py:135-186, re-targeted at text).
    */
  def qualityScore(text: Column): Column = {
    val s = stats(text)
    val n = s.getField("n_tokens").cast("double")
    val lenScore = least(lit(1.0), n / lit(50.0))
    val alphaRatio = s.getField("n_alpha").cast("double") / n
    val diversity = s.getField("n_distinct").cast("double") / n
    val stopCloseness =
      lit(1.0) - abs(stopwordRatio(text) - lit(0.4))
    when(n > 0,
      (lenScore + alphaRatio + diversity + stopCloseness) * lit(0.25))
      .otherwise(lit(0.0))
  }

  /** Text normalization for dedup robustness: lowercase, strip
    * non-alphanumerics to spaces, collapse whitespace — so formatting
    * variants of the same content fingerprint identically. Pure codegen
    * expression chain.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Normalize + fingerprint in ONE native walk: struct(norm_text, fp)
    * bit-equal to `normalizeText` + `fingerprint(normalizeText(...))`
    * (witnessed in TextNativeSpec) without the two regex passes and the
    * full stats walk the composed form pays. Use this when both the
    * normalized text and its content key are wanted — the 100 TB dedup
    * ingest shape.
    */
  def normalizedFingerprint(text: Column): Column =
    graft.functions.TextNative.normalizeFp(text)

  /** Order-sensitive rolling-hash fingerprint of the token stream:
    * h := (h*31 + tokenHash(t) mod P) mod P over tokens left-to-right,
    * P = 2^31−1. Detects exact token-sequence duplicates regardless of
    * whitespace/formatting; cheap enough to store as a content key.
    */
  def fingerprint(text: Column): Column = stats(text).getField("fingerprint")

  // ------------------------------------------------------------------
  // Repetition / shape filters (the Gopher-rule family)

  /** Fraction of word n-grams that are repeats of an earlier occurrence
    * (1 − distinct/total; 0 for docs shorter than n tokens). The linear-
    * time repetition signal behind the classic "duplicate n-grams" quality
    * rule: boilerplate and generation loops push it toward 1 while natural
    * text stays near 0. One compiled pass per row — no explode, no shuffle.
    * `n` is 2 or 3: the one-pass stats kernel counts exactly those.
    */
  def repeatedNgramRatio(text: Column, n: Int): Column = {
    require(n == 2 || n == 3, s"repeatedNgramRatio supports n = 2 or 3, got $n")
    val s = stats(text)
    val total = s.getField(s"rep${n}_total")
    val dist = s.getField(s"rep${n}_distinct")
    when(total > 0,
      (total - dist).cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean characters per whitespace token (0 for empty docs). Gibberish
    * and mark-up skew far from natural text's 3–10 band.
    */
  def meanWordLength(text: Column): Column = {
    val s = stats(text)
    val n = s.getField("n_tokens")
    when(n > 0,
      s.getField("char_sum").cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Fraction of characters outside [a-z0-9 ] (0 for empty strings) — the
    * symbol-to-text ratio rule that catches code dumps, tables, and
    * encoding junk.
    */
  def symbolRatio(text: Column): Column = {
    val s = stats(text)
    val total = s.getField("n_chars")
    val clean = s.getField("alnum_chars")
    when(total > 0,
      (total - clean).cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** First-failing-rule quality verdict over the Gopher-style rule chain:
    * token-count band → symbol ratio → mean-word-length band → repeated-
    * 2-gram ceiling → must contain a stopword. Returns the rule name or
    * `keep`, so a census GROUP BY verdict explains exactly why the corpus
    * shrank — the operational question every filtering pass gets asked.
    * Defaults are tuned to the synthetic corpus (a real deployment tunes
    * per source); one map-only pass at any scale.
    */
  def filterVerdict(
      text: Column,
      minTokens: Int = 20, maxTokens: Int = 90,
      maxSymbol: Double = 0.1,
      minWordLen: Double = 4.3, maxWordLen: Double = 4.7,
      maxRep2: Double = 0.05): Column = {
    val n = tokenCount(text)
    val mwl = meanWordLength(text)
    when(n < minTokens, lit("too_short"))
      .when(n > maxTokens, lit("too_long"))
      .when(symbolRatio(text) > maxSymbol, lit("symbols"))
      .when(mwl < minWordLen || mwl > maxWordLen, lit("word_length"))
      .when(repeatedNgramRatio(text, 2) > maxRep2, lit("repetitive"))
      .when(stopwordRatio(text) === 0.0, lit("no_stopwords"))
      .otherwise(lit("keep"))
  }

  // ------------------------------------------------------------------
  // Context-window chunking

  /** Split each document into fixed-token-budget chunks with overlap —
    * the context-window preparation step between cleaning and packing:
    * chunk k covers tokens [k·stride, k·stride + maxTokens) with
    * stride = maxTokens − overlap, so consecutive chunks share `overlap`
    * tokens and every token is covered. Docs within budget yield ONE
    * chunk; empty docs yield none.
    *
    * Output: (doc_id, chunk_id, n_tokens, chunk). Pure per-row explode —
    * map-only at any corpus size; the token array is materialized once
    * per doc (alias-once discipline) and every chunk is a slice of it.
    */
  def chunkByTokens(df: DataFrame, text: Column, id: Column,
      maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    val base = df.select(id.as("doc_id"),
      graft.functions.TextNative.tokens(text).as("__tk"))
    val n = size(col("__tk"))
    // 1 + ceil((n - maxTokens) / stride) chunks for non-empty docs;
    // integer `div` (floor on non-negatives) mirrors DuckDB's //
    val nChunks = when(n <= lit(0), lit(0))
      .when(n <= lit(maxTokens), lit(1))
      .otherwise(lit(1) +
        expr(s"(size(__tk) - $maxTokens + $stride - 1) div $stride"))
    base
      .withColumn("__nc", nChunks)
      .filter(col("__nc") > 0)
      .select(col("doc_id"), col("__tk"),
        explode(sequence(lit(0), col("__nc").cast("int") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(slice(col("__tk"), col("chunk_id") * lit(stride) + lit(1), lit(maxTokens)))
          .as("n_tokens"),
        array_join(slice(col("__tk"), col("chunk_id") * lit(stride) + lit(1), lit(maxTokens)), " ")
          .as("chunk"))
  }

  // ------------------------------------------------------------------
  // Character-bigram LM quality scoring

  /** Character classes for the bigram LM: a-z → 1..26, 0-9 → 27..36,
    * space → 37, anything else (incl. multi-byte) → 0. 38 classes keep
    * the model at 38² = 1444 slots — a ~12 KB literal any plan can
    * broadcast, the point of a CHARACTER model over a token model.
    */
  private val LmClasses = 38

  /** X11 — language-model quality scoring, the perplexity-filter shape
    * every LLM-corpus pipeline runs (CCNet/KenLM-style): train a smoothed
    * character-bigram model on the corpus itself, then score every doc
    * with its average negative log-likelihood — boilerplate and natural
    * prose score low, mojibake/junk/generated noise scores high, and the
    * nll column is the filter/stratification key downstream.
    *
    * Scale shape (two passes, both optimal):
    *  - TRAIN: per-doc slot lists explode into a hash aggregate — the
    *    partial combine collapses each task to ≤1444 (slot, count) rows
    *    before the shuffle, so training a 100 TB corpus shuffles
    *    kilobytes per task. The finished model is 1444 counts — a
    *    bounded driver collect (the codebook discipline), add-one
    *    smoothed per previous-class and folded into a log-prob literal.
    *  - SCORE: map-only — each doc left-folds its slot list over the
    *    broadcast literal (`aggregate` + `element_at`, all codegen'd
    *    HOFs), no join, no second shuffle.
    *
    * Determinism is oracle-grade: counts are exact longs, the smoothed
    * probability is one double division, the log is [[graft.functions
    * .JavaLog]]'s libm (DuckDB-identical), and the per-doc fold adds in
    * DOCUMENT ORDER — DuckDB's `list_reduce` replays the same left fold
    * bit-for-bit. Output: (doc_id, n_bigrams, nll); nll NULL below 2
    * chars.
    */
  def charLmScores(df: DataFrame, text: Column, id: Column): DataFrame =
    scoreCharLm(df, text, id, trainCharLm(df, text))

  /** TRAIN the char-bigram model: the 1444-slot log-prob table (see
    * [[charLmScores]] for the shape). A separate entry point so the
    * model can be FROZEN and shipped — trained once on a reference
    * corpus, then applied to any batch or STREAM (scoring is a
    * stateless map, so `scoreCharLm` drops straight into a streaming
    * select with no state store).
    */
  def trainCharLm(df: DataFrame, text: Column): Array[Double] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val nSlots = LmClasses * LmClasses
    // native one-pass slot walk (CharLmSlots; the HOF slot chain is its
    // test witness)
    val slots = ColumnBridge.column(graft.functions.CharLmSlots(
      ColumnBridge.expression(coalesce(text.cast("string"), lit("")))))
    val counts = df.select(explode(slots).as("slot"))
      .groupBy("slot").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val full = Array.tabulate(nSlots)(s => counts.getOrElse(s, 0L))
    val prevTot = Array.tabulate(LmClasses)(a =>
      (0 until LmClasses).map(b => full(a * LmClasses + b)).sum)
    // add-one smoothing over the 38 next-classes; java.lang.Math.log is
    // the same libm JavaLog pins for the column path
    Array.tabulate(nSlots) { s =>
      java.lang.Math.log(
        (full(s) + 1.0) / (prevTot(s / LmClasses) + LmClasses.toDouble))
    }
  }

  /** SCORE against a frozen model: ONE native code-point pass per doc
    * ([[graft.functions.CharLmScore]] — model in the expression object,
    * left fold in document order), bit-equal to the HOF formulation the
    * DuckDB oracle mirrors (`graft.Witness.scoreCharLm` in DedupSpec).
    */
  def scoreCharLm(df: DataFrame, text: Column, id: Column,
      model: Array[Double]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // NULL text scores like empty text ((0, null)) — the HOF witness's
    // when() semantics — rather than null-propagating the whole struct
    val s = ColumnBridge.column(graft.functions.CharLmScore(
      ColumnBridge.expression(coalesce(text.cast("string"), lit(""))), model))
    df.select(id.as("doc_id"), s.as("__s"))
      .select(col("doc_id"),
        col("__s.n_bigrams").as("n_bigrams"),
        col("__s.nll").as("nll"))
  }

  // ------------------------------------------------------------------
  // PII scrubbing

  /** Conservative ASCII patterns; RE2 ∩ java.util.regex syntax so the
    * DuckDB oracle applies the identical expressions.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
  val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** Count of matches of a PII pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Replace emails → [EMAIL], IPv4s → [IP], phones → [PHONE]. Email runs
    * first so a dotted mail domain can't be half-eaten by the IP rule;
    * the replacement tokens themselves match none of the later patterns.
    * Pure codegen'd regexp_replace chain — redacting a 100 TB corpus is a
    * map-only scan.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")
}
