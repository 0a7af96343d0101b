package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{OracleSql => O}
import graft.sources.Tables

/** Declared-query catalog for the text-analysis operators ([[TextOps]]) on
  * the `documents` table: language ID, quality scoring, token counting,
  * fingerprinting. Every expression mirrors its DuckDB oracle shape
  * (integer-ratio doubles, md5-derived hashes).
  */
object TextQueries {

  private[operators] val stopList = TextOps.EnStopwords.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Shared CTE: per-doc token list. */
  private val toksSql =
    s"WITH toks AS (SELECT doc_id, text, n_chars, ${O.tokens("text")} AS tk FROM documents)"

  private[operators] val stopRatioSql =
    s"CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> t IN $stopList)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x1_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.stopwordRatio(col("text")).as("stop_ratio"),
        TextOps.langId(col("text")).as("lang_pred"))),
    "x2_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))),
    "x3_token_counts" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_ws_tokens"),
        TextOps.subwordCount(col("text")).as("n_subwords"),
        col("n_chars"))),
    "x4_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),
    "x5_normalized_fp" -> ((s, dir) => {
      // one-walk kernel; TextNativeSpec asserts it equals the composed
      // normalizeText + fingerprint chain
      val nf = TextOps.normalizedFingerprint(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        nf.getField("norm_text").as("norm_text"),
        nf.getField("fp").as("fp"))
    }),
    "x6_repetition" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.repeatedNgramRatio(col("text"), 2).as("rep_2gram"),
        TextOps.repeatedNgramRatio(col("text"), 3).as("rep_3gram"),
        TextOps.meanWordLength(col("text")).as("mean_word_len"),
        TextOps.symbolRatio(col("text")).as("symbol_ratio"))),
    "x7_filter_verdict" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.filterVerdict(col("text")).as("verdict"))),
    "x8_pii_scrub" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), piiAugmented.as("aug"))
        .select(
          col("doc_id"),
          TextOps.piiCount(col("aug"), TextOps.EmailRe).as("n_emails"),
          TextOps.piiCount(col("aug"), TextOps.Ipv4Re).as("n_ips"),
          TextOps.piiCount(col("aug"), TextOps.PhoneRe).as("n_phones"),
          TextOps.scrubPii(col("aug")).as("scrubbed"))),
    "x9_source_quality" -> ((s, dir) => {
      val perDoc = Tables.documents(s, dir).select(
        col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"),
        (TextOps.filterVerdict(col("text")) === "keep").cast("long").as("is_keep"),
        TextOps.repeatedNgramRatio(col("text"), 2).as("rep2"))
      perDoc.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("is_keep").as("n_keep"),
          sum("n_tok").as("sum_tok"),
          max("rep2").as("max_rep2"))
        .select(
          col("source"), col("n_docs"), col("n_keep"),
          (col("n_keep").cast("double") / col("n_docs").cast("double")).as("keep_rate"),
          (col("sum_tok").cast("double") / col("n_docs").cast("double")).as("avg_tokens"),
          col("max_rep2"))
    }),
    // BM25 top-k lexical search (TextSearch): three mid-frequency corpus
    // terms; every double op mirrored in the oracle in fold order
    "bm1_bm25_topk" -> ((s, dir) =>
      TextSearch.bm25TopK(Tables.documents(s, dir), col("text"), col("doc_id"),
        Bm25Terms, 25)),
    // batched multi-query BM25 served from the persisted inverted index
    // (TextIndex.topKBatch): all queries in ONE job — postings ⋈
    // broadcast query terms, slot-ordered contribution fold, bounded-heap
    // per query_id; the oracle replays each query's full fold in DuckDB
    "bm2_bm25_batch" -> ((s, dir) => {
      val path = tidxCache.computeIfAbsent(dir, _ => {
        val p = graft.TempDirs.create("graft-tidx-query")
        TextIndex.build(Tables.documents(s, dir), col("text"), col("doc_id"),
          p, buckets = 64)
        p
      })
      import s.implicits._
      TextIndex.topKBatch(s, path,
        Bm25BatchQueries.toDF("query_id", "terms"), k = 15)
    }),
    "x10_lang_multi" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.langIdMulti(col("text")).as("lang_pred"))),
    "cw1_chunk_documents" -> ((s, dir) =>
      TextOps.chunkByTokens(Tables.documents(s, dir), col("text"),
        col("doc_id"), maxTokens = 40, overlap = 8)),
    // X11 — char-bigram LM perplexity scoring (the CCNet/KenLM quality
    // filter shape): model trained on the corpus itself (exact counts,
    // add-one smoothing, libm log), every doc scored with its avg
    // negative log-likelihood. The oracle retrains the identical model
    // in SQL and replays the per-doc fold in document order — bit-exact.
    "x11_charlm_nll" -> ((s, dir) =>
      TextOps.charLmScores(Tables.documents(s, dir), col("text"),
        col("doc_id")))
  )

  private[operators] val Bm25Terms = Seq("vector", "join", "spark")

  /** bm2's fixed query batch: mid-frequency corpus terms, one query with
    * an absent term (contributes +0.0 per the fold identity), sizes 2–4.
    */
  private[operators] val Bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("vector", "join", "spark"),
    2L -> Seq("stream", "filter"),
    3L -> Seq("hash", "merge", "window", "scan"),
    4L -> Seq("batch", "zzz_not_in_corpus"))

  /** One index per sf dir for bm2, built once and reused across the
    * verify/bench runs of a session (same lifecycle as VectorQueries'
    * index cache).
    */
  private val tidxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Deterministic PII augmentation for x8: the synthetic corpus carries no
    * PII, so both engines append identical doc_id-derived email / IPv4 /
    * phone spans (each on a different doc_id residue class, so PII-free
    * docs stay in the output) and the scrubber is exercised on real
    * matches. doc_ids are non-negative in every table this runs on; the
    * `%` forms below agree between engines on that domain.
    */
  private def piiAugmented: Column =
    concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" node at 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" up"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 555-"), (lit(1000) + col("doc_id") % 9000).cast("string"),
          lit(" today"))).otherwise(lit("")))

  /** BM25 mirror: one tf CTE (dl + per-term counts), one stats row, score
    * folded in term order with every double op parenthesized like the
    * Spark expression; ln is libm on both engines (JavaLog).
    */
  /** The per-query CTE chain (tf → stats → scored → ranked), suffixed so
    * several queries can share one WITH clause ([[bm25BatchSql]]).
    */
  private def bm25Ctes(terms: Seq[String], sfx: String): String = {
    val m = terms.size
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i"
    }.mkString(", ")
    val dfCols = (0 until m).map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i").mkString(", ")
    val avgdl = "(CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))"
    val dlNorm = s"(1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))"
    val contribs = (0 until m).map { i =>
      val df = s"CAST(df$i AS DOUBLE)"
      val idf = s"ln(1.0 + ((CAST(n AS DOUBLE) - $df) + 0.5) / ($df + 0.5))"
      s"($idf * ((CAST(tf$i AS DOUBLE) * (1.2 + 1.0)) / (CAST(tf$i AS DOUBLE) + $dlNorm)))"
    }
    val score = contribs.reduceLeft((a, b) => s"($a + $b)")
    s"""tf$sfx AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols FROM toks),
       |stats$sfx AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl, $dfCols FROM tf$sfx),
       |scored$sfx AS (
       |  SELECT doc_id, $score AS score FROM tf$sfx CROSS JOIN stats$sfx
       |),
       |ranked$sfx AS (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       |         doc_id, score
       |  FROM scored$sfx WHERE score > 0.0
       |)""".stripMargin
  }

  private def bm25Sql(terms: Seq[String], k: Int): String =
    s"""WITH toks AS (SELECT doc_id, ${O.tokens("text")} AS tk FROM documents),
       |${bm25Ctes(terms.distinct, "")}
       |SELECT rank, doc_id, score FROM ranked WHERE rank <= $k""".stripMargin

  /** bm2 mirror: each query's CTE chain is the bm1 mirror verbatim
    * (duplicate terms deduped like the engine), one UNION ALL stitches
    * the per-query top-k together — the oracle proves the one-job
    * batched engine path equals Q independent full-fold scorings.
    */
  private def bm25BatchSql(qs: Seq[(Long, Seq[String])], k: Int): String = {
    val ctes = qs.map { case (qid, terms) => bm25Ctes(terms.distinct, s"_q$qid") }
      .mkString(",\n")
    val selects = qs.map { case (qid, _) =>
      s"SELECT CAST($qid AS BIGINT) AS query_id, rank, doc_id, score FROM ranked_q$qid WHERE rank <= $k"
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT doc_id, ${O.tokens("text")} AS tk FROM documents),
       |$ctes
       |$selects""".stripMargin
  }

  /** langIdMulti mirror: one ratio per profile, the same first-in-order
    * argmax CASE chain (NOT greatest()) the Spark side folds.
    */
  private val langMultiSql: String = {
    val profiles = TextOps.LangProfiles
    val ratioCols = profiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("(", ", ", ")")
      s"CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> t IN $list)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS r_$lang"
    }.mkString(",\n       ")
    val langs = profiles.map(_._1)
    val whens = langs.zipWithIndex.map { case (lang, i) =>
      val conds = (s"r_$lang >= CAST('0.05' AS DOUBLE)" +:
        langs.drop(i + 1).map(l => s"r_$lang >= r_$l")).mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n         ")
    s"""WITH toks AS (SELECT doc_id, ${O.tokens("text")} AS tk FROM documents),
       |ratios AS (
       |  SELECT doc_id,
       |       $ratioCols
       |  FROM toks
       |)
       |SELECT doc_id,
       |       CASE $whens
       |         ELSE 'unk' END AS lang_pred
       |FROM ratios""".stripMargin
  }

  /** chunkByTokens mirror: same chunk-count arithmetic (// == `div` on
    * non-negatives), list_slice's INCLUSIVE end = start + maxTokens − 1.
    */
  private def chunkSql(maxTokens: Int, overlap: Int): String = {
    val stride = maxTokens - overlap
    s"""WITH toks AS (SELECT doc_id, ${O.tokens("text")} AS tk FROM documents),
       |counted AS (
       |  SELECT doc_id, tk,
       |         CASE WHEN len(tk) <= 0 THEN 0
       |              WHEN len(tk) <= $maxTokens THEN 1
       |              ELSE 1 + (len(tk) - $maxTokens + $stride - 1) // $stride
       |         END AS nc
       |  FROM toks
       |)
       |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |       CAST(len(list_slice(tk, k * $stride + 1, k * $stride + $maxTokens)) AS INTEGER) AS n_tokens,
       |       array_to_string(list_slice(tk, k * $stride + 1, k * $stride + $maxTokens), ' ') AS chunk
       |FROM counted, unnest(generate_series(0, CAST(nc AS BIGINT) - 1)) AS u(k)
       |WHERE nc > 0""".stripMargin
  }

  /** x11's DuckDB mirror: identical classification, counts, smoothing and
    * fold order (list_reduce's left fold == Spark aggregate's, and the
    * 0.0-init difference is exact because no log-prob is ±0.0).
    */
  private val charLmSql = {
    val cls = (v: String) =>
      s"""CASE WHEN $v BETWEEN 97 AND 122 THEN $v - 96
         |     WHEN $v BETWEEN 48 AND 57 THEN $v - 21
         |     WHEN $v = 32 THEN 37 ELSE 0 END""".stripMargin.replace("\n", " ")
    s"""WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
       |cl AS (
       |  SELECT doc_id, list_transform(generate_series(1, length(t)),
       |    i -> ${cls("ascii(substring(t, i, 1))")}) AS cl
       |  FROM base
       |),
       |sl AS (
       |  SELECT doc_id, CASE WHEN len(cl) >= 2
       |    THEN list_transform(generate_series(1, len(cl) - 1),
       |           i -> cl[i] * 38 + cl[i + 1])
       |    ELSE [] END AS sl
       |  FROM cl
       |),
       |cnts AS (
       |  SELECT s AS slot, count(*) AS cnt
       |  FROM (SELECT unnest(sl) AS s FROM sl) GROUP BY 1
       |),
       |lattice AS (SELECT unnest(generate_series(0, 1443)) AS slot),
       |fullc AS (
       |  SELECT l.slot, coalesce(c.cnt, 0) AS cnt
       |  FROM lattice l LEFT JOIN cnts c USING (slot)
       |),
       |prevs AS (SELECT slot // 38 AS prev, sum(cnt) AS ptot FROM fullc GROUP BY 1),
       |model AS (
       |  SELECT f.slot,
       |         ln((CAST(f.cnt AS DOUBLE) + 1) / (CAST(p.ptot AS DOUBLE) + 38)) AS lpv
       |  FROM fullc f JOIN prevs p ON f.slot // 38 = p.prev
       |),
       |lparr AS (SELECT list(lpv ORDER BY slot) AS lps FROM model)
       |SELECT doc_id, CAST(len(sl) AS BIGINT) AS n_bigrams,
       |       CASE WHEN len(sl) > 0
       |            THEN -list_reduce(list_transform(sl, s -> lps[s + 1]),
       |                              (a, b) -> a + b) / len(sl)
       |       END AS nll
       |FROM sl CROSS JOIN lparr""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "x11_charlm_nll" -> charLmSql,
    "cw1_chunk_documents" -> chunkSql(40, 8),
    "x10_lang_multi" -> langMultiSql,
    "bm1_bm25_topk" -> bm25Sql(Bm25Terms, 25),
    "bm2_bm25_batch" -> bm25BatchSql(Bm25BatchQueries, 15),
    "x1_lang_id" -> (toksSql +
      s"""
         |SELECT doc_id, stop_ratio,
         |       CASE WHEN stop_ratio >= CAST('0.05' AS DOUBLE) THEN 'en' ELSE 'unk' END AS lang_pred
         |FROM (SELECT doc_id, $stopRatioSql AS stop_ratio FROM toks)""".stripMargin),
    "x2_quality_score" -> (toksSql +
      s"""
         |SELECT doc_id,
         |       CASE WHEN CAST(len(tk) AS DOUBLE) > 0 THEN
         |         (least(CAST(1 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE))
         |          + CAST(len(list_filter(tk, t -> regexp_matches(t, '^[a-z]+$$'))) AS DOUBLE) / CAST(len(tk) AS DOUBLE)
         |          + CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)
         |          + (CAST(1 AS DOUBLE) - abs($stopRatioSql - CAST('0.4' AS DOUBLE))))
         |         * CAST('0.25' AS DOUBLE)
         |       ELSE CAST(0 AS DOUBLE) END AS quality
         |FROM toks""".stripMargin),
    "x3_token_counts" -> (toksSql +
      """
        |SELECT doc_id,
        |       CAST(len(tk) AS INTEGER) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_subwords,
        |       n_chars
        |FROM toks""".stripMargin),
    "x4_fingerprint" -> (toksSql +
      s"""
         |SELECT doc_id,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform(tk, t -> ${O.tokenHash("t")} % 2147483647)),
         |         (a, b) -> (a * 31 + b) % 2147483647) AS fp
         |FROM toks""".stripMargin),
    "x5_normalized_fp" ->
      s"""WITH norm AS (
         |  SELECT doc_id,
         |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
         |  FROM documents
         |), ntoks AS (
         |  SELECT doc_id, norm_text, ${O.tokens("norm_text")} AS tk FROM norm
         |)
         |SELECT doc_id, norm_text,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform(tk, t -> ${O.tokenHash("t")} % 2147483647)),
         |         (a, b) -> (a * 31 + b) % 2147483647) AS fp
         |FROM ntoks""".stripMargin,
    "x6_repetition" -> (toksSql +
      s"""
         |SELECT doc_id,
         |       CAST(len(tk) AS INTEGER) AS n_tokens,
         |       ${repSql(2)} AS rep_2gram,
         |       ${repSql(3)} AS rep_3gram,
         |       $mwlSql AS mean_word_len,
         |       $symSql AS symbol_ratio
         |FROM toks""".stripMargin),
    "x7_filter_verdict" -> (toksSql +
      s"""
         |SELECT doc_id, $verdictSql AS verdict
         |FROM toks""".stripMargin),
    "x8_pii_scrub" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         |    || CASE WHEN doc_id % 4 = 0 THEN ' node at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' today' ELSE '' END
         |    AS aug
         |  FROM documents
         |)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(aug, '$EmailSql')) AS INTEGER) AS n_emails,
         |       CAST(len(regexp_extract_all(aug, '$Ipv4Sql')) AS INTEGER) AS n_ips,
         |       CAST(len(regexp_extract_all(aug, '$PhoneSql')) AS INTEGER) AS n_phones,
         |       regexp_replace(
         |         regexp_replace(
         |           regexp_replace(aug, '$EmailSql', '[EMAIL]', 'g'),
         |           '$Ipv4Sql', '[IP]', 'g'),
         |         '$PhoneSql', '[PHONE]', 'g') AS scrubbed
         |FROM aug""".stripMargin,
    "x9_source_quality" ->
      s"""WITH toks AS (
         |  SELECT doc_id, text, source, ${O.tokens("text")} AS tk FROM documents
         |), per_doc AS (
         |  SELECT source,
         |         CAST(len(tk) AS BIGINT) AS n_tok,
         |         CASE WHEN $verdictSql = 'keep' THEN 1 ELSE 0 END AS is_keep,
         |         ${repSql(2)} AS rep2
         |  FROM toks
         |)
         |SELECT source,
         |       count(*) AS n_docs,
         |       CAST(sum(is_keep) AS BIGINT) AS n_keep,
         |       CAST(sum(is_keep) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS keep_rate,
         |       CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens,
         |       max(rep2) AS max_rep2
         |FROM per_doc
         |GROUP BY source""".stripMargin
  )

  // ------------------------------------------------------------------
  // x6–x9 DuckDB fragments (mirror TextOps expression-for-expression)

  /** Repeated word-n-gram ratio of the token list `tk` — mirrors
    * [[TextOps.repeatedNgramRatio]] incl. the wordNgrams short-doc guard.
    */
  private[operators] def repSql(n: Int): String = {
    val gram = (0 until n).map(k => s"tk[i+$k]").mkString(" || ' ' || ")
    s"""CASE WHEN len(tk) >= $n THEN
       |  CAST(len(tk) - ${n - 1} - len(list_distinct(
       |    list_transform(generate_series(1, len(tk) - ${n - 1}), i -> $gram))) AS DOUBLE)
       |  / CAST(len(tk) - ${n - 1} AS DOUBLE)
       |ELSE CAST(0 AS DOUBLE) END""".stripMargin
  }

  private[operators] def mwlSql: String =
    """CASE WHEN len(tk) > 0 THEN
      |  CAST(list_sum(list_transform(tk, t -> CAST(len(t) AS BIGINT))) AS DOUBLE)
      |  / CAST(len(tk) AS DOUBLE)
      |ELSE CAST(0 AS DOUBLE) END""".stripMargin

  private[operators] def symSql: String =
    """CASE WHEN len(text) > 0 THEN
      |  CAST(len(text) - len(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
      |  / CAST(len(text) AS DOUBLE)
      |ELSE CAST(0 AS DOUBLE) END""".stripMargin

  /** First-failing-rule chain — mirrors [[TextOps.filterVerdict]] defaults. */
  private[operators] def verdictSql: String =
    s"""CASE WHEN len(tk) < 20 THEN 'too_short'
       |     WHEN len(tk) > 90 THEN 'too_long'
       |     WHEN $symSql > CAST('0.1' AS DOUBLE) THEN 'symbols'
       |     WHEN $mwlSql < CAST('4.3' AS DOUBLE) OR $mwlSql > CAST('4.7' AS DOUBLE) THEN 'word_length'
       |     WHEN ${repSql(2)} > CAST('0.05' AS DOUBLE) THEN 'repetitive'
       |     WHEN $stopRatioSql = CAST(0 AS DOUBLE) THEN 'no_stopwords'
       |     ELSE 'keep' END""".stripMargin

  private def EmailSql: String = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private def Ipv4Sql: String = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
  private def PhoneSql: String = "\\b555-[0-9]{4}\\b"
}
