package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextNative, OracleSql => O}
import graft.sources.Tables

/** Declared-query catalog for the composed corpus pipeline
  * ([[CorpusPipeline]]): the four-stage hygiene chain as ONE oracle-gated
  * query. The oracle replays the entire chain — quality verdict, digest
  * dedup, n-gram decontamination, token packing — as a single CTE pipeline,
  * so a drift in ANY stage (or in how the stages hand rows to each other)
  * breaks the hash.
  */
object CorpusQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_corpus_pipeline" -> ((s, dir) =>
      CorpusPipeline.run(Tables.documents(s, dir), col("text"), col("doc_id"),
        benchResidue = 97, n = 3, contaminationThreshold = 0.05, budget = 256L)),
    // C2 — corpus-level line dedup over derived multi-line docs (the flat
    // synthetic texts re-lined as 8-token rows; 153 lines repeat across
    // docs at sf0.01, so the boilerplate path genuinely fires). __tk is
    // materialized BEFORE the per-line lambda so the slice calls index a
    // bound attribute instead of re-tokenizing per line (the wordNgrams
    // CSE cliff).
    "c2_line_dedup" -> ((s, dir) => {
      // lineDedup consumes its input three times (line census, keep join,
      // final doc join) and Catalyst re-evaluates this tokenize + re-line
      // projection once per consumer — materialize it once, released by
      // whoever runs the query ([[graft.Reuse]]; same trade-off note as
      // Skew.chunkedSeries' marked frame).
      val lined = graft.Reuse.persist(Tables.documents(s, dir)
        .withColumn("__tk", TextNative.tokens(col("text")))
        .select(col("doc_id"),
          when(size(col("__tk")) === 0, lit(""))
            .otherwise(array_join(
              transform(
                // (len-1) div 8: double division is exact here (line
                // counts ≪ 2^52); empty docs never reach this branch
                sequence(lit(0),
                  ((size(col("__tk")) - lit(1)) / lit(8)).cast("int")),
                i => array_join(
                  slice(col("__tk"), i * lit(8) + lit(1), lit(8)), " ")),
              "\n")).as("mtext")))
      Dedup.lineDedup(lined, col("mtext"), col("doc_id"), minDocs = 2)
    }),
    // C3 — incremental exact-dedup ingest against a persisted corpus
    // lake (Dedup.ingestDedup): three ascending-id slices land in turn —
    // originals, then TWO planted shifted-id copy waves in ONE slice
    // (within-slice keep-first fires, then the history anti-join drops
    // the survivor too), then a replayed subset of the originals (must
    // append nothing — natural idempotence). First-arrival-wins over
    // ascending slices == global min-id-per-normalized-fingerprint,
    // which is exactly what the oracle computes over the same union.
    "c3_incremental_ingest" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val raw = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val off = raw.agg(max(col("doc_id"))).head.getLong(0) + 1
      val copies = raw.filter(col("doc_id") % 3 === 0)
      val root = graft.TempDirs.create("graft-c3") + "/corpus"
      Dedup.ingestDedup(s, root, raw, "doc_id", "text")
      Dedup.ingestDedup(s, root,
        copies.withColumn("doc_id", col("doc_id") + lit(off))
          .unionByName(copies.withColumn("doc_id",
            col("doc_id") + lit(2 * off))),
        "doc_id", "text")
      Dedup.ingestDedup(s, root, raw.filter(col("doc_id") % 5 === 1),
        "doc_id", "text")
      SnapshotLake.read(s, root).select(col("doc_id"), col("fp"))
    }),
    // C3b — the SAME ingest through the bloom-pruned history path
    // (Dedup.ingestDedupBloom): definite non-duplicates never reach the
    // anti-join shuffle, maybe-hits still anti-join exactly, the filter
    // sized from the manifest's row counts with zero data I/O. Declared
    // separately so the at-scale cutover (history past broadcast range)
    // is oracle-pinned like d5b/d7b — bit-equal to c3 by construction,
    // so both share one oracle.
    "c3b_incremental_ingest_bloom" -> ((s, dir) => {
      import graft.sinks.SnapshotLake
      val raw = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val off = raw.agg(max(col("doc_id"))).head.getLong(0) + 1
      val copies = raw.filter(col("doc_id") % 3 === 0)
      val root = graft.TempDirs.create("graft-c3b") + "/corpus"
      Dedup.ingestDedupBloom(s, root, raw, "doc_id", "text")
      Dedup.ingestDedupBloom(s, root,
        copies.withColumn("doc_id", col("doc_id") + lit(off))
          .unionByName(copies.withColumn("doc_id",
            col("doc_id") + lit(2 * off))),
        "doc_id", "text")
      Dedup.ingestDedupBloom(s, root, raw.filter(col("doc_id") % 5 === 1),
        "doc_id", "text")
      SnapshotLake.read(s, root).select(col("doc_id"), col("fp"))
    })
  )

  /** Word 3-gram set over `tk` (the dc1 construction). */
  private val gram3SetSql =
    """list_distinct(CASE WHEN len(tk) >= 3
      |  THEN list_transform(generate_series(1, len(tk) - 2),
      |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      |  ELSE [] END)""".stripMargin

  val oracle: Map[String, String] = Map(
    "c1_corpus_pipeline" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, text, ${O.tokens("text")} AS tk FROM documents
         |), kept AS (
         |  SELECT doc_id, source, text, tk FROM toks
         |  WHERE doc_id % 97 != 0 AND ${TextQueries.verdictSql} = 'keep'
         |), ded AS (
         |  SELECT doc_id, source, text, tk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
         |    FROM kept)
         |  WHERE rn = 1
         |), gsets AS (
         |  SELECT doc_id, $gram3SetSql AS gset FROM ded
         |), g AS (
         |  SELECT doc_id, len(gset) AS n_grams, unnest(gset) AS gs FROM gsets
         |), gh AS (
         |  SELECT doc_id, n_grams, ${O.tokenHash("gs")} AS ghash FROM g
         |), bench AS (
         |  SELECT DISTINCT ${O.tokenHash("gs")} AS ghash FROM (
         |    SELECT unnest($gram3SetSql) AS gs
         |    FROM (SELECT ${O.tokens("text")} AS tk FROM documents WHERE doc_id % 97 = 0))
         |), flagged AS (
         |  SELECT doc_id FROM gh JOIN bench USING (ghash)
         |  GROUP BY doc_id, n_grams
         |  HAVING CAST(count(*) AS DOUBLE) / CAST(n_grams AS DOUBLE) >= CAST('0.05' AS DOUBLE)
         |), clean AS (
         |  SELECT doc_id, source, CAST(len(tk) AS INTEGER) AS n_tokens FROM ded
         |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
         |), pre AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (
         |           PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pb
         |  FROM clean
         |)
         |SELECT doc_id, source, n_tokens,
         |       pb // 256 AS bin_id, pb % 256 AS bin_offset
         |FROM pre""".stripMargin,
    // Line census joined on the 60-bit line HASH (not the string) exactly
    // as the Spark side does, so hash collisions affect both engines
    // identically; reassembly order is the original line position.
    "c2_line_dedup" ->
      s"""WITH toks AS (SELECT doc_id, ${O.tokens("text")} AS tk FROM documents),
         |lined AS (
         |  SELECT doc_id, CASE WHEN len(tk) = 0 THEN ''
         |    ELSE array_to_string(list_transform(
         |           generate_series(0, CAST((len(tk) - 1) // 8 AS BIGINT)),
         |           i -> array_to_string(tk[i*8+1 : i*8+8], ' ')), chr(10)) END AS mtext
         |  FROM toks),
         |l0 AS (SELECT doc_id, string_split(mtext, chr(10)) AS ls FROM lined),
         |lx AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos, ls FROM l0),
         |lh AS (SELECT doc_id, pos, ls[pos] AS line, ${O.tokenHash("ls[pos]")} AS lhash FROM lx),
         |pd AS (SELECT lhash, doc_id FROM lh GROUP BY 1, 2),
         |cen AS (SELECT lhash, count(*) AS n_docs, min(doc_id) AS keep_doc FROM pd GROUP BY 1),
         |kept AS (
         |  SELECT doc_id, pos, line FROM lh JOIN cen USING (lhash)
         |  WHERE n_docs < 2 OR doc_id = keep_doc),
         |agg AS (
         |  SELECT doc_id, count(*) AS kept_n,
         |         string_agg(line, chr(10) ORDER BY pos) AS text_clean
         |  FROM kept GROUP BY 1)
         |SELECT b.doc_id, CAST(len(string_split(b.mtext, chr(10))) AS BIGINT) AS n_lines,
         |       CAST(coalesce(a.kept_n, 0) AS BIGINT) AS n_lines_kept,
         |       coalesce(a.text_clean, '') AS text_clean
         |FROM lined b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "c3_incremental_ingest" -> C3OracleSql,
    // bit-equal to c3 by construction (bloom pre-filter has no false
    // negatives; maybe-hits anti-join exactly) — one oracle, two paths
    "c3b_incremental_ingest_bloom" -> C3OracleSql
  )

  private lazy val C3OracleSql: String =
    s"""WITH mx AS (SELECT max(doc_id) + 1 AS off FROM documents),
         |all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT off FROM mx), text FROM documents
         |  WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 2 * (SELECT off FROM mx), text FROM documents
         |  WHERE doc_id % 3 = 0
         |), c3norm AS (
         |  SELECT doc_id,
         |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
         |  FROM all_docs
         |), c3toks AS (
         |  SELECT doc_id, ${O.tokens("norm_text")} AS tk FROM c3norm
         |), c3fps AS (
         |  SELECT doc_id,
         |         list_reduce(
         |           list_prepend(CAST(0 AS BIGINT),
         |             list_transform(tk, t -> ${O.tokenHash("t")} % 2147483647)),
         |           (a, b) -> (a * 31 + b) % 2147483647) AS fp
         |  FROM c3toks
         |)
         |SELECT doc_id, fp FROM (
         |  SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS m
         |  FROM c3fps
         |) WHERE doc_id = m""".stripMargin
}
