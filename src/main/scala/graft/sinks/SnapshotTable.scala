package graft.sinks

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, GenericInternalRow, Predicate => CatalystPredicate}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The snapshot lake as a DataSource V2 [[Table]] — the doorway that
  * makes the lake a FIRST-CLASS SQL table instead of a read-mostly
  * relation with refused writes:
  *
  *   - `SELECT` plans a [[SnapshotPartitioningIndex]] scan: ONE manifest
  *     read on the driver resolves the pinned file list, hive partition
  *     directories prune through Spark's own partition-pruning machinery,
  *     per-file min/max envelopes prune data files (the same soundness
  *     contract as [[ManifestFileIndex]]), and the physical scan is
  *     Spark's vectorized parquet `BatchScanExec` inside whole-stage
  *     codegen — including for hive-partitioned lakes, which the V1
  *     relation refuses;
  *   - `INSERT INTO` lands as an ordinary manifest APPEND commit (one
  *     atomic version, footer stats + bloom sidecars restamped exactly
  *     like a library `SnapshotLake.append`), via the public
  *     [[org.apache.spark.sql.connector.write.V1Write]] fallback — the
  *     same seam early Delta Lake shipped on. The round-11 `rootPaths`
  *     refusal in [[ManifestFileIndex]] is thereby demoted from the only
  *     line of defense to defense-in-depth for the V1 relation;
  *   - `INSERT OVERWRITE` (truncate form) is an atomic REPLACE — the
  *     torn-free wholesale swap, pinned readers unaffected — and the
  *     static-partition / filtered forms (`PARTITION (sym='a')`,
  *     `DataFrameWriterV2.overwrite(cond)`) land as ONE
  *     [[SnapshotLake.replaceWhere]] commit that rewrites only the
  *     files the condition can touch (partition dirs + envelopes);
  *   - every query re-resolves the table through
  *     `TableProvider.getTable`, so a fresh manifest head is picked up
  *     per statement — the V1 catalog's stale-relation-cache
  *     `REFRESH TABLE` footgun is gone by construction;
  *   - `versionAsOf` pins time travel; a pinned table refuses writes.
  *
  * What stays deliberately unsupported (loud analysis errors, not silent
  * misbehavior): dynamic partition overwrite on PROVIDER-PATH tables
  * (`OVERWRITE_DYNAMIC` needs strict `BATCH_WRITE`, which would break
  * the V1 save-mode contract of `df.write.format` — catalog-managed
  * tables support it; path users have static partitions or
  * `replaceWhere`), overwrite / delete conditions with no
  * `sources.Filter` translation (refused, never weakened), and
  * streaming V2 scans (the V1 [[graft.streaming.SnapshotSource]]
  * personality serves `readStream` through Spark's built-in fallback).
  *
  * Schema source of truth is the MANIFEST (Delta semantics): a catalog
  * table created before a widen-only evolution keeps working — the
  * catalog's stored schema must be a name+type SUBSET of the manifest's;
  * anything else fails loudly.
  */
final class SnapshotTable(
    spark: SparkSession,
    root: String,
    version: Option[Long],
    declaredSchema: Option[StructType],
    declaredPartitioning: Seq[String],
    tableOptions: CaseInsensitiveStringMap,
    catalogManaged: Boolean = false,
    explicitManifest: Option[() => SnapshotLake.Manifest] = None)
    extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  import SnapshotLake.{FileEntry, Manifest}

  /** The manifest this table instance is pinned at — resolved ONCE per
    * table resolution (i.e. per statement), None when the lake does not
    * exist yet (a `CREATE TABLE`-declared lake awaiting its first
    * INSERT). Readers of this instance see exactly this snapshot; the
    * NEXT statement re-resolves and sees new commits. `explicitManifest`
    * (the `startingVersion`/`endingVersion` changes window) overrides —
    * LAZILY, so a streaming-probe construction of this table never pays
    * (or fails) the window validation.
    */
  private lazy val pinned: Option[Manifest] =
    explicitManifest.map(f => Some(f())).getOrElse(version match {
      case Some(v) => Some(SnapshotLake.manifest(spark, root, Some(v)))
      case None => SnapshotLake.latestVersion(spark, root)
        .map(v => SnapshotLake.manifest(spark, root, Some(v)))
    })

  /** Catalog/user schema must be a name+type subset of the manifest's —
    * equality for fresh catalogs, strict subset after a widen-only
    * `evolve` (the catalog entry is then stale but still sound).
    */
  private def validateDeclared(m: Manifest): Unit = declaredSchema.foreach { s =>
    val have = m.schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = s.fields.filterNot(f => have.get(f.name).contains(f.dataType))
    require(bad.isEmpty,
      s"declared schema drifts from the snapshot manifest under $root: " +
        s"${bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")} " +
        s"not in ${m.schema.simpleString} — the manifest is the source of truth")
  }

  override def name(): String =
    s"graft-snapshot.`$root`" + version.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType = pinned match {
    case Some(m) => validateDeclared(m); m.schema
    case None => declaredSchema.getOrElse(throw new IllegalArgumentException(
      s"no committed snapshot under $root and no declared schema — " +
        "append once (library or format write) or CREATE TABLE with columns"))
  }

  /** Partition columns: from the manifest's hive directory layout when
    * the lake exists, else from the CREATE TABLE declaration.
    */
  private def partCols: Seq[String] = pinned match {
    case Some(m) => SnapshotTable.partColsOf(m)
    case None => declaredPartitioning
  }

  override def partitioning(): Array[Transform] =
    partCols.map(Expressions.identity).toArray

  override def properties(): JMap[String, String] = tableOptions.asCaseSensitiveMap()

  /** `_file` — the data/-relative path of the file each row came from,
    * served as a per-file partition value by [[SnapshotPartitioningIndex]]
    * (zero data I/O). Useful for provenance queries in its own right, and
    * the attribute Spark's runtime group filtering keys row-level DML on
    * (see [[SnapshotRowLevelOperation]]). Suppressed (empty) when the
    * lake has a real `_file` data column — that column wins, and DML
    * falls back to static pruning only.
    */
  override def metadataColumns(): Array[MetadataColumn] = {
    val fields = schema().fieldNames
    val file: Array[MetadataColumn] =
      if (fields.contains(SnapshotTable.FileMetaCol)) Array.empty
      else Array(new MetadataColumn {
        override def name(): String = SnapshotTable.FileMetaCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "data/-relative path of the snapshot file this row came from"
      })
    // `_pos` (the per-file row position) is served only where the scan
    // can actually produce it: merge-on-read lakes, whose reads go
    // through the position-aware SnapshotMorScan
    val pos: Array[MetadataColumn] =
      if (fields.contains(SnapshotTable.PosMetaCol) ||
          !pinned.exists(m => SnapshotTable.morLake(m) ||
            SnapshotTable.hasDeletes(m))) Array.empty
      else Array(new MetadataColumn {
        override def name(): String = SnapshotTable.PosMetaCol
        override def dataType(): DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "0-based row position within the snapshot file this row came from"
      })
    file ++ pos
  }

  /** Provider-path tables declare NO BATCH_WRITE: `df.write.format(...)`
    * then falls back to the V1 `CreatableRelationProvider` (all four
    * save modes, bit-identical to round 11), while SQL INSERT — which
    * only checks BATCH_WRITE ∨ V1_BATCH_WRITE — plans through
    * [[newWriteBuilder]]'s V1Write. TRUNCATE unlocks the full-table
    * `INSERT OVERWRITE` form.
    *
    * CATALOG-managed tables (never reachable from `df.write.format`, so
    * the V1 save-mode contract cannot be hurt) additionally declare
    * BATCH_WRITE + OVERWRITE_DYNAMIC: `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` replaces exactly
    * the partitions present in the incoming frame, one atomic commit —
    * that plan has no V1 fallback (Spark's capability check demands
    * strict BATCH_WRITE), so it runs the REAL distributed
    * [[SnapshotDynamicOverwriteWrite]]; plain INSERTs still build a
    * V1Write and take the V1 exec. Delta/Iceberg draw the same line:
    * dynamic overwrite is a catalog-table feature.
    */
  override def capabilities(): java.util.Set[TableCapability] = {
    val base = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    if (catalogManaged) {
      base.add(TableCapability.BATCH_WRITE)
      base.add(TableCapability.OVERWRITE_DYNAMIC)
      // MERGE WITH SCHEMA EVOLUTION: the analyzer lands the source's new
      // columns as our ONE metadata-only evolve commit (alterTable ADD
      // COLUMNS) before planning the merge — widen-only; retypes and
      // retired-name re-bindings refuse loudly through the same ALTER
      // contract as a hand-written ALTER TABLE. Catalog tables only (the
      // rule resolves the ALTER through the relation's catalog).
      base.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    }
    base
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val m = pinned.getOrElse(Manifest(0L, 0L, "empty", schema(), Nil))
    validateDeclared(m)
    SnapshotLake.requireFieldIdReads(spark, m)
    // a lake whose files span GENERATIONS splits the scan — field-id
    // generations (a migration left id-less files that read by the
    // name mapping) and/or partition-layout generations (a
    // repartitionSpec evolution left files dir-encoding different
    // column sets, which stock partition inference refuses outright):
    // one stock vectorized parquet scan per generation, partitions
    // concatenated. The position-aware (mor) machinery does not compose
    // with the split; that combination refuses until a compact unifies
    if (m.files.exists(_.idless) ||
        m.files.iterator.map(f => SnapshotLake.layoutOf(f.rel))
          .toSet.size > 1) {
      require(!SnapshotTable.morLake(m) && !SnapshotTable.hasDeletes(m),
        s"merge-on-read reads over multi-generation files (pre-migration" +
          s" ids or pre-evolution partition layouts) under $root are " +
          "not supported — CALL graft.system.optimize (compact) first " +
          "to unify the generations")
      return new SnapshotSplitScanBuilder(spark, root, m, partCols, options)
    }
    // merge-on-read lakes (or any manifest carrying position deletes)
    // read through the position-aware builder: it applies the delete
    // sidecars and serves `_pos`, and falls back to this exact
    // vectorized scan when no deletes are pending and `_pos` is unused
    if (SnapshotTable.morLake(m) || SnapshotTable.hasDeletes(m))
      return new SnapshotMorScanBuilder(None, spark, root, m, partCols,
        options)
    val index = new SnapshotPartitioningIndex(spark, root, m)
    val dataSchema = StructType(
      m.schema.fields.filterNot(f => partCols.contains(f.name)))
    ParquetScanBuilder(spark, index, m.schema, dataSchema, options)
  }

  /** SQL `DELETE FROM ... WHERE ...` → [[SnapshotLake.delete]] with the
    * same FILE-LEVEL pruning discipline as the library call: the prune
    * box is derived from the delete filters themselves (sound — only
    * AND-composed envelope-expressible shapes contribute), so a
    * time-ranged or key-ranged GDPR delete rewrites only the files that
    * CAN contain matches; every other file survives by identity in one
    * atomic commit. Filters Spark cannot hand down as `sources.Filter`
    * (or that this translator does not cover) make `canDeleteWhere`
    * false, which fails the statement loudly instead of deleting wrong.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty &&
      // mor lakes route every DELETE to the delta row-level path: cost
      // proportional to deleted ROWS (position sidecars), where this
      // metadata path would rewrite every envelope-overlapping file
      !pinned.exists(SnapshotTable.morLake) &&
      filters.forall(f => SnapshotTable.toPredicate(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version.isEmpty,
      "cannot DELETE from a version-pinned snapshot table")
    // a declared-but-never-written lake (pinned=None) is an EMPTY table:
    // DELETE is a zero-row no-op, not an error
    pinned.foreach { m =>
      val pred = filters.flatMap(SnapshotTable.toPredicate)
        .reduceOption(_ && _).getOrElse(lit(true))
      val box = SnapshotTable.pruneBoxOf(filters)
      SnapshotLake.delete(spark, root, pred, box, SnapshotTable.partColsOf(m))
    }
  }

  /** SQL `TRUNCATE TABLE` → one atomic REPLACE with the empty frame:
    * pinned readers keep their versions, history stays inspectable
    * until vacuum — the snapshot-store truncate semantics.
    */
  override def truncateTable(): Boolean = {
    require(version.isEmpty,
      "cannot TRUNCATE a version-pinned snapshot table")
    // an empty declared lake truncates to itself — a no-op, not an error
    pinned.foreach { m =>
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], m.schema)
      SnapshotLake.replace(spark, root, empty, SnapshotTable.partColsOf(m))
    }
    true
  }

  /** SQL `MERGE INTO` / `UPDATE` (and untranslatable-predicate DELETE):
    * Spark's group-based copy-on-write rewrite over the pinned manifest
    * — see [[SnapshotRowLevelOperation]]. Translatable DELETEs still
    * take the metadata path above (Spark's own
    * OptimizeMetadataOnlyDeleteFromTable converts back when it can).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty,
      s"cannot run DML against a version-pinned snapshot table " +
        s"(versionAsOf=${version.get})")
    val m = pinned.getOrElse(throw new IllegalArgumentException(
      s"no committed snapshot under $root — nothing to modify"))
    // SQL row-level scans read ONE schema; pre-migration (id-less) files
    // need the name-mapped one — refuse rather than reason about the
    // cross-product (library delete/merge handle migrated lakes; one
    // compact materializes ids and clears this)
    require(m.files.forall(!_.idless),
      s"SQL row-level DML over pre-migration (id-less) files under " +
        s"$root — CALL graft.system.optimize (compact) first to " +
        "materialize field ids, or use the library delete/merge")
    // ditto partition-layout generations (repartitionSpec evolution):
    // the row-level scan machinery plans one layout
    require(m.files.iterator.map(f => SnapshotLake.layoutOf(f.rel))
        .toSet.size <= 1,
      s"SQL row-level DML over mixed partition layouts under $root — " +
        "CALL graft.system.optimize (compact) first to migrate files " +
        "to the current spec, or use the library delete/merge")
    if (SnapshotTable.morLake(m)) {
      // merge-on-read: the SupportsDelta path, keyed on (_file, _pos) —
      // both must be free for the metadata columns to serve, and
      // `_metadata` must be free for the library read's hidden-column
      // anti-join (a real data column of that name would shadow it)
      Seq(SnapshotTable.FileMetaCol, SnapshotTable.PosMetaCol,
        "_metadata").foreach(c =>
        require(!m.schema.fieldNames.contains(c),
          s"dmlMode=mor needs the `$c` metadata column, but the lake has " +
            s"a real `$c` data column — rename it or use dmlMode=cow"))
      new SnapshotDeltaRowLevelOperationBuilder(spark, root, m, info)
    } else new SnapshotRowLevelOperationBuilder(spark, root, m, info)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      s"cannot write to a version-pinned snapshot table (versionAsOf=" +
        s"${version.get}) — writes go to the lake head")
    new WriteBuilder with SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      // None = plain append; Some(AlwaysTrue-only) = full truncate (an
      // atomic REPLACE; SupportsOverwrite's default truncate() routes
      // here); Some(filters) = ATOMIC filtered overwrite — SQL
      // static-partition INSERT OVERWRITE and DataFrameWriterV2
      // .overwrite(cond) land as ONE replaceWhere commit
      private var overwriteFilters: Option[Array[Filter]] = None
      private var dynamic = false
      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(f => SnapshotTable.toPredicate(f).isDefined)
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        overwriteFilters = Some(filters); this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamic = true; this
      }
      override def build(): Write =
        if (dynamic) {
          // by-position resolution makes this structural; the check is a
          // tripwire against a framework contract change
          require(info.schema.fields.map(f => (f.name, f.dataType))
            .sameElements(schema().fields.map(f => (f.name, f.dataType))),
            s"dynamic overwrite schema ${info.schema.simpleString} != " +
              s"table schema ${schema().simpleString}")
          new PartitionOrdered {
            override protected def orderCols: Seq[String] = partCols
            override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
              new SnapshotDynamicOverwriteWrite(spark, root, pinned,
                schema(), partCols, declaredPartitioning, tableOptions)
          }
        }
        else new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit =
                overwriteFilters match {
                  case Some(fs) if fs.exists(_ != sources.AlwaysTrue()) =>
                    SnapshotTable.overwriteWhere(data.sparkSession, root,
                      data, fs, declaredPartitioning, tableOptions)
                  case Some(_) =>
                    SnapshotTable.insertInto(data.sparkSession, root, data,
                      overwrite = true, declaredPartitioning, tableOptions)
                  case None =>
                    SnapshotTable.insertInto(data.sparkSession, root, data,
                      overwrite, declaredPartitioning, tableOptions)
                }
            }
        }
    }
  }
}

object SnapshotTable {

  /** Name of the file-provenance metadata column (Iceberg's `_file`). */
  val FileMetaCol = "_file"

  /** Name of the per-file row-position metadata column (Iceberg's
    * `_pos`) — served on merge-on-read lakes, where (`_file`, `_pos`)
    * is the delta DML row id.
    */
  val PosMetaCol = "_pos"

  /** Whether the lake declared merge-on-read DML (`dmlMode = 'mor'` at
    * CREATE). Default (absent/`cow`) is copy-on-write, byte-identical
    * to round 13.
    */
  private[sinks] def morLake(m: SnapshotLake.Manifest): Boolean =
    m.props.get("dmlMode").contains("mor")

  private[sinks] def hasDeletes(m: SnapshotLake.Manifest): Boolean =
    m.files.exists(_.deletes.nonEmpty)

  /** Render one filter literal EXACTLY the way the partition-directory
    * writer rendered it: Spark's own Cast-to-string in the session time
    * zone (the `partStrings` projection in [[HiveRoutingWriter]]
    * and `df.write.partitionBy` both go through Cast). `String.valueOf`
    * is NOT that function for date/time external types —
    * `java.sql.Timestamp.toString` prints a trailing `.0` that the
    * directory name never carries, so a timestamp-partitioned prune
    * would wrongly EXCLUDE every file and the DML would silently skip
    * its matched rows. None (= no constraint from this literal, prune
    * stays conservative) when the external type has no Catalyst literal.
    */
  private def hiveRendered(v: Any, timeZoneId: String): Option[String] =
    scala.util.Try {
      val lit = org.apache.spark.sql.catalyst.expressions.Literal(v)
      Option(org.apache.spark.sql.catalyst.expressions
        .Cast(lit, StringType, Some(timeZoneId)).eval(null)).map(_.toString)
    }.toOption.flatten

  /** Admitted hive-partition values implied by (implicitly ANDed)
    * filters: equality / null-safe equality / IN on a partition column.
    * Same-col duplicates keep one — a SUPERSET of the true intersection,
    * so pruning stays sound (fewer skips). Shared by the filtered
    * INSERT OVERWRITE landing and the row-level candidate pruning.
    * Literals render through [[hiveRendered]]; a literal that cannot be
    * rendered contributes NO constraint (an IN with any unrenderable
    * member drops the whole column's constraint — admitting a superset
    * is sound, admitting a subset is not).
    */
  private[sinks] def partitionValuesFrom(filters: Array[Filter],
      parts: Seq[String], timeZoneId: String): Map[String, Set[String]] =
    filters.flatMap {
      case sources.EqualTo(a, v) if parts.contains(a) && v != null =>
        hiveRendered(v, timeZoneId).map(s => a -> Set(s))
      // static PARTITION (k=v) clauses arrive as null-safe equality
      case sources.EqualNullSafe(a, v) if parts.contains(a) && v != null =>
        hiveRendered(v, timeZoneId).map(s => a -> Set(s))
      case sources.In(a, vs) if parts.contains(a) && vs.nonEmpty &&
          vs.forall(_ != null) =>
        val rendered = vs.flatMap(hiveRendered(_, timeZoneId))
        if (rendered.length == vs.length) Some(a -> rendered.toSet) else None
      case _ => None
    }.toMap

  private def csv(o: CaseInsensitiveStringMap, k: String): Seq[String] =
    Option(o.get(k)).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Partition column names: the lake's declared `partitionCols` prop
    * when present (catalog-created lakes carry it from CREATE TABLE,
    * before any file exists), else derived in directory order from the
    * manifest's own relative paths (`sym=a/month=1/<file>` → sym,
    * month). The first file is authoritative;
    * [[SnapshotPartitioningIndex]]'s partition inference fails loudly
    * on an inconsistent layout.
    */
  private[sinks] def partColsOf(m: SnapshotLake.Manifest): Seq[String] =
    m.props.get("partitionCols")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(m.files.headOption.toSeq
        .flatMap(_.rel.split('/').dropRight(1).toSeq
          .takeWhile(_.contains('='))
          .map(seg => seg.substring(0, seg.indexOf('=')))))

  /** `sources.Filter` → Column, for the DELETE doorway. Total over the
    * shapes SQL DELETE predicates translate to; None (⇒ `canDeleteWhere`
    * false ⇒ loud statement failure) for anything uncovered — a delete
    * must never run against a WEAKER predicate than the user wrote.
    * Column names pass through backticks: lake schemas are flat, so a
    * dotted name is a literal column, not a struct path.
    */
  private[sinks] def toPredicate(f: Filter): Option[Column] = {
    def c(n: String) = col(s"`$n`")
    f match {
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case sources.EqualTo(a, v) => Some(c(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(c(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case sources.LessThan(a, v) => Some(c(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case sources.In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(c(a).isNull)
      case sources.IsNotNull(a) => Some(c(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case sources.StringContains(a, v) => Some(c(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- toPredicate(l); rc <- toPredicate(r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- toPredicate(l); rc <- toPredicate(r)) yield lc || rc
      case sources.Not(inner) => toPredicate(inner).map(not)
      case _ => None
    }
  }

  /** The stats-domain value of a delete-filter literal: numerics as-is,
    * date/time external types as the epoch micros/days their footer
    * envelopes store (UTC session — the engine's standing config). None
    * for non-orderable types: they contribute no prune bound.
    */
  private def statsValue(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000.0 + (t.getNanos % 1000000) / 1000.0)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1e6 + i.getNano / 1000.0)
    case l: java.time.LocalDateTime =>
      statsValue(java.time.Instant.from(l.atZone(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
    case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
    case _ => None
  }

  /** Sound per-column prune box implied by an (implicitly ANDed) delete
    * filter array: a file whose envelope misses the box cannot contain a
    * matching row, so [[SnapshotLake.delete]] skips rewriting it. Only
    * top-level AND-composed range/equality shapes contribute; Or/Not/
    * string shapes contribute nothing (conservative = rewrite-if-unsure,
    * never skip-if-unsure).
    */
  private[sinks] def pruneBoxOf(filters: Array[Filter]): Map[String, (Double, Double)] = {
    def boundsOf(f: Filter): Map[String, (Double, Double)] = f match {
      case sources.EqualTo(a, v) =>
        statsValue(v).map(d => Map(a -> (d, d))).getOrElse(Map.empty)
      // null-safe equality with a NON-NULL literal matches only a = v
      // rows, so the same point box is sound (all-null files carry no
      // envelope and stay conservatively kept)
      case sources.EqualNullSafe(a, v) if v != null =>
        statsValue(v).map(d => Map(a -> (d, d))).getOrElse(Map.empty)
      case sources.GreaterThan(a, v) =>
        statsValue(v).map(d => Map(a -> (d, Double.PositiveInfinity))).getOrElse(Map.empty)
      case sources.GreaterThanOrEqual(a, v) =>
        statsValue(v).map(d => Map(a -> (d, Double.PositiveInfinity))).getOrElse(Map.empty)
      case sources.LessThan(a, v) =>
        statsValue(v).map(d => Map(a -> (Double.NegativeInfinity, d))).getOrElse(Map.empty)
      case sources.LessThanOrEqual(a, v) =>
        statsValue(v).map(d => Map(a -> (Double.NegativeInfinity, d))).getOrElse(Map.empty)
      case sources.In(a, vs) =>
        val ds = vs.flatMap(statsValue)
        if (ds.isEmpty || ds.length != vs.length) Map.empty
        else Map(a -> (ds.min, ds.max))
      case sources.And(l, r) =>
        val (bl, br) = (boundsOf(l), boundsOf(r))
        (bl.keySet ++ br.keySet).map { k =>
          (bl.get(k), br.get(k)) match {
            case (Some((l1, h1)), Some((l2, h2))) =>
              k -> (math.max(l1, l2), math.min(h1, h2))
            case (a, b) => k -> a.orElse(b).get
          }
        }.toMap
      case _ => Map.empty
    }
    filters.map(boundsOf).foldLeft(Map.empty[String, (Double, Double)]) {
      (acc, b) =>
        (acc.keySet ++ b.keySet).map { k =>
          (acc.get(k), b.get(k)) match {
            case (Some((l1, h1)), Some((l2, h2))) =>
              k -> (math.max(l1, l2), math.min(h1, h2))
            case (a, bb) => k -> a.orElse(bb).get
          }
        }.toMap
    }
  }

  /** The SQL INSERT landing: one ordinary manifest commit, with the
    * data-skipping index maintained exactly like a library append —
    * stats/bloom columns come from the table options when given
    * (`statsCols`/`bloomCols` in CREATE TABLE OPTIONS or read options)
    * and are otherwise INHERITED from the head manifest's tracked
    * columns, so INSERT can never silently degrade a lake's pruning.
    * `overwrite = true` (full-table `INSERT OVERWRITE`) is an atomic
    * REPLACE.
    */
  /** (head manifest, partition cols, stats cols, bloom cols) for a write
    * landing now: stats/bloom columns come from the table options when
    * given, else from the lake's declared manifest PROPS (a catalog
    * `CREATE TABLE ... 'statsCols'` persists there before any file
    * exists), else INHERITED from the head manifest's tracked columns —
    * so SQL writes can never silently degrade a lake's pruning, and a
    * catalog-created lake's FIRST insert already stamps the index.
    */
  private[sinks] def writeShape(spark: SparkSession, root: String,
      declaredPartitioning: Seq[String], options: CaseInsensitiveStringMap)
      : (Option[SnapshotLake.Manifest], Seq[String], Seq[String], Seq[String]) = {
    val head = SnapshotLake.latestVersion(spark, root)
      .map(v => SnapshotLake.manifest(spark, root, Some(v)))
    val parts = head.map(partColsOf).getOrElse(declaredPartitioning)
    def declared(k: String): Seq[String] = head.toSeq
      .flatMap(_.props.get(k).toSeq)
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val stats = {
      val opt = csv(options, "statsCols")
      if (opt.nonEmpty) opt
      else {
        val p = declared("statsCols")
        if (p.nonEmpty) p
        else head.toSeq.flatMap(_.files.flatMap(_.stats.keys)).distinct.sorted
      }
    }
    val blooms = {
      val opt = csv(options, "bloomCols")
      if (opt.nonEmpty) opt
      else {
        val p = declared("bloomCols")
        if (p.nonEmpty) p
        else head.toSeq.flatMap(_.files.flatMap(_.bloomCols)).distinct.sorted
      }
    }
    (head, parts, stats, blooms)
  }

  private[sinks] def insertInto(spark: SparkSession, root: String,
      data: DataFrame, overwrite: Boolean, declaredPartitioning: Seq[String],
      options: CaseInsensitiveStringMap): Unit = {
    val (head, parts, stats, blooms) =
      writeShape(spark, root, declaredPartitioning, options)
    if (overwrite && head.nonEmpty)
      SnapshotLake.replace(spark, root, data, parts, stats, bloomCols = blooms)
    else
      SnapshotLake.append(spark, root, data, parts, stats, bloomCols = blooms)
  }

  /** The ATOMIC filtered-overwrite landing (SQL static-partition
    * `INSERT OVERWRITE`, `DataFrameWriterV2.overwrite(cond)`): one
    * [[SnapshotLake.replaceWhere]] commit whose prune box AND admitted
    * partition values both derive from the overwrite filters — a
    * `PARTITION (sym='a')` overwrite rewrites only `sym=a` files, a
    * range-conditioned overwrite only envelope-overlapping files.
    */
  private[sinks] def overwriteWhere(spark: SparkSession, root: String,
      data: DataFrame, filters: Array[Filter],
      declaredPartitioning: Seq[String],
      options: CaseInsensitiveStringMap): Unit = {
    val (head, parts, stats, blooms) =
      writeShape(spark, root, declaredPartitioning, options)
    if (head.isEmpty) { // fresh lake: nothing to overwrite, just land
      SnapshotLake.append(spark, root, data, parts, stats, bloomCols = blooms)
      return
    }
    val pred = filters.flatMap(toPredicate).reduceOption(_ && _)
      .getOrElse(lit(true))
    val partVals = partitionValuesFrom(filters, parts,
      spark.sessionState.conf.sessionLocalTimeZone)
    SnapshotLake.replaceWhere(spark, root, data, pred,
      pruneBox = pruneBoxOf(filters), partitionValues = partVals,
      partitionCols = parts, statsCols = stats)
  }
}

/** Manifest-backed [[PartitioningAwareFileIndex]]: the DSv2 read seam.
  * `leafFiles` IS the pinned manifest's file list (zero directory
  * listings, zero footer probes at planning time — the 100 TB planning
  * contract of [[SnapshotLake]]); hive partition values are parsed from
  * the manifest's relative paths by Spark's own partition inference,
  * TYPED by the manifest schema (`userSpecifiedSchema`), so partition
  * pruning is the stock `prunePartitions` machinery; and [[listFiles]]
  * layers the manifest's min/max envelope skipping on top, sharing
  * [[ManifestFileIndex]]'s conservative bounds translation — pruning
  * changes which files OPEN, never the answer.
  */
final class SnapshotPartitioningIndex(
    spark: SparkSession,
    root: String,
    m: SnapshotLake.Manifest)
  extends PartitioningAwareFileIndex(
    spark,
    // basePath anchors partition-dir parsing at data/; omitted for an
    // empty (pre-first-commit) lake, whose data/ may not exist on disk
    if (m.files.isEmpty) Map.empty[String, String]
    else Map("basePath" -> SnapshotPartitioningIndex.qualifiedDataDir(spark, root).toString),
    Some(m.schema)) {

  private val dataDir = SnapshotPartitioningIndex.qualifiedDataDir(spark, root)

  private val entriesByPath: Seq[(Path, SnapshotLake.FileEntry)] =
    m.files.map(e => (new Path(dataDir, e.rel), e))

  private val statsByPath: Map[Path, Map[String, (Double, Double)]] =
    entriesByPath.map { case (p, e) => p -> e.stats }.toMap

  private val relByPath: Map[Path, String] =
    entriesByPath.map { case (p, e) => p -> e.rel }.toMap

  /** Serve `_file` unless the lake has a REAL `_file` data column (then
    * the data column wins and the synthetic one disappears, matching
    * [[SnapshotTable.metadataColumns]]).
    */
  private val tagFiles: Boolean =
    !m.schema.fieldNames.contains(SnapshotTable.FileMetaCol)

  override val rootPaths: Seq[Path] = Seq(dataDir)

  override val leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
    val lf = mutable.LinkedHashMap.empty[Path, FileStatus]
    entriesByPath.foreach { case (p, e) =>
      lf.put(p, new FileStatus(e.bytes, false, 1, 128L * 1024 * 1024, 0L, p))
    }
    lf
  }

  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    leafFiles.values.toSeq.groupBy(_.getPath.getParent)
      .map { case (d, fs) => d -> fs.toArray }

  override def partitionSpec(): PartitionSpec = cachedPartitionSpec

  private lazy val cachedPartitionSpec: PartitionSpec = inferPartitioning()

  /** The hive partition columns PLUS the synthetic `_file` provenance
    * column ([[SnapshotTable.FileMetaCol]]) — a per-file constant served
    * from the manifest with zero data I/O. `partitionSpec()` stays
    * hive-only (it types the per-DIRECTORY values stock pruning
    * evaluates); [[listFiles]] appends the per-file value.
    */
  override def partitionSchema: StructType =
    if (!tagFiles) partitionSpec().partitionColumns
    else StructType(partitionSpec().partitionColumns.fields :+
      StructField(SnapshotTable.FileMetaCol, StringType, nullable = false))

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = m.files.map(_.bytes).sum

  /** Stock behavior first (hive partition pruning + metadata filters),
    * then manifest envelope skipping per surviving file, then the
    * per-file `_file` tag: each surviving file becomes its own
    * [[PartitionDirectory]] whose values row appends its manifest rel
    * path (filters on `_file` — rare, but legal — evaluate per file).
    */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (fileFilters, hiveFilters) =
      partitionFilters.partition(_.references.exists(
        _.name == SnapshotTable.FileMetaCol))
    val dirs = super.listFiles(if (tagFiles) hiveFilters else partitionFilters,
      dataFilters)
    val box = ManifestFileIndex.boxOf(dataFilters)
    val skipped =
      if (box.isEmpty) dirs
      else dirs.map { pd =>
        pd.copy(files = pd.files.filter { f =>
          statsByPath.get(f.getPath)
            .forall(st => ManifestFileIndex.surviving(st, box))
        })
      }
    if (!tagFiles) return skipped
    val nHive = partitionSpec().partitionColumns.length
    val filePred = fileFilters.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And).map { e =>
      val full = partitionSchema
      CatalystPredicate.create(e.transform {
        case a: AttributeReference =>
          val i = full.fieldIndex(a.name)
          BoundReference(i, full(i).dataType, full(i).nullable)
      })
    }
    skipped.flatMap { pd =>
      pd.files.flatMap { f =>
        val rel = relByPath.getOrElse(f.getPath,
          throw new IllegalStateException(
            s"file ${f.getPath} not in manifest v${m.version} under $root"))
        val vals = new GenericInternalRow(nHive + 1)
        (0 until nHive).foreach(i => vals.update(i,
          pd.values.get(i, partitionSpec().partitionColumns(i).dataType)))
        vals.update(nHive, UTF8String.fromString(rel))
        if (filePred.forall(_.eval(vals)))
          Some(PartitionDirectory(vals.asInstanceOf[InternalRow], Seq(f)))
        else None
      }
    }
  }
}

private object SnapshotPartitioningIndex {
  def qualifiedDataDir(spark: SparkSession, root: String): Path = {
    val dd = new Path(root, "data")
    dd.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dd)
  }
}
