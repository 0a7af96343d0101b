package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** SQL `MERGE INTO` / `UPDATE` (and arbitrary-predicate `DELETE`) on
  * snapshot lakes: the GROUP-BASED copy-on-write seam of Spark's
  * row-level-operation framework (the one Iceberg's COW tables use),
  * on the graft manifest — with the group pruned to the files the
  * statement can actually touch, so a small keyed MERGE against a
  * 100 TB lake rewrites megabytes, not the lake.
  *
  * How the pieces meet: the analyzer rewrites the DML into
  * `ReplaceData(query)` where `query` computes every SURVIVING row of
  * the groups the operation's scan read — matched rows modified per the
  * MERGE/UPDATE clauses, unmatched rows passed through — and the
  * operation's [[BatchWrite]] replaces those groups atomically. The
  * group here is a FILE, determined in two sound narrowing passes that
  * both start from the full pinned manifest:
  *
  *   1. STATIC pruning: Spark's `GroupBasedRowLevelOperationScanPlanning`
  *      pushes the target-only conjuncts of the command condition into
  *      [[SnapshotRowLevelScanBuilder]]. They are used ONLY to select
  *      candidate files (manifest envelope overlap + hive partition
  *      values — the same translation as the DELETE doorway); they are
  *      NEVER forwarded as parquet row filters, because a group-based
  *      scan must return every row of each surviving group (a pushed
  *      row filter would silently drop the unmatched rows a COW rewrite
  *      has to carry — the framework discards the residual filters on
  *      this path, so row-dropping here is data loss, not a re-check).
  *   2. RUNTIME group filtering: the operation requires the `_file`
  *      metadata column ([[SnapshotTable.metadataColumns]], served as a
  *      per-file partition value with zero data I/O), and the scan
  *      implements [[SupportsRuntimeV2Filtering]] keyed on it — Spark's
  *      `RowLevelOperationRuntimeGroupFiltering` then runs the
  *      matching-rows subquery (e.g. the MERGE join) first, collects
  *      the distinct `_file` values it touched, and hands them back via
  *      `filter(_file IN ...)`; the scan narrows to exactly those files
  *      before planning its partitions. The subquery plans its own
  *      partitions from the pre-narrowed state (execution order:
  *      subquery completes before the main scan's runtime filter is
  *      applied), mirroring Iceberg's `SparkCopyOnWriteScan`.
  *
  * The [[SnapshotReplaceDataWrite]] commit then replaces exactly the
  * narrowed candidate set through the rewrite-commit core every library
  * rewrite uses ([[SnapshotLake.commitRewrite]]) and carries every other
  * file by IDENTITY (a concurrent rewrite of a candidate aborts the
  * statement loudly; concurrent appends ride through untouched).
  *
  * The write path is a REAL distributed DSv2 write (ReplaceData has no
  * V1 fallback), the same staged write every lake write uses: executors
  * write zstd parquet through Spark's own `ParquetFileFormat.prepareWrite`
  * factory ([[BloomWriter]] leaves each file's bloom sidecars beside it)
  * straight into the lake's stage-dir convention — for hive-partitioned lakes each task routes its
  * partition-sorted rows to per-partition files (partition columns live
  * in the directory name, not the file, exactly like a library append) —
  * commit messages carry each file's complete manifest entry, built by
  * the task, and the driver publishes through [[SnapshotStagedWrite]] +
  * the rewrite-commit core, crash-safety by the same invisible-stage
  * contract.
  */
final class SnapshotRowLevelOperation(
    spark: SparkSession,
    root: String,
    base: SnapshotLake.Manifest,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  private[sinks] val partCols: Seq[String] = SnapshotTable.partColsOf(base)

  /** Whether the synthetic `_file` column is available (it is unless the
    * lake has a REAL `_file` data column — then runtime group filtering
    * is off and DML degrades gracefully to static pruning only).
    */
  private[sinks] val fileTagged: Boolean =
    !base.schema.fieldNames.contains(SnapshotTable.FileMetaCol)

  /** The files this statement will REPLACE — starts as the full pinned
    * manifest, narrowed by the static prune at scan build and by the
    * runtime `_file IN (...)` filter. Written on the driver only (scan
    * build + runtime filter application), read at commit.
    */
  @volatile private[sinks] var candidates: Seq[SnapshotLake.FileEntry] =
    base.files

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft-snapshot $cmd `$root`@v${base.version}"

  /** `_file` in the read relation keys the runtime group filter (and
    * flows through the rewrite query to the writer's metadata
    * projection, which Spark strips before rows reach the files).
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (fileTagged) Array(Expressions.column(SnapshotTable.FileMetaCol))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotRowLevelScanBuilder(this, spark, root, base, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new PartitionOrdered {
        override protected def orderCols: Seq[String] = partCols
        override def toBatch: BatchWrite =
          new SnapshotReplaceDataWrite(spark, root, base,
            SnapshotRowLevelOperation.this, info.schema,
            cmd.toString.toLowerCase)
      }
    }
}

final class SnapshotRowLevelOperationBuilder(
    spark: SparkSession, root: String, base: SnapshotLake.Manifest,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // tripwire: deletes exist only on dmlMode=mor lakes, which route to
    // the delta builder — a COW rewrite over delete-carrying files would
    // rebuild groups from its own (delete-aware) scan but the invariant
    // is load-bearing enough to fail loudly on rather than reason about
    require(base.files.forall(_.deletes.isEmpty),
      s"copy-on-write row-level DML over position-delete-carrying files " +
        s"under $root — this lake should be dmlMode=mor; compact() first")
    new SnapshotRowLevelOperation(spark, root, base, info.command)
  }
}

/** The operation's scan builder. Pushed filters (the target-only
  * conjuncts of the command condition) select CANDIDATE FILES only —
  * all of them are returned as post-scan filters, and none reach the
  * parquet reader, so candidate files are always read in full (the
  * group-based contract).
  */
final class SnapshotRowLevelScanBuilder(
    op: SnapshotRowLevelOperation,
    spark: SparkSession,
    root: String,
    base: SnapshotLake.Manifest,
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // ALL residual: groups must be scanned whole
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    // column-mapped lakes MUST resolve by field id here: a name-matched
    // read of a renamed column returns NULL from pre-rename files and
    // this scan feeds a rewrite that would commit those NULLs back
    SnapshotLake.requireFieldIdReads(spark, base)
    val box = SnapshotTable.pruneBoxOf(pushed)
    val partVals = SnapshotTable.partitionValuesFrom(pushed, op.partCols,
      spark.sessionState.conf.sessionLocalTimeZone)
    val candidates =
      base.files.filter(f => ManifestFileIndex.surviving(f, box, partVals))
    op.candidates = candidates
    new SnapshotRowLevelScan(op, spark, root, base, candidates, required,
      options)
  }
}

/** The operation scan: a stock vectorized parquet scan over the current
  * candidate files (same [[SnapshotPartitioningIndex]] as any table
  * read, so `_file` and hive partition values come from the manifest),
  * rebuilt when the runtime group filter narrows the set.
  */
final class SnapshotRowLevelScan(
    op: SnapshotRowLevelOperation,
    spark: SparkSession,
    root: String,
    base: SnapshotLake.Manifest,
    initial: Seq[SnapshotLake.FileEntry],
    required: Option[StructType],
    options: CaseInsensitiveStringMap) extends Scan with Batch
    with SupportsRuntimeV2Filtering {

  @volatile private var current: Seq[SnapshotLake.FileEntry] = initial
  private var builtFor: Seq[SnapshotLake.FileEntry] = null
  private var inner: Scan = null

  /** Build (or rebuild, after a runtime narrow) the delegate parquet
    * scan. The subquery relation shares this object but plans its
    * partitions BEFORE the runtime filter lands, so per-call rebuild —
    * not a lazy val — is what keeps both readers consistent.
    */
  private def innerScan: Scan = synchronized {
    if (builtFor ne current) {
      val index = new SnapshotPartitioningIndex(spark, root,
        base.copy(files = current))
      val dataSchema = StructType(
        base.schema.fields.filterNot(f => op.partCols.contains(f.name)))
      val sb = ParquetScanBuilder(spark, index, base.schema, dataSchema,
        options)
      required.foreach(sb.pruneColumns)
      inner = sb.build()
      builtFor = current
    }
    inner
  }

  override def readSchema(): StructType = innerScan.readSchema()

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-row-level-scan `$root`@v${base.version} " +
      s"${current.size}/${base.files.size} candidate files"

  override def filterAttributes(): Array[NamedReference] =
    if (op.fileTagged) Array(Expressions.column(SnapshotTable.FileMetaCol))
    else Array.empty

  /** The runtime group filter: `_file IN (<files the matching-rows
    * subquery touched>)`. Narrowing must be EXACT — the rewrite query
    * row-filters on the same predicate, so a file left in the replace
    * set whose rows were filtered out would be dropped without
    * replacement. Anything unrecognized referencing `_file` therefore
    * fails the statement loudly instead of guessing.
    */
  override def filter(predicates: Array[V2Predicate]): Unit = {
    val onFile = predicates.filter(_.references().exists(
      _.fieldNames().sameElements(Array(SnapshotTable.FileMetaCol))))
    if (onFile.isEmpty) return
    val admitted = onFile.map(admittedFiles).reduce(_ intersect _)
    val narrowed = current.filter(f => admitted.contains(f.rel))
    current = narrowed
    op.candidates = narrowed
  }

  private def admittedFiles(p: V2Predicate): Set[String] = {
    def lit(e: org.apache.spark.sql.connector.expressions.Expression): String =
      e match {
        case l: Literal[_] => String.valueOf(l.value)
        case other => throw new IllegalStateException(
          s"runtime group filter on ${SnapshotTable.FileMetaCol}: " +
            s"non-literal child $other — refusing to guess (a wrong " +
            "guess loses rows)")
      }
    p.name() match {
      case "IN" => p.children().drop(1).map(lit).toSet
      case "=" => Set(lit(p.children()(1)))
      case other => throw new IllegalStateException(
        s"runtime group filter on ${SnapshotTable.FileMetaCol}: " +
          s"unsupported predicate $other — refusing to guess (a wrong " +
          "guess loses rows)")
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    innerScan.toBatch.planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    innerScan.toBatch.createReaderFactory()
}

/** What one task staged, under stage-relative names: the entries of its
  * data files and, in a merge-on-read write, its position-delete sidecar
  * with the data/-relative files the sidecar covers.
  */
private case class StagedFilesMessage(files: Seq[SnapshotLake.FileEntry],
    deletes: Option[(String, Seq[String])] = None) extends WriterCommitMessage

/** How one staged write's routing writers write and describe their
  * files: Spark's zstd parquet factory, its job conf, and the index
  * columns every entry records.
  */
private[sinks] final case class StagedParquet(factory: OutputWriterFactory,
    conf: SerializableConfiguration, statsCols: Set[String],
    bloomCols: Seq[String])

/** A routing write's one request to Spark: rows sorted by the partition
  * columns within each task — the sort V1's `FileFormatWriter` imposes —
  * so each task's [[HiveRoutingWriter]] fills one file per partition
  * directory. Nothing is asked of an unpartitioned write.
  */
private[sinks] trait PartitionOrdered extends RequiresDistributionAndOrdering {
  protected def orderCols: Seq[String]

  override def requiredDistribution(): Distribution = Distributions.unspecified()

  // quoted: a column name is one identifier, dots and all
  override def requiredOrdering(): Array[SortOrder] = orderCols.map(c =>
    Expressions.sort(Expressions.column(s"`${c.replace("`", "``")}`"),
      SortDirection.ASCENDING)).toArray
}

/** The driver-side plumbing every write into a snapshot lake shares —
  * the library writes ([[SnapshotStageTable]]: appends, rewrites and the
  * merge-on-read merge) and the SQL DML and dynamic-overwrite writes: a
  * stage dir under a fresh token, Spark's own parquet `prepareWrite`
  * factory for the executors' [[HiveRoutingWriter]]s, publishing the
  * entries the tasks reported under token-prefixed names, the one
  * merge-on-read commit ([[commitDelta]]), and dropping the stage dir on
  * commit or abort. The SQL subclasses commit through
  * [[SnapshotLake.commitRewrite]] / [[SnapshotLake.publishRewrite]],
  * which reclaim a lost race's files and abort the statement loudly.
  */
private[sinks] abstract class SnapshotStagedWrite(spark: SparkSession,
    root: String) {

  protected val token: String = SnapshotLake.newToken()
  private[sinks] val stageDir = {
    val p = new Path(root, s".stage-$token")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  protected def fs = stageDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Create the stage dir, refusing id-less writes into an id lake. */
  protected def openStage(lakeSchema: StructType): Unit = {
    SnapshotLake.requireFieldIdWrites(spark, lakeSchema)
    fs.mkdirs(stageDir)
  }

  /** A zstd parquet writer factory for files of `schema`, with its own
    * Job: `prepareWrite` threads the schema, field-id metadata included,
    * through the job conf. An unsupported or missing bloom column refuses
    * here, on the driver, before any task runs.
    */
  protected def parquetFactory(schema: StructType,
      statsCols: Set[String] = Set.empty,
      bloomCols: Seq[String] = Nil): StagedParquet = {
    val blooms = bloomCols.distinct.sorted
    BloomSidecars.requireSupported(schema, blooms)
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    StagedParquet(new ParquetFileFormat().prepareWrite(spark, job,
      Map("compression" -> "zstd"), schema),
      new SerializableConfiguration(job.getConfiguration), statsCols, blooms)
  }

  /** The task writers for rows of `schema` routed by `partCols` (which
    * live in the directory name; files carry the rest), checking the
    * constraints the lake `props` declare on every row.
    */
  protected def routingWriters(schema: StructType, partCols: Seq[String],
      statsCols: Set[String], bloomCols: Seq[String],
      props: Map[String, String]): SnapshotDataWriterFactory =
    new SnapshotDataWriterFactory(parquetFactory(StructType(
      schema.fields.filterNot(f => partCols.contains(f.name))), statsCols,
      bloomCols), stageDir.toString, schema, partCols,
      spark.sessionState.conf.sessionLocalTimeZone,
      SnapshotLake.boundConstraints(spark, schema, props))

  /** Publish what the executors staged: move each data file under data/,
    * the write token prefixing its BASENAME (the hive partition dirs the
    * task writers routed into are kept), and its bloom sidecars
    * ([[BloomSidecars.staged]]) under _blooms/, in rel order. The entries
    * come complete from the writing tasks, so nothing here opens a file.
    * Sidecars land BEFORE the manifest commit that makes the files
    * visible; a crash in between leaves unreferenced files + sidecars
    * (invisible garbage, swept by vacuum), never a committed file whose
    * recorded bloom is missing. Returns the published entries.
    */
  private[sinks] def publishStaged(messages: Array[WriterCommitMessage])
      : Seq[SnapshotLake.FileEntry] =
    messages.toSeq.flatMap {
      case m: StagedFilesMessage => m.files
      case _ => Nil
    }.sortBy(_.rel).map { f =>
      val i = f.rel.lastIndexOf('/')
      val rel = f.rel.take(i + 1) + s"$token-" + f.rel.drop(i + 1)
      val from = new Path(stageDir, f.rel)
      val target = new Path(SnapshotLake.dataDir(root), rel)
      fs.mkdirs(target.getParent)
      require(fs.rename(from, target), s"stage move failed: $target")
      f.bloomCols.foreach { c =>
        val bloom = SnapshotLake.bloomPath(root, rel, c)
        fs.mkdirs(bloom.getParent)
        require(fs.rename(BloomSidecars.staged(from, c), bloom),
          s"bloom sidecar publish failed: $bloom")
      }
      f.copy(rel = rel)
    }

  /** The one commit of a merge-on-read write, SQL DML or library merge:
    * publish the inserts, move each task's delete sidecar under
    * `_deletes/` behind the write token, and stack the sidecars onto the
    * files they cover in ONE [[SnapshotLake.commitRewrite]] guarding
    * `candidates` (a lost race throws its ConflictingRewriteException,
    * or aborts the `statement`). Returns the version won and the number
    * of files that gained deletes.
    */
  private[sinks] def commitDelta(messages: Array[WriterCommitMessage],
      base: SnapshotLake.Manifest, op: String,
      candidates: Seq[SnapshotLake.FileEntry],
      lockExpiryMs: Long = SnapshotLake.DefaultLockExpiryMs,
      statement: Option[String] = None): (Long, Int) = {
    val added = publishStaged(messages)
    val deletes = messages.toSeq.flatMap {
      case StagedFilesMessage(_, Some((staged, covered))) =>
        val rel = s"$token-${new Path(staged).getName}"
        val target = new Path(SnapshotLake.deletesDir(root), rel)
        fs.mkdirs(target.getParent)
        require(fs.rename(new Path(stageDir, staged), target),
          s"delete sidecar move failed: $target")
        covered.map(_ -> rel)
      case _ => Nil
    }.groupMap(_._1)(_._2)
    (SnapshotLake.commitRewrite(spark, root, op, base, replaced = Nil,
      guarded = candidates, added = added, deletes = deletes,
      lockExpiryMs = lockExpiryMs, statement = statement), deletes.size)
  }

  /** Run the driver-side commit; the stage dir goes on every exit. */
  protected def committing[A](body: => A): A =
    try body finally fs.delete(stageDir, true)

  def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(stageDir, true)
}

/** The library writes' staged write: a write-only DSv2 table over one
  * stage dir, which a frame of `rowSchema` is appended to through
  * [[WriteBridge]], its rows sorted by `sortCols` within each task.
  * [[SnapshotLake]]'s `stageFiles` and `mergeMorAttempt` each give it
  * the task writers — built with the table, so a refusal (an
  * unsupported bloom column) comes before a stage exists — and the
  * commit.
  */
private[sinks] abstract class SnapshotStageTable(spark: SparkSession,
    root: String, rowSchema: StructType, lakeSchema: StructType,
    sortCols: Seq[String])
    extends SnapshotStagedWrite(spark, root) with SupportsWrite with BatchWrite {

  protected val writers: DataWriterFactory

  override def name(): String = s"graft-stage `$root`"

  override def schema(): StructType = WriteBridge.nullable(rowSchema)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new PartitionOrdered {
        override protected def orderCols: Seq[String] = sortCols
        override def toBatch: BatchWrite = SnapshotStageTable.this
      }
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    openStage(lakeSchema)
    writers
  }

  // a failed write's stage dir goes once its killed tasks have ended
  // (SnapshotLake.writeStage), not while they may still write into it
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** The ReplaceData BatchWrite: replace the operation's (possibly
  * runtime-narrowed) candidate files with the rewrite's output in ONE
  * rewrite commit; every non-candidate file is carried by IDENTITY —
  * unread, unwritten, unmoved. Concurrent appends ride through (they
  * merge against versions after `base`); a concurrent REWRITE of a
  * candidate fails the read-set guard and aborts this statement loudly —
  * a SQL statement cannot be silently re-run by the committer, so the
  * user re-issues it against the new head.
  */
final class SnapshotReplaceDataWrite(
    spark: SparkSession,
    root: String,
    base: SnapshotLake.Manifest,
    op: SnapshotRowLevelOperation,
    writeSchema: StructType,
    opName: String) extends SnapshotStagedWrite(spark, root) with BatchWrite {

  // the framework must hand us rows in exactly the table's schema — a
  // Spark upgrade that adds projection columns would otherwise land
  // files whose physical schema drifts from the manifest's, silently
  require(writeSchema.fields.map(f => (f.name, f.dataType)).sameElements(
    base.schema.fields.map(f => (f.name, f.dataType))),
    s"row-level write schema ${writeSchema.simpleString} != lake schema " +
      s"${base.schema.simpleString}")

  private val (statsCols, bloomCols) = SnapshotLake.indexCols(base, op.partCols)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val writers = routingWriters(writeSchema, op.partCols, statsCols,
      bloomCols, base.props)
    openStage(base.schema)
    writers
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = committing {
    val newFiles = publishStaged(messages)
    // the REPLACED set: exactly the candidate files the statement's
    // scan was narrowed to; a statement that touched nothing publishes
    // nothing
    if (op.candidates.nonEmpty || newFiles.nonEmpty)
      SnapshotLake.commitRewrite(spark, root, s"$opName:sql", base,
        replaced = op.candidates, guarded = Nil, added = newFiles,
        statement = Some(s"SQL $opName lost to a concurrent rewrite of " +
          "the same lake"))
  }
}

/** Dynamic partition overwrite (`INSERT OVERWRITE` under
  * `spark.sql.sources.partitionOverwriteMode=dynamic`): replace EXACTLY
  * the hive partitions present in the incoming frame, in ONE atomic
  * manifest commit — the nightly-batch-reload idiom (`replaceWhere` with
  * the predicate derived from the data itself, stray rows impossible by
  * construction because each row IS its partition). Executors route rows
  * to per-partition staged files through the same
  * [[SnapshotDataWriterFactory]] the row-level path uses; at commit the
  * touched partition set is read off the staged directory names, head
  * files in those partitions are dropped, everything else is carried by
  * identity. Stats/bloom columns inherit through the same
  * options → manifest props → head files chain as every SQL write.
  *
  * Spark selects this plan from the session conf alone, so an
  * UNPARTITIONED lake lands here too — there the whole table is the one
  * "partition" and the commit is a full atomic REPLACE, exactly what the
  * plain `INSERT OVERWRITE` form does (Hive's dynamic-mode semantics).
  *
  * Concurrency contract (WriteSerializable, Delta's line): every head
  * file this commit DROPS must have been in the statement-start manifest
  * (`base`). A racing append/rewrite that landed a file into a touched
  * partition (or anywhere, on an unpartitioned lake) between statement
  * start and commit would otherwise be SILENTLY dropped with the
  * partition — that is data loss of a committed write, not overwrite
  * semantics, so the statement aborts loudly and the user re-runs it
  * against the new head. The drop set is derived from the head, not
  * read from `base`, so this guard replaces the read-set guard of
  * [[SnapshotLake.commitRewrite]] and publishes through
  * [[SnapshotLake.publishRewrite]] directly.
  */
final class SnapshotDynamicOverwriteWrite(
    spark: SparkSession,
    root: String,
    base: Option[SnapshotLake.Manifest],
    tableSchema: StructType,
    partCols: Seq[String],
    declaredPartitioning: Seq[String],
    tableOptions: CaseInsensitiveStringMap)
    extends SnapshotStagedWrite(spark, root) with BatchWrite {

  // the index columns are fixed when the writers are built: the
  // published entries record exactly the sidecars those writers made
  private lazy val (statsCols, bloomCols) = {
    val (_, _, stats, blooms) = SnapshotTable.writeShape(spark, root,
      declaredPartitioning, tableOptions)
    (stats.toSet -- partCols, blooms.filterNot(partCols.contains))
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val writers = routingWriters(tableSchema, partCols, statsCols, bloomCols,
      base.map(_.props).getOrElse(Map.empty))
    openStage(tableSchema)
    writers
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = committing {
    val newFiles = publishStaged(messages)
    // partitioned + empty frame: replace nothing, publish nothing
    // (Delta semantics — there is no partition to derive)
    if (newFiles.nonEmpty || partCols.isEmpty) {
      // the REPLACED partitions: exactly the directory prefixes the
      // frame's own rows routed into; an unpartitioned lake is one
      // "partition" — a full atomic replace
      def dirOf(rel: String): String = rel.take(math.max(rel.lastIndexOf('/'), 0))
      val touched = newFiles.map(f => dirOf(f.rel)).toSet
      val baseSet = base.map(_.files.map(_.rel).toSet).getOrElse(Set.empty)
      SnapshotLake.publishRewrite(spark, root, "overwrite-dynamic",
        tableSchema, newFiles,
        statement = Some("INSERT OVERWRITE (dynamic) lost to a concurrent " +
          "write into an overwritten partition")) { head =>
        val headFiles = head.map(_.files).getOrElse(Nil)
        val (dropped, carried) =
          if (partCols.isEmpty) (headFiles, Nil)
          else headFiles.partition(f => touched.contains(dirOf(f.rel)))
        // WriteSerializable guard: a file we are about to drop that
        // was NOT in the statement-start manifest is a rival's
        // committed write — dropping it is silent data loss
        val racing = dropped.filterNot(f => baseSet.contains(f.rel))
        if (racing.nonEmpty)
          throw new SnapshotLake.ConflictingRewriteException(
            s"dynamic overwrite under $root would drop ${racing.size} " +
              s"file(s) committed concurrently into overwritten " +
              s"partition(s) (e.g. ${racing.head.rel})")
        carried
      }
    }
  }
}

/** The executor-side hive-routing parquet writer every lake write
  * shares: routes each TABLE-SCHEMA row to its partition directory
  * (rendered as V1's file writer renders it: Spark's own Cast-to-string
  * in the session time zone, hive escaping, NULL or empty as
  * `__HIVE_DEFAULT_PARTITION__`), strips the partition columns from the
  * written file, checks the declared constraints on every row, and
  * leaves the `bloomCols` sidecars beside each file ([[BloomWriter]]).
  * It keeps ONE file open: rows arrive sorted by the partition columns
  * ([[PartitionOrdered]]), so a directory change closes the file, and a
  * directory that comes back gets a fresh numbered file. For each file
  * it closes, the task builds the complete manifest entry — bytes, plus
  * rows and `statsCols` envelopes from the file's own footer
  * ([[SnapshotLake.footerProbe]]) — and reports it at commit.
  */
private[sinks] final class HiveRoutingWriter(
    files: StagedParquet,
    stageDir: String,
    schema: StructType,
    partCols: Seq[String],
    timeZoneId: String,
    partitionId: Int,
    taskId: Long,
    namePrefix: String = "part",
    constraints: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil) {

  // declared table constraints, compiled ONCE per task to codegen'd
  // predicates over the full-schema row (violation conditions pre-bound
  // on the driver); a violating row fails the statement before its task
  // commits anything
  private val constraintPreds = constraints.map { case (n, e) =>
    (n, org.apache.spark.sql.catalyst.expressions.Predicate.create(e))
  }

  private val context = new TaskAttemptContextImpl(files.conf.value,
    new TaskAttemptID("graft", 0, TaskType.MAP, partitionId,
      (taskId % Int.MaxValue).toInt))
  private val ext = files.factory.getFileExtension(context)
  private val dataSchema = StructType(
    schema.fields.filterNot(f => partCols.contains(f.name)))
  private val dataIdx = schema.fields.zipWithIndex.collect {
    case (f, i) if !partCols.contains(f.name) => i
  }.toIndexedSeq
  private val partIdx = partCols.map(schema.fieldIndex)
  // hive-partition value rendering: Spark's own Cast-to-string in the
  // session time zone, escaped the way the library writer escapes
  private val partStrings = UnsafeProjection.create(partIdx.map(i =>
    Cast(BoundReference(i, schema(i).dataType, schema(i).nullable),
      StringType, Some(timeZoneId))
      : org.apache.spark.sql.catalyst.expressions.Expression).toIndexedSeq)
  private val dataProj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
    dataSchema, dataIdx)

  // the open file: its rendered partition values, stage-relative name
  // and writer; `written` holds the entries of the files already closed
  private var key: UnsafeRow = null
  private var rel: String = null
  private var writer: OutputWriter = null
  private val written =
    scala.collection.mutable.ArrayBuffer.empty[SnapshotLake.FileEntry]

  /** Route one row in the FULL table schema. */
  def write(full: InternalRow): Unit = {
    constraintPreds.foreach { case (n, p) =>
      if (p.eval(full)) throw new IllegalArgumentException(
        s"write refused: constraint violation `$n` (declared via " +
          "constraint.<name> / notNullCols table properties; nothing " +
          "was committed)")
    }
    val strings = partStrings(full)
    if (writer == null || strings != key) {
      closeFile()
      key = strings.copy()
      open(partCols.indices.map { k =>
        ExternalCatalogUtils.getPartitionPathString(partCols(k),
          if (key.isNullAt(k)) null else key.getUTF8String(k).toString) + "/"
      }.mkString)
    }
    if (partCols.isEmpty) writer.write(full)
    else {
      dataProj.project(full)
      writer.write(dataProj)
    }
  }

  // fixed-width names: a manifest's bytes do not depend on task ids' digits
  private def open(dir: String): Unit = {
    rel = f"$dir$namePrefix-$partitionId%05d-$taskId%019d.c${written.size}%03d$ext"
    val path = s"$stageDir/$rel"
    val parquet = files.factory.newInstance(path, dataSchema, context)
    writer = if (files.bloomCols.isEmpty) parquet
      else new BloomWriter(parquet, path, dataSchema, files.bloomCols, context)
  }

  private def closeFile(): Unit = if (writer != null) {
    writer.close()
    writer = null
    val p = new Path(s"$stageDir/$rel")
    val (stats, rows) =
      SnapshotLake.footerProbe(files.conf.value, p, files.statsCols)
    written += SnapshotLake.FileEntry(rel,
      p.getFileSystem(files.conf.value).getFileStatus(p).getLen, stats,
      files.bloomCols, rows)
  }

  def commitFiles(): Seq[SnapshotLake.FileEntry] = {
    closeFile()
    written.toSeq
  }

  def abort(): Unit = {
    val fs = new Path(stageDir).getFileSystem(files.conf.value)
    if (writer != null) {
      try writer.close() catch { case _: Throwable => () }
      fs.delete(new Path(s"$stageDir/$rel"), false)
    }
    written.foreach(f => fs.delete(new Path(s"$stageDir/${f.rel}"), false))
  }
}

final class SnapshotDataWriterFactory(
    files: StagedParquet,
    private[sinks] val stageDir: String,
    private[sinks] val schema: StructType,
    partCols: Seq[String],
    private[sinks] val timeZoneId: String,
    constraints: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends DataWriterFactory {

  /** One task's writer of rows of `schema`, routed by `partCols`. */
  private[sinks] def routing(partitionId: Int, taskId: Long): HiveRoutingWriter =
    new HiveRoutingWriter(files, stageDir, schema, partCols, timeZoneId,
      partitionId, taskId, constraints = constraints)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val routing = this.routing(partitionId, taskId)

    new DataWriter[InternalRow] {
      // ReplaceData's plan tags every row with a LEADING __row_operation
      // int; when the plan carries projections (it does whenever the
      // operation declares metadata attributes) Spark's writing task
      // applies the row projection and rows arrive in the plain table
      // schema — but with NO projections (e.g. a lake with a real
      // `_file` column, where metadata is off) the tag reaches us and is
      // stripped here, through Spark's own ProjectingInternalRow. Tag
      // values outside the group-based WRITE family mean the plan shape
      // changed under us: fail loudly rather than write rows under a
      // wrong layout.
      private val tagProj = org.apache.spark.sql.catalyst
        .ProjectingInternalRow(schema, (1 to schema.length).toIndexedSeq)
      private val writeOps = Set(
        org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_OPERATION,
        org.apache.spark.sql.catalyst.util.RowDeltaUtils
          .WRITE_WITH_METADATA_OPERATION)

      override def write(row: InternalRow): Unit = {
        val full: InternalRow =
          if (row.numFields == schema.length) row
          else {
            require(row.numFields == schema.length + 1,
              s"row-level write row has ${row.numFields} fields for a " +
                s"${schema.length}-column lake — plan layout drifted")
            val tag = row.getInt(0)
            require(writeOps.contains(tag),
              s"row-level write row tagged $tag — not a group-based " +
                "WRITE; plan layout drifted")
            tagProj.project(row)
            tagProj
          }
        routing.write(full)
      }

      override def commit(): WriterCommitMessage =
        StagedFilesMessage(routing.commitFiles())

      override def abort(): Unit = routing.abort()

      override def close(): Unit = ()
    }
  }
}
