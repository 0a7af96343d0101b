package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.catalyst.expressions.{Expression => CatalystExpression}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.FilterBridge
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** MERGE-ON-READ row-level DML (round 14): Spark's [[SupportsDelta]]
  * seam on the graft manifest — the Iceberg-v2 position-delete design.
  * Where the copy-on-write path ([[SnapshotRowLevelOperation]]) rewrites
  * every file that holds ONE matched row, the delta path writes only:
  *
  *   - the MATCHED rows' positions, as `_deletes/` parquet sidecars of
  *     (file, pos) — recorded against the immutable data file each row
  *     came from ([[SnapshotTable.FileMetaCol]] `_file` +
  *     [[SnapshotTable.PosMetaCol]] `_pos`, the scan's row ids);
  *   - the NEW row versions (MERGE inserts, UPDATE after-images), as
  *     ordinary staged data files.
  *
  * The commit stacks each delete sidecar onto the manifest entries it
  * covers (`FileEntry.deletes`) and appends the insert files — NO data
  * file is rewritten, so statement cost is proportional to MATCHED ROWS,
  * not to files touched: the worst COW case (every file holds one
  * matched key) costs megabytes instead of the lake. Readers apply the
  * deletes ([[SnapshotLake.readEntries]] / [[SnapshotMorScan]]);
  * `compact`/`zorder`/any rewrite absorbs them (fresh entries start
  * delete-free) and `vacuum` sweeps unreferenced sidecars. The commit
  * goes through the same rewrite-commit core as every rewrite
  * ([[SnapshotLake.commitRewrite]]), whose read-set guard covers delete
  * sets: a rival that replaced a candidate file — or stacked new deletes
  * onto one — aborts the statement loudly (positions against a replaced
  * file would be meaningless; insert-after-rival-delete would be write
  * skew).
  *
  * Opt-in per lake: `dmlMode = 'mor'` in CREATE TABLE TBLPROPERTIES (or
  * `SnapshotLake.create(tableProps)`); the default stays copy-on-write,
  * byte-identical to round 13. The trade is the standard one: MOR makes
  * writes O(changed rows) and charges reads a per-row position filter
  * until compaction absorbs the sidecars.
  */
object SnapshotMor {

  /** The generated per-file row ordinal: a LongType field by this name in
    * a parquet read schema makes Spark's own readers (vectorized AND
    * parquet-mr) emit the row's index within its file — correct across
    * splits and row-group skipping, because the readers compute it from
    * the footer's row-group offsets. The exact mechanism `_metadata.
    * row_index` rides on; reused here so `_pos` costs zero I/O.
    */
  private[sinks] val RowIdxCol: String =
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Delete sidecar schema: the data/-relative file and the 0-based row
    * position within it.
    */
  private[sinks] val DeleteSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Executor-side load of ONE data file's pending delete positions:
    * each reader task opens only the sidecars ITS data file's manifest
    * entry references (`FileEntry.deletes`), with a parquet filter on
    * `file = <dataRel>` — row groups of other files skip via the
    * sidecar's footer stats (sidecars are written sorted by (file, pos),
    * so the stats are tight) and filter2's record filter makes the
    * predicate exact. No driver materialization, no global ceiling: the
    * position memory a task holds is bounded by the deletes of the files
    * that task reads — the same scale contract as the data itself.
    * (Iceberg v2 applies position deletes in the reader for exactly this
    * reason.) Returns a SORTED deduplicated array.
    */
  private[sinks] def deletePositionsFor(
      conf: org.apache.hadoop.conf.Configuration, deletesDir: String,
      sidecars: Seq[String], dataRel: String): Array[Long] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.io.api.Binary
    val pred = FilterApi.eq(FilterApi.binaryColumn("file"),
      Binary.fromString(dataRel))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    sidecars.foreach { rel =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), new Path(s"$deletesDir/$rel"))
        .withConf(conf)
        .withFilter(FilterCompat.get(pred))
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          buf += g.getLong("pos", 0)
          g = reader.read()
        }
      } finally reader.close()
    }
    val arr = buf.toArray
    java.util.Arrays.sort(arr)
    // dedup in place (a row can be deleted twice by idempotent replays)
    var w = 0; var i = 0
    while (i < arr.length) {
      if (w == 0 || arr(i) != arr(w - 1)) { arr(w) = arr(i); w += 1 }
      i += 1
    }
    if (w == arr.length) arr else java.util.Arrays.copyOf(arr, w)
  }
}

/** Scan builder for merge-on-read lakes — both the plain table read of a
  * lake that carries delete sidecars (or declares `dmlMode=mor`, whose
  * `_pos` metadata column must be servable) and the delta operation's
  * row-id scan. Pushed filters are used ONLY for sound FILE-level
  * candidate pruning (manifest envelope overlap + hive partition
  * values); all of them are returned as residuals, so Spark re-applies
  * every predicate above the scan — pruning changes which files open,
  * never the answer.
  *
  * Fast path: when no candidate carries deletes and the query does not
  * ask for `_pos`, the built scan IS the stock vectorized parquet scan
  * (with the filters forwarded for row-group skipping) — a mor lake
  * with no pending deletes reads byte-identically to a cow lake.
  */
final class SnapshotMorScanBuilder(
    op: Option[SnapshotDeltaRowLevelOperation],
    spark: SparkSession,
    root: String,
    base: SnapshotLake.Manifest,
    partCols: Seq[String],
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns {

  private var pushedExprs: Seq[CatalystExpression] = Nil
  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None

  override def pushFilters(filters: Seq[CatalystExpression]): Seq[CatalystExpression] = {
    pushedExprs = filters
    pushed = filters.flatMap(FilterBridge.translate).toArray
    filters // ALL residual: the engine re-applies every predicate
  }

  override def pushedFilters: Array[V2Predicate] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    // column-mapped lakes MUST resolve by field id here: a name-matched
    // read of a renamed column returns NULL from pre-rename files, and
    // when this scan feeds a delta DML those NULLs become after-images
    SnapshotLake.requireFieldIdReads(spark, base)
    val box = SnapshotTable.pruneBoxOf(pushed)
    val partVals = SnapshotTable.partitionValuesFrom(pushed, partCols,
      spark.sessionState.conf.sessionLocalTimeZone)
    val candidates =
      base.files.filter(f => ManifestFileIndex.surviving(f, box, partVals))
    op.foreach(_.candidates = candidates)
    val needsPos = required.exists(_.fieldNames
      .contains(SnapshotTable.PosMetaCol)) || op.nonEmpty
    if (!needsPos && candidates.forall(_.deletes.isEmpty)) {
      // delete-free fast path: the round-13 vectorized scan, filters
      // forwarded for envelope pruning + parquet row-group skipping
      val index = new SnapshotPartitioningIndex(spark, root,
        base.copy(files = candidates))
      val dataSchema = StructType(
        base.schema.fields.filterNot(f => partCols.contains(f.name)))
      val sb = ParquetScanBuilder(spark, index, base.schema, dataSchema,
        options)
      sb.pushFilters(pushedExprs)
      required.foreach(sb.pruneColumns)
      sb.build()
    } else {
      new SnapshotMorScan(spark, root, base, candidates, required, partCols,
        options)
    }
  }
}

/** The position-filtering scan: a stock parquet scan over the candidate
  * files, widened to also read the generated per-file row index and the
  * manifest-served `_file` partition value; the reader factory drops
  * every (file, pos) present in the broadcast delete sets and projects
  * the requested schema (renaming the row index to `_pos` where asked).
  * Row-based (not vectorized) — the merge-on-read read tax, paid only
  * while delete sidecars are pending; compaction restores the
  * vectorized path.
  */
final class SnapshotMorScan(
    spark: SparkSession,
    root: String,
    base: SnapshotLake.Manifest,
    candidates: Seq[SnapshotLake.FileEntry],
    required: Option[StructType],
    partCols: Seq[String],
    options: CaseInsensitiveStringMap) extends Scan with Batch {

  import SnapshotMor.RowIdxCol
  import SnapshotTable.{FileMetaCol, PosMetaCol}

  /** What the caller asked for; `_file`/`_pos` resolve as metadata. */
  private val outSchema: StructType = required.getOrElse(base.schema)

  /** The inner parquet scan: data columns the caller asked for, PLUS the
    * row-index field (generated) and the `_file` partition value (from
    * the manifest) — both needed to apply position deletes.
    */
  private val inner: Scan = {
    val index = new SnapshotPartitioningIndex(spark, root,
      base.copy(files = candidates))
    val dataSchema = StructType(
      base.schema.fields.filterNot(f => partCols.contains(f.name)) :+
        StructField(RowIdxCol, LongType, nullable = true))
    val sb = ParquetScanBuilder(spark, index,
      StructType(base.schema.fields :+
        StructField(RowIdxCol, LongType, nullable = true)),
      dataSchema, options)
    val wanted = outSchema.fields.filterNot(f =>
      f.name == PosMetaCol || f.name == FileMetaCol)
    val innerRequired = StructType(wanted :+
      StructField(RowIdxCol, LongType, nullable = true) :+
      StructField(FileMetaCol, StringType, nullable = false))
    sb.pruneColumns(innerRequired)
    sb.build()
  }

  override def readSchema(): StructType = outSchema

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-mor-scan `$root`@v${base.version} ${candidates.size}/" +
      s"${base.files.size} candidate files, " +
      s"${candidates.count(_.deletes.nonEmpty)} with position deletes"

  /** Each inner (file-slice) partition is wrapped with exactly the
    * sidecar refs of the candidate files IT reads — a task ships its own
    * files' delete metadata (a few strings), never the lake's, and loads
    * the positions itself executor-side ([[SnapshotMor.
    * deletePositionsFor]]). No driver-side position materialization
    * anywhere on this path.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val qd = SnapshotPartitioningIndex.qualifiedDataDir(spark, root).toString
    val byAbs: Map[String, (String, Seq[String])] = candidates.map(f =>
      s"$qd/${f.rel}" -> (f.rel, f.deletes)).toMap
    inner.toBatch.planInputPartitions().map {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        val sidecars = fp.files.toSeq
          .flatMap(pf => byAbs.get(pf.filePath.toPath.toString))
          .filter(_._2.nonEmpty).toMap
        MorInputPartition(fp, sidecars)
      case other =>
        // unexpected partition shape: fall back to the full (still
        // file→sidecar-name-only) map — sound, just less minimal
        MorInputPartition(other,
          candidates.filter(_.deletes.nonEmpty)
            .map(f => f.rel -> f.deletes).toMap)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val innerSchema = inner.readSchema()
    val posIdx = innerSchema.fieldIndex(RowIdxCol)
    val fileIdx = innerSchema.fieldIndex(FileMetaCol)
    val outIdx = outSchema.fields.map { f =>
      if (f.name == PosMetaCol) posIdx
      else if (f.name == FileMetaCol) fileIdx
      else innerSchema.fieldIndex(f.name)
    }.toIndexedSeq
    new SnapshotMorReaderFactory(inner.toBatch.createReaderFactory(),
      SnapshotLake.deletesDir(root).toString,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      outSchema, outIdx, posIdx, fileIdx)
  }
}

/** A file-slice partition plus the delete-sidecar refs (data rel →
  * sidecar rels) of the candidate files it reads. Positions are NOT
  * here — the reader task loads them from the sidecars itself.
  */
private final case class MorInputPartition(
    inner: InputPartition,
    sidecars: Map[String, Seq[String]]) extends InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

private final class SnapshotMorReaderFactory(
    inner: PartitionReaderFactory,
    deletesDir: String,
    conf: SerializableConfiguration,
    outSchema: StructType,
    outIdx: IndexedSeq[Int],
    posIdx: Int,
    fileIdx: Int) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val mp = partition.asInstanceOf[MorInputPartition]
    val delegate = inner.createReader(mp.inner)
    val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
      outSchema, outIdx)
    // per-reader memo: one executor-side sidecar load per data file this
    // task reads (rows of one file stream contiguously, but a slice
    // boundary can interleave — a map, not a single slot)
    val loaded = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    def positionsOf(rel: String): Array[Long] =
      loaded.getOrElseUpdate(rel, mp.sidecars.get(rel) match {
        case Some(side) => SnapshotMor.deletePositionsFor(conf.value,
          deletesDir, side, rel)
        case None => Array.emptyLongArray
      })
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (delegate.next()) {
          val r = delegate.get()
          val dels = positionsOf(r.getUTF8String(fileIdx).toString)
          if (dels.length == 0 ||
              java.util.Arrays.binarySearch(dels, r.getLong(posIdx)) < 0) {
            proj.project(r)
            current = proj
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = delegate.close()
    }
  }
}

final class SnapshotDeltaRowLevelOperationBuilder(
    spark: SparkSession, root: String, base: SnapshotLake.Manifest,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new SnapshotDeltaRowLevelOperation(spark, root, base, info.command)
}

/** The delta-mode row-level operation: rows are identified by
  * (`_file`, `_pos`), updates are represented as delete + insert, and
  * the scan is [[SnapshotMorScanBuilder]] (statically pruned to
  * candidate files, existing deletes applied so already-removed rows
  * can never re-match).
  */
final class SnapshotDeltaRowLevelOperation(
    spark: SparkSession,
    root: String,
    base: SnapshotLake.Manifest,
    cmd: RowLevelOperation.Command) extends SupportsDelta {

  private[sinks] val partCols: Seq[String] = SnapshotTable.partColsOf(base)

  /** The candidate files the statement's scan was pruned to — the
    * read set the commit guards (a rival rewriting one, or stacking new
    * deletes onto one, aborts this statement).
    */
  @volatile private[sinks] var candidates: Seq[SnapshotLake.FileEntry] =
    base.files

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-snapshot-mor $cmd `$root`@v${base.version}"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(SnapshotTable.FileMetaCol),
      Expressions.column(SnapshotTable.PosMetaCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotMorScanBuilder(Some(this), spark, root, base, partCols,
      options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new SnapshotDeltaWrite(spark, root, base,
          SnapshotDeltaRowLevelOperation.this, info.schema,
          cmd.toString.toLowerCase(java.util.Locale.ROOT))
    }
}

/** The delta BatchWrite: executors write insert files (hive-routed, same
  * convention as every SQL write) and one position-delete sidecar per
  * task; the driver commits them through [[SnapshotStagedWrite.
  * commitDelta]], the commit the library merge-on-read merge
  * ([[SnapshotLake]]'s `mergeMorAttempt`) shares: ONE rewrite that
  * guards the statement's candidates and stacks each sidecar onto the
  * entries it covers — every data file survives by IDENTITY.
  */
final class SnapshotDeltaWrite(
    spark: SparkSession,
    root: String,
    base: SnapshotLake.Manifest,
    op: SnapshotDeltaRowLevelOperation,
    writeSchema: StructType,
    opName: String)
    extends SnapshotStagedWrite(spark, root) with DeltaWrite with DeltaBatchWrite
    with PartitionOrdered {

  // the framework must hand insert rows in exactly the table's schema;
  // a delete-only statement (SQL DELETE) carries NO row projection and
  // arrives with an empty schema — nothing will be inserted
  require(writeSchema.fields.isEmpty ||
    writeSchema.fields.map(f => (f.name, f.dataType)).sameElements(
      base.schema.fields.map(f => (f.name, f.dataType))),
    s"delta write schema ${writeSchema.simpleString} != lake schema " +
      s"${base.schema.simpleString}")

  override def toBatch: DeltaBatchWrite = this

  private val (statsCols, bloomCols) = SnapshotLake.indexCols(base, op.partCols)

  // a delete-only statement's rows carry no data columns to sort by
  override protected def orderCols: Seq[String] =
    if (writeSchema.fields.isEmpty) Nil else op.partCols

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    // delete-only statements pass an empty write schema; the (unused)
    // insert factory still needs a real one
    val writers = new SnapshotDeltaWriterFactory(routingWriters(
      if (writeSchema.fields.isEmpty) base.schema else writeSchema,
      op.partCols, statsCols, bloomCols, base.props),
      parquetFactory(SnapshotMor.DeleteSchema))
    openStage(base.schema)
    writers
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = committing {
    // a no-match statement publishes nothing
    if (messages.exists { case m: StagedFilesMessage =>
        m.files.nonEmpty || m.deletes.nonEmpty; case _ => false })
      commitDelta(messages, base, s"$opName:sql-mor", op.candidates,
        statement = Some(s"SQL $opName (merge-on-read) lost to a " +
          "concurrent rewrite or delta DML of the same lake"))
  }
}

/** `rows`' routing writers for the inserted rows, plus one sorted
  * position-delete sidecar per task under the stage's `deletes/`.
  */
final class SnapshotDeltaWriterFactory(
    rows: SnapshotDataWriterFactory,
    deleteFiles: StagedParquet) extends DeltaWriterFactory {

  import rows.{schema, stageDir, timeZoneId}

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    // constraints guard INSERTED row versions only (deletes remove rows,
    // which cannot create a violation)
    val inserts = rows.routing(partitionId, taskId)

    new DeltaWriter[InternalRow] {
      // data rel -> positions deleted by this task
      private val dels = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]

      private def deleteAt(rel: UTF8String, pos: Long): Unit =
        dels.getOrElseUpdate(rel.toString,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += pos

      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        deleteAt(id.getUTF8String(0), id.getLong(1))

      override def insert(row: InternalRow): Unit = inserts.write(row)

      // the library merge's rows reach write(), as a DataWriter's do:
      // (Spark's row-delta op tag, rel, pos, row...), where a DELETE
      // fills only (rel, pos) and an INSERT only the row
      private val inserted = org.apache.spark.sql.catalyst
        .ProjectingInternalRow(schema, (3 until 3 + schema.length).toIndexedSeq)

      override def write(row: InternalRow): Unit = row.getInt(0) match {
        case RowDeltaUtils.DELETE_OPERATION =>
          deleteAt(row.getUTF8String(1), row.getLong(2))
        case RowDeltaUtils.INSERT_OPERATION =>
          inserted.project(row)
          insert(inserted)
        case tag => throw new IllegalStateException(
          s"delta write row tagged $tag — neither a DELETE nor an INSERT")
      }

      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        delete(metadata, id)
        insert(row)
      }

      override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
        insert(row)

      override def commit(): WriterCommitMessage = {
        val insertFiles = inserts.commitFiles()
        val deleteFile =
          if (dels.isEmpty) None
          else {
            // one sorted sidecar per task: (file, pos) ascending — sorted
            // runs delta-encode well and read-side arrays come pre-ordered
            val w = new HiveRoutingWriter(deleteFiles,
              s"$stageDir/deletes", SnapshotMor.DeleteSchema, Nil,
              timeZoneId, partitionId, taskId, namePrefix = "delete")
            val covered = dels.keys.toSeq.sorted
            covered.foreach { rel =>
              val utf8 = UTF8String.fromString(rel)
              dels(rel).distinct.sorted.foreach { p =>
                w.write(new GenericInternalRow(Array[Any](utf8, p)))
              }
            }
            val Seq(f) = w.commitFiles()
            Some((s"deletes/${f.rel}", covered))
          }
        StagedFilesMessage(insertFiles, deleteFile)
      }

      override def abort(): Unit = inserts.abort()

      override def close(): Unit = ()
    }
  }
}
