package graft.sinks

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** SQL maintenance verbs for catalog-managed snapshot lakes, through
  * Spark 4's native procedure support (the same `CALL` surface Iceberg
  * ships its table maintenance on):
  *
  * {{{
  *   CALL graft.system.optimize(`table` => 'prod.bars', target_mb => 128)
  *   CALL graft.system.zorder(`table` => 'prod.bars', cols => 'ts,close')
  *   CALL graft.system.add_stats(`table` => 'prod.bars', cols => 'event_id')
  *   CALL graft.system.vacuum(`table` => 'prod.bars', retain_last => 2)
  *   CALL graft.system.restore(`table` => 'prod.bars', version => 3)
  * }}}
  *
  * Each verb delegates to the library call it names — compaction,
  * z-order clustering, metadata-only stats backfill, retention vacuum,
  * version rollback — so lock/conflict semantics are EXACTLY the
  * library's (one commit, non-blocking for pinned readers, concurrent
  * appends carried by the lock-merge). Every procedure returns one
  * summary row (the committed version and what moved), surfaced as the
  * statement's result set. A pure-SQL user can now run the whole
  * lifecycle — DDL, DML, reads, and maintenance — without one library
  * import.
  */
private[sinks] object GraftProcedures {

  private def spark: SparkSession = SparkSession.active

  /** Resolve `'ns.tbl'` (catalog-relative) to the lake root via the
    * owning catalog's layout; refuses non-lakes loudly.
    */
  private def rootOf(catalog: GraftCatalog, table: String): String = {
    val parts = table.split('.')
    // the arity check must match the error text: a bare 'tbl' would
    // otherwise resolve silently against the warehouse root, where no
    // table can live (tables are <warehouse>/<ns...>/<name>)
    require(parts.length >= 2 && parts.forall(_.nonEmpty),
      s"procedure table argument must be 'namespace.table', got '$table'")
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    require(catalog.tableExists(ident),
      s"$table is not a snapshot lake in catalog ${catalog.name()}")
    catalog.rootFor(ident)
  }

  private def param(name: String, dt: DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  /** One-result-scan procedure: `run` does the work eagerly (Spark's
    * InvokeProcedures rule calls it at analysis with the folded
    * arguments) and the summary row comes back as a LocalScan.
    */
  private abstract class GraftProcedure(
      procName: String,
      params: Seq[ProcedureParameter],
      resultSchema: StructType) extends UnboundProcedure with BoundProcedure {
    def run(args: InternalRow): Seq[Any]
    override def name(): String = procName
    override def description(): String = s"graft snapshot-lake $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row: InternalRow = new GenericInternalRow(run(input).toArray)
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = resultSchema
      }).iterator()
    }
  }

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString
  private def csvCols(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty)

  def load(catalog: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("system")),
      s"graft procedures live in the `system` namespace, got $ident")
    ident.name match {
      case "optimize" => new GraftProcedure("optimize",
        Seq(param("table", StringType),
          param("target_mb", IntegerType, Some("128"))),
        StructType(Seq(StructField("version", LongType),
          StructField("files_before", LongType),
          StructField("files_after", LongType)))) {
        override def run(a: InternalRow): Seq[Any] = {
          val root = rootOf(catalog, str(a, 0))
          val parts = SnapshotTable.partColsOf(SnapshotLake.manifest(spark, root))
          val (v, before, after) = SnapshotLake.compact(spark, root, parts,
            a.getInt(1).toLong * 1024 * 1024)
          Seq(v, before.toLong, after.toLong)
        }
      }
      case "zorder" => new GraftProcedure("zorder",
        Seq(param("table", StringType), param("cols", StringType),
          param("target_mb", IntegerType, Some("128"))),
        StructType(Seq(StructField("version", LongType),
          StructField("files_before", LongType),
          StructField("files_after", LongType)))) {
        override def run(a: InternalRow): Seq[Any] = {
          val (v, before, after) = SnapshotLake.optimizeZOrder(spark,
            rootOf(catalog, str(a, 0)), csvCols(str(a, 1)),
            a.getInt(2).toLong * 1024 * 1024)
          Seq(v, before.toLong, after.toLong)
        }
      }
      case "add_stats" => new GraftProcedure("add_stats",
        Seq(param("table", StringType), param("cols", StringType)),
        StructType(Seq(StructField("version", LongType)))) {
        override def run(a: InternalRow): Seq[Any] =
          Seq(SnapshotLake.addStats(spark, rootOf(catalog, str(a, 0)),
            csvCols(str(a, 1))))
      }
      case "vacuum" => new GraftProcedure("vacuum",
        Seq(param("table", StringType),
          param("retain_last", IntegerType, Some("2"))),
        StructType(Seq(StructField("data_files_deleted", LongType),
          StructField("manifests_dropped", LongType)))) {
        override def run(a: InternalRow): Seq[Any] = {
          val root = rootOf(catalog, str(a, 0))
          val (files, manifests) = SnapshotLake.vacuum(spark, root,
            a.getInt(1))
          // a vacuum from THIS catalog invalidates eagerly, so pinned
          // reads of dropped versions refuse loudly in-JVM
          SnapshotLake.invalidateManifestCache(root)
          Seq(files.toLong, manifests.toLong)
        }
      }
      case "upgrade_field_ids" => new GraftProcedure("upgrade_field_ids",
        Seq(param("table", StringType)),
        StructType(Seq(StructField("version", LongType),
          StructField("files_name_mapped", LongType)))) {
        // metadata-only field-id migration for legacy (pre-round-14)
        // lakes: unlocks RENAME/DROP/ALTER TYPE; existing files read on
        // via the recorded name mapping until a compact rewrites them
        override def run(a: InternalRow): Seq[Any] = {
          val root = rootOf(catalog, str(a, 0))
          val v = SnapshotLake.upgradeFieldIds(spark, root)
          Seq(v, SnapshotLake.manifest(spark, root, Some(v))
            .files.count(_.idless).toLong)
        }
      }
      case "restore" => new GraftProcedure("restore",
        Seq(param("table", StringType), param("version", LongType)),
        StructType(Seq(StructField("version", LongType)))) {
        override def run(a: InternalRow): Seq[Any] =
          Seq(SnapshotLake.restore(spark, rootOf(catalog, str(a, 0)),
            a.getLong(1)))
      }
      case "history" => new GraftProcedure("history",
        Seq(param("table", StringType)), SnapshotLake.HistorySchema) {
        // multi-row result: SnapshotLake.history's rows, one per committed
        // version, straight off the manifests (no data I/O)
        override def run(a: InternalRow): Seq[Any] = Seq.empty
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(SnapshotLake.HistorySchema)
          val out = SnapshotLake.historyRows(spark, rootOf(catalog, str(input, 0)))
            .map(r => toRow(r).asInstanceOf[InternalRow]).toArray
          java.util.Collections.singletonList[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = SnapshotLake.HistorySchema
          }).iterator()
        }
      }
      case "repartition_spec" => new GraftProcedure("repartition_spec",
        Seq(param("table", StringType), param("cols", StringType)),
        StructType(Seq(StructField("version", LongType)))) {
        // metadata-only partition-spec evolution: future files land
        // under the new hive layout, existing files keep theirs; reads
        // span both generations; optimize (compact) migrates. Empty
        // cols ('') un-partitions future files.
        override def run(a: InternalRow): Seq[Any] =
          Seq(SnapshotLake.repartitionSpec(spark,
            rootOf(catalog, str(a, 0)), csvCols(str(a, 1))))
      }
      case "advise" => new GraftProcedure("advise",
        Seq(param("table", StringType)),
        StructType(Seq(StructField("kind", StringType),
          StructField("severity", StringType),
          StructField("metric", StringType),
          StructField("action", StringType)))) {
        // multi-row result: one recommendation per degraded dimension
        // (pending-delete tax, small files, clustering drift, bloom
        // holes, retention tail, legacy files) — manifest arithmetic
        // only, zero data I/O; empty = healthy
        override def run(a: InternalRow): Seq[Any] = Seq.empty
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val root = rootOf(catalog, str(input, 0))
          import org.apache.spark.unsafe.types.UTF8String
          val out: Array[InternalRow] =
            SnapshotLake.advise(spark, root).map { ad =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(ad.kind),
                UTF8String.fromString(ad.severity),
                UTF8String.fromString(ad.metric),
                UTF8String.fromString(ad.action))): InternalRow
            }.toArray
          val schema = StructType(Seq(StructField("kind", StringType),
            StructField("severity", StringType),
            StructField("metric", StringType),
            StructField("action", StringType)))
          java.util.Collections.singletonList[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = schema
          }).iterator()
        }
      }
      case other => throw new IllegalArgumentException(
        s"unknown graft procedure `$other` — available: " +
          GraftProcedures.names.mkString(", "))
    }
  }

  val names: Seq[String] =
    Seq("optimize", "zorder", "add_stats", "vacuum", "restore", "history",
      "upgrade_field_ids", "advise", "repartition_spec")
}
