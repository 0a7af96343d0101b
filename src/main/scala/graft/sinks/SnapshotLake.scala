package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.write.{DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.{ListenerBridge, WriteBridge}
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest-pinned snapshot lake: serializable reads over plain parquet.
  *
  * WHY: maintenance that renames partition directories in place (compact
  * / OPTIMIZE ZORDER on a plain directory lake) makes a reader that
  * planned before a swap and executes after it fail with FileNotFound;
  * the only LOSSLESS fix without a manifest is to re-plan, and
  * `spark.sql.files.ignoreMissingFiles` would silently drop a whole
  * partition instead. This is the manifest layer that removes the
  * problem, and the only way this engine rewrites a lake — the
  * design Delta Lake / Iceberg published (log of immutable data files;
  * readers pin a log version; writers commit new versions atomically;
  * physical deletion deferred to an explicit retention-bounded vacuum),
  * rebuilt minimally on plain parquet + atomic rename:
  *
  *   root/_manifests/v00000017.manifest   one text file per version
  *   root/data/<token>-part-*.parquet     immutable data files (hive
  *                                        partition subdirs preserved)
  *   root/.stage-<token>/                 in-flight writes, never visible
  *
  * Contracts (all spec-pinned in SnapshotLakeSpec):
  *  - readers resolve ONE manifest and read exactly its file list: a
  *    concurrent append / compact / conflicting commit is invisible —
  *    no FileNotFound, no torn half-compacted view, ever, as long as
  *    vacuum retention covers the reader's runtime;
  *  - commits serialize through a dense-version lock protocol (below);
  *    losers recompute against the new head and retry, so appends and
  *    compactions MERGE — a compact that races an append carries the
  *    appended files forward, never drops them;
  *  - data files are immutable and never overwritten; only `vacuum`
  *    deletes, and only files unreferenced by every retained manifest;
  *  - a crash anywhere leaves either a fully-visible version or no new
  *    version — stage dirs and manifest tmp files are invisible garbage,
  *    swept by vacuum.
  *
  * Commit protocol. A bare rename-if-absent is NOT a safe CAS on every
  * FileSystem: the Hadoop contract leaves rename-onto-existing
  * FS-specific (the local ChecksumFileSystem refuses — SnapshotLakeSpec
  * pins that — but raw POSIX rename(2) silently replaces, and S3 has no
  * atomic rename at all). What IS achievable everywhere is an atomic
  * create-if-absent — but the right PRIMITIVE is substrate-specific, so
  * it lives behind the [[LockProvider]] seam: file:// uses
  * `java.io.File.createNewFile` (one open(O_CREAT|O_EXCL) syscall —
  * Hadoop's LOCAL `createNewFile` is itself check-then-act), the HDFS
  * family uses namenode-atomic `create(overwrite=false)`, object stores
  * must REGISTER their conditional-PUT (or external-lock) provider via
  * `LockProvider.register`, and an UNREGISTERED scheme refuses loudly
  * before any data stages (LockProviderSpec proves exactly-once commits
  * under an 8-writer storm on a deliberately non-atomic fake object
  * store, through a registered CAS provider). So versions are DENSE and
  * each is guarded by a lock file:
  *
  *   1. head = latest manifest; next = head+1;
  *   2. createNewFile(v<next>.lock) — lose ⇒ wait (the lock is broken if
  *      its manifest already exists = owner crashed after publishing, or
  *      its mtime is older than `lockExpiryMs` plus a one-second slack
  *      for coarse mtimes = owner died mid-commit);
  *   3. holding the lock, if v<next>.manifest exists ⇒ stale acquire,
  *      release and retry; otherwise the head is FROZEN at `next-1`
  *      (any other committer needs this very lock to publish next, and
  *      density means nothing beyond next can publish first) — recompute
  *      the file list against the frozen head, write the manifest body to
  *      a tmp, rename it to v<next>.manifest (uncontended by
  *      construction), delete the lock.
  *
  * The one residual hazard is an owner SLOWER than `lockExpiryMs` whose
  * broken lock lets a rival publish the same version first (the classic
  * lease caveat every lock-service design documents) — the expiry is
  * 10 min against a millisecond critical section.
  *
  * Every rewrite of existing files — library compact / zorder / merge /
  * delete / replaceWhere, the MV register fold, SQL copy-on-write and
  * merge-on-read DML, dynamic INSERT OVERWRITE — publishes through ONE
  * rewrite-commit core ([[commitRewrite]] / [[publishRewrite]]): the
  * schema and read-set guards under the lock, unread files carried by
  * identity with new delete sidecars stacked on, and a lost race's files
  * reclaimed through [[reclaim]]. Library ops then retry
  * ([[retryOnConflict]]); SQL statements abort loudly.
  *
  * At 100 TB the wins over directory-listing reads compound: planning
  * reads ONE small manifest instead of listing O(100k) objects (on S3 a
  * LIST-consistency + throttling hazard), the stored schema skips footer
  * sniffing, and maintenance never blocks or breaks readers.
  */
object SnapshotLake {

  /** One immutable data file: lake-relative path, size, (optionally)
    * per-column min/max envelopes lifted from the parquet footer by the
    * task that wrote the file — the data-skipping index a 100 TB reader
    * consults BEFORE planning, so a selective box query opens a handful
    * of files instead of listing and footer-probing the whole lake — and
    * (optionally) the columns this file carries a bloom-filter sidecar for (the POINT
    * lookup index min/max can't provide when the key is hash-scattered
    * across ingest-ordered files; see [[readPoint]]). `rows` is the
    * file's exact row count from the same footer probe (−1 on entries
    * parsed from pre-rows manifests) — it lets [[summary]] answer
    * count/min/max queries from the manifest alone, with zero data I/O.
    *
    * `deletes` (round 14, merge-on-read): the POSITION-DELETE sidecars
    * that apply to this file — `_deletes/`-relative parquet files of
    * (file, pos) rows written by delta-mode SQL DML. A reader of this
    * entry must drop every row whose (rel, row index) appears in them;
    * every rewrite that reads-and-replaces the file absorbs them (the
    * fresh entry starts delete-free). The file's BYTES and `rows` stay
    * PHYSICAL — the data file is untouched; min/max envelopes and bloom
    * sidecars remain sound SUPERSETS (deletes only remove rows), so all
    * file-level pruning keeps working unchanged.
    */
  /** `idless`: the file physically predates this lake's field ids (it
    * was committed before [[upgradeFieldIds]]) — readers must resolve
    * its columns BY NAME through the migration's name mapping, never by
    * id. Cleared naturally: every rewrite stages fresh id-carrying
    * files. Only ever true on `fieldIds=migrated` lakes.
    */
  final case class FileEntry(rel: String, bytes: Long,
      stats: Map[String, (Double, Double)], bloomCols: Seq[String] = Nil,
      rows: Long = -1L, deletes: Seq[String] = Nil,
      idless: Boolean = false)

  /** `props`: lake-level metadata that PERSISTS across commits (every
    * commit inherits its parent's unless it explicitly overrides) —
    * today the declared partition columns of a catalog-created lake,
    * which files cannot carry before the first row lands. Absent from
    * pre-round-12 manifests; parse treats them as empty.
    */
  final case class Manifest(version: Long, parent: Long, op: String,
      schema: StructType, files: Seq[FileEntry],
      props: Map[String, String] = Map.empty) {
    def bytes: Long = files.map(_.bytes).sum
  }

  private val Header = "graft-snapshot-manifest v1"
  private def manifestName(v: Long): String = f"v$v%08d.manifest"
  private val ManifestRe = raw"v(\d{8})\.manifest".r

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")
  private[sinks] def dataDir(root: String) = new Path(root, "data")
  private def bloomsDir(root: String) = new Path(root, "_blooms")
  private[sinks] def deletesDir(root: String) = new Path(root, "_deletes")
  def bloomPath(root: String, rel: String, c: String): Path =
    new Path(bloomsDir(root), s"$rel.$c.bloom")

  private[sinks] def newToken(): String =
    java.util.UUID.randomUUID.toString.replace("-", "").take(16)

  // ---------------------------------------------------------------- encode

  private def render(m: Manifest): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(Header).append('\n')
    sb.append("version=").append(m.version).append('\n')
    sb.append("parent=").append(m.parent).append('\n')
    sb.append("op=").append(m.op).append('\n')
    // optional, URL-encoded k=v pairs tab-joined — only written when
    // nonempty, so pre-props manifests and props-free lakes render
    // byte-identically to round 11
    if (m.props.nonEmpty) {
      sb.append("props=").append(m.props.toSeq.sortBy(_._1).map {
        case (k, v) =>
          java.net.URLEncoder.encode(k, "UTF-8") + "=" +
            java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("\t")).append('\n')
    }
    sb.append("schema=").append(m.schema.json).append('\n')
    sb.append("files=").append(m.files.size).append('\n')
    m.files.foreach { f =>
      sb.append(f.rel).append('\t').append(f.bytes)
      // col=min..max;col2=min..max — doubles via Double.toString, exact
      // round trip through parseDouble. Stats/bloom columns are written
      // even when empty so the trailing rows column keeps a fixed slot
      // (parse accepts 2–6 columns, so legacy lines still load). The
      // position-delete column is written ONLY when nonempty, so
      // delete-free lakes keep rendering byte-identically to round 13.
      sb.append('\t').append(f.stats.toSeq.sortBy(_._1).map {
        case (c, (lo, hi)) => s"$c=$lo..$hi"
      }.mkString(";"))
      sb.append('\t').append(f.bloomCols.sorted.mkString(","))
      sb.append('\t').append(f.rows)
      // both optional columns render only when carried (the idless flag
      // forces the delete slot so positions stay fixed): flag-free lakes
      // keep rendering byte-identically to round 13/14
      if (f.deletes.nonEmpty || f.idless)
        sb.append('\t').append(f.deletes.sorted.mkString(","))
      if (f.idless) sb.append('\t').append('1')
      sb.append('\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def parse(bytes: Array[Byte]): Manifest = {
    val lines = new String(bytes, StandardCharsets.UTF_8).split("\n", -1)
    require(lines.nonEmpty && lines(0) == Header,
      s"not a snapshot manifest (header '${lines.headOption.getOrElse("")}')")
    def field(i: Int, k: String): String = {
      require(lines(i).startsWith(k + "="), s"manifest line $i: expected $k=")
      lines(i).substring(k.length + 1)
    }
    val version = field(1, "version").toLong
    val parent = field(2, "parent").toLong
    val op = field(3, "op")
    // optional props line (round 12+) shifts schema/files down by one
    val hasProps = lines(4).startsWith("props=")
    val props: Map[String, String] =
      if (!hasProps) Map.empty
      else lines(4).substring("props=".length).split('\t')
        .filter(_.nonEmpty).map { seg =>
          val eq = seg.indexOf('=')
          require(eq > 0, s"manifest props segment malformed: $seg")
          java.net.URLDecoder.decode(seg.take(eq), "UTF-8") ->
            java.net.URLDecoder.decode(seg.drop(eq + 1), "UTF-8")
        }.toMap
    val off = if (hasProps) 1 else 0
    val schema = DataType.fromJson(field(4 + off, "schema")).asInstanceOf[StructType]
    val n = field(5 + off, "files").toInt
    val files = (0 until n).map { i =>
      val cols = lines(6 + off + i).split('\t')
      require(cols.length >= 2 && cols.length <= 7,
        s"manifest file line ${6 + off + i} malformed")
      val stats = if (cols.length < 3 || cols(2).isEmpty) Map.empty[String, (Double, Double)]
      else cols(2).split(';').map { seg =>
        val eq = seg.indexOf('=')
        val dots = seg.indexOf("..", eq + 1)
        require(eq > 0 && dots > eq, s"manifest stats segment malformed: $seg")
        seg.substring(0, eq) ->
          (seg.substring(eq + 1, dots).toDouble, seg.substring(dots + 2).toDouble)
      }.toMap
      val blooms = if (cols.length < 4 || cols(3).isEmpty) Nil
        else cols(3).split(',').toSeq
      val rows = if (cols.length < 5 || cols(4).isEmpty) -1L else cols(4).toLong
      val dels = if (cols.length < 6 || cols(5).isEmpty) Nil
        else cols(5).split(',').toSeq
      val idless = cols.length >= 7 && cols(6) == "1"
      FileEntry(cols(0), cols(1).toLong, stats, blooms, rows, dels, idless)
    }
    Manifest(version, parent, op, schema, files, props)
  }

  // ------------------------------------------------------------- manifests

  /** All committed versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val dir = manifestDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).collect {
      case ManifestRe(v) => v.toLong
    }.toSeq.sorted
  }

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** Driver-side cache of PARSED manifests, keyed by (manifest dir,
    * version). Sound because a committed manifest is IMMUTABLE — the
    * commit protocol only ever creates `v<next>.manifest` files, never
    * rewrites one; the single mutation in the design is [[vacuum]]
    * dropping old versions, which invalidates the root's entries here so
    * the in-JVM "vacuumed?" refusal stays loud. (A vacuum run from a
    * DIFFERENT JVM can leave a stale entry — the subsequent scan fails
    * on the deleted data files, the same outcome one RPC later.) Why it
    * matters: one incremental-rollup refresh re-resolves the head and
    * walks `appendsSince` manifests several times, and on an object
    * store each of those is a round trip; head RESOLUTION still lists
    * the directory every time (freshness), only the immutable content
    * read is cached. Bounded LRU so a long-lived driver touching many
    * lakes cannot grow without limit.
    */
  private val ManifestCacheMax = 256
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long), Manifest](64, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Manifest]): Boolean =
        size > ManifestCacheMax
    }
  private def cacheKey(root: String, v: Long): (String, Long) =
    (manifestDir(root).toString, v)
  private def cachePut(root: String, m: Manifest): Unit =
    manifestCache.synchronized { manifestCache.put(cacheKey(root, m.version), m) }
  /** Drop a root's cached manifests. Called by [[vacuum]] (so in-JVM
    * pinned reads of dropped versions keep failing loudly), and PUBLIC
    * for admin flows the cache cannot see: a vacuum run from a DIFFERENT
    * JVM, or deleting and recreating a lake at the same path within one
    * long-lived driver — without the invalidate, a hit for a pinned
    * version serves the stale parsed manifest and the eventual scan
    * failure on missing data files is loud but misattributed. Also a
    * test seam for specs that rewrite a published manifest in place to
    * simulate legacy formats (a thing no production writer does).
    */
  def invalidateManifestCache(root: String): Unit =
    manifestCache.synchronized {
      val dir = manifestDir(root).toString
      manifestCache.keySet.removeIf(_._1 == dir)
    }

  /** Load one manifest (latest when version is None). */
  def manifest(spark: SparkSession, root: String,
      version: Option[Long] = None): Manifest = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $root"))
    manifestCache.synchronized(Option(manifestCache.get(cacheKey(root, v))))
      .getOrElse {
        val fs = fsOf(spark, root)
        val p = new Path(manifestDir(root), manifestName(v))
        require(fs.exists(p), s"snapshot version $v does not exist under $root " +
          s"(committed: ${versions(spark, root).mkString(",")}) — vacuumed?")
        val in = fs.open(p)
        val m = try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          Iterator.continually(in.read(buf)).takeWhile(_ > 0)
            .foreach(out.write(buf, 0, _))
          parse(out.toByteArray)
        } finally in.close()
        cachePut(root, m)
        m
      }
  }

  /** Dense-version lock commit (protocol in the object doc). `build` maps
    * the frozen head manifest (None on the very first commit) to the full
    * file list for the new version; it is (re)evaluated under the lock so
    * a lost race can never drop a rival's files. Returns the version won.
    */
  private[sinks] def commit(spark: SparkSession, root: String, op: String,
      schema: StructType, build: Option[Manifest] => Seq[FileEntry],
      lockExpiryMs: Long,
      props: Option[Map[String, String]] = None,
      schemaOf: Option[Option[Manifest] => StructType] = None): Long = {
    val fs = fsOf(spark, root)
    fs.mkdirs(manifestDir(root))
    val deadline = System.nanoTime + java.util.concurrent.TimeUnit.MILLISECONDS
      .toNanos(math.max(lockExpiryMs * 3, 30000L))
    var done = -1L
    while (done < 0) {
      require(System.nanoTime < deadline,
        s"snapshot commit could not acquire a version lock under $root " +
          s"within ${math.max(lockExpiryMs * 3, 30000L)} ms")
      val head = latestVersion(spark, root)
      val next = head.getOrElse(0L) + 1
      val lock = new Path(manifestDir(root), f"v$next%08d.lock")
      val target = new Path(manifestDir(root), manifestName(next))
      val lockProvider = LockProvider.forPath(fs.makeQualified(lock))
      val acquired = lockProvider.tryLock(fs, lock)
      if (acquired) {
        if (fs.exists(target)) {
          // stale acquire: the previous owner published and released
          // between our head read and our create — release and retry
          lockProvider.unlock(fs, lock)
        } else {
          try {
            // head is frozen at next-1 while we hold the lock
            val headM = head.map(_ => manifest(spark, root, None))
            // lake props persist: every commit inherits its parent's
            // unless the caller overrides them explicitly — EXCEPT the
            // commit timestamp, stamped fresh per commit (and clamped
            // monotonic past the parent's, so TIMESTAMP AS OF stays
            // well-ordered under multi-writer clock skew). A DURABLE
            // epoch-micros record: unlike the manifest file's mtime, it
            // survives an rsync/copy of the lake.
            val inherited = props.orElse(headM.map(_.props)).getOrElse(Map.empty)
            val commitUs = math.max(System.currentTimeMillis * 1000L,
              headM.flatMap(_.props.get(CommitTimeProp))
                .flatMap(s => scala.util.Try(s.toLong).toOption)
                .map(_ + 1L).getOrElse(Long.MinValue))
            // schemaOf (when given) resolves the published schema FROM
            // THE FROZEN HEAD — the seam appends/restats use to ride
            // through a concurrent metadata-only schema commit instead
            // of clobbering it
            val outSchema = schemaOf.map(f => f(headM)).getOrElse(schema)
            val m = Manifest(next, head.getOrElse(0L), op, outSchema,
              build(headM),
              inherited + (CommitTimeProp -> commitUs.toString))
            val tmp = new Path(manifestDir(root), s".tmp-${newToken()}")
            val outS = fs.create(tmp, true)
            try outS.write(render(m)) finally outS.close()
            // The publish rename is the SECOND line of defense behind the
            // lock: before the lock went through LockProvider (O_EXCL on
            // file://), Hadoop's check-then-act createNewFile let two
            // committers both "win" and POSIX rename-replace silently
            // swallowed a manifest (lockbench reproduced it at 8 writers
            // — 32 appends, 30 versions). With an atomic provider that
            // window is closed; this branch remains the backstop for the
            // residual double-holders the protocol doc names — a
            // lease-expiry break racing a slow owner. Rename-onto-existing
            // REFUSES on ChecksumFileSystem (spec-pinned) and HDFS, so
            // there exactly one publish wins; the loser discards its tmp
            // and retries against the new head — build() re-evaluates
            // there, so no rival's files are ever dropped. Object stores
            // have NO such rename backstop (PUT replaces), which is why
            // LockProvider.forPath REFUSES unregistered schemes instead
            // of hoping.
            if (fs.rename(tmp, target)) {
              cachePut(root, m) // prime: the refresh loop re-reads it next
              done = next
            } else {
              fs.delete(tmp, false)
              require(fs.exists(target),
                s"manifest publish failed with no rival in place: $target")
            }
          } finally lockProvider.unlock(fs, lock)
        }
      } else {
        // lock held by someone else: break it only if provably dead
        val st = try Some(fs.getFileStatus(lock)) catch {
          case _: java.io.FileNotFoundException => None
        }
        if (fs.exists(target)) lockProvider.unlock(fs, lock) // owner crashed post-publish
        else if (st.exists(s => System.currentTimeMillis -
            s.getModificationTime > lockExpiryMs + LockMtimeSlackMs))
          lockProvider.unlock(fs, lock) // owner died mid-commit; lease expired
        else { lockWaits.incrementAndGet(); Thread.sleep(25) }
      }
    }
    done
  }

  private[sinks] val DefaultLockExpiryMs = 10L * 60 * 1000

  /** Added to every lease before a lock is broken. A lock's mtime is
    * stamped from a coarse clock (Linux: the last timer tick) or truncated
    * to a whole second (ext3, HFS+, many object-store gateways), so it can
    * read earlier than the moment the lock was taken; without the slack a
    * lease could end before `lockExpiryMs` of real time has passed.
    */
  private val LockMtimeSlackMs = 1000L

  /** Observability seam: cumulative 25 ms waits spent behind a LIVE
    * rival's lock (not expiry breaks). The lockbench tool reads the
    * delta to price commit contention under N racing writers.
    */
  private[graft] val lockWaits = new java.util.concurrent.atomic.AtomicLong

  /** Thrown under the commit lock when a rewrite's base no longer holds
    * in the frozen head: a rival merge/delete/compact replaced a file it
    * read (publishing would resurrect the old rows alongside the rival's
    * replacement), or a metadata commit changed the schema. `staged` is
    * what the attempt published that [[retryOnConflict]] must reclaim
    * (empty when [[publishRewrite]] already reclaimed it).
    */
  private[sinks] final class ConflictingRewriteException(msg: String,
      val staged: Seq[FileEntry] = Nil) extends RuntimeException(msg)

  /** The read-set fingerprint of the entries a rewrite op read: rel →
    * position-delete list AT READ TIME. Both components matter — a
    * vanished rel means a rival replaced the file, and a CHANGED delete
    * list means a rival's merge-on-read DML removed rows this op already
    * read (republishing the rewrite would resurrect them).
    */
  private[sinks] def readSetOf(entries: Seq[FileEntry]): Map[String, Seq[String]] =
    entries.map(e => e.rel -> e.deletes.sorted).toMap

  /** Read-set guard of [[commitRewrite]]: the files the rewrite read
    * must ALL still be present in the frozen head WITH THE SAME
    * position-delete sets — concurrent appends ride through, but a
    * concurrent rewrite of any read file (or a delta DML stacking new
    * deletes onto one) aborts the commit. The lock-merge alone only
    * protects against appends; without this check a compact racing a
    * merge would publish the merged-away rows back into the lake (silent
    * duplication), and a compact racing a delta DELETE would resurrect
    * the deleted rows. Returns the head file list.
    */
  private[sinks] def requireReadSetIntact(readSet: Map[String, Seq[String]],
      head: Option[Manifest], op: String, root: String): Seq[FileEntry] = {
    val files = head.map(_.files).getOrElse(Nil)
    val headByRel = files.map(f => f.rel -> f.deletes.sorted).toMap
    val gone = readSet.collect {
      case (rel, dels) if !headByRel.get(rel).contains(dels) => rel
    }
    if (gone.nonEmpty) throw new ConflictingRewriteException(
      s"$op under $root: ${gone.size} of ${readSet.size} base file(s) " +
        s"were rewritten (or delta-deleted from) concurrently (e.g. " +
        s"${gone.head}); aborting this commit and recomputing from the " +
        "new head")
    files
  }

  /** Companion guard for every commit that publishes ITS base's schema:
    * a METADATA-ONLY schema commit (evolve / rename / widen / drop)
    * landing between the base read and the commit would be silently
    * CLOBBERED — the commit would republish the stale schema (and, for
    * rename/drop, stale column-keyed entries). The file-level read-set
    * check cannot see it (metadata commits keep the file list), so
    * schema identity is checked EXACTLY (names, types, and field-id
    * metadata — a rename keeps types but rebinds names). On drift the
    * commit aborts and [[retryOnConflict]] reclaims `staged` and re-runs
    * from the new head, which picks the evolved schema up.
    */
  private[sinks] def requireSchemaIntact(baseSchema: StructType,
      head: Option[Manifest], op: String, root: String,
      staged: Seq[FileEntry] = Nil): Unit = {
    val headSchema = head.map(_.schema).getOrElse(baseSchema)
    if (headSchema != baseSchema) throw new ConflictingRewriteException(
      s"$op under $root: the lake schema changed concurrently " +
        s"(${baseSchema.simpleString} -> ${headSchema.simpleString}); " +
        "aborting this commit and recomputing from the new head", staged)
  }

  /** Run a whole rewrite attempt (read head → stage → commit); on a
    * detected conflicting rewrite, reclaim what the attempt left staged
    * and re-run from the new head. Bounded so a pathological rewrite
    * storm fails loudly instead of spinning.
    */
  private[sinks] def retryOnConflict[A](spark: SparkSession, root: String,
      op: String, maxAttempts: Int = 5)(body: () => A): A = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return body()
      catch {
        case e: ConflictingRewriteException =>
          reclaim(spark, root, e.staged)
          require(attempt < maxAttempts,
            s"$op under $root lost to concurrent rewrites $maxAttempts " +
              s"times; last conflict: ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete what a lost commit attempt published: its data files, their
    * bloom sidecars, and its position-delete sidecars (`_deletes/`-
    * relative). No manifest references any of them, so no reader sees
    * them go.
    */
  private[sinks] def reclaim(spark: SparkSession, root: String,
      files: Seq[FileEntry], sidecars: Seq[String] = Nil): Unit = {
    val fs = fsOf(spark, root)
    files.foreach { f =>
      fs.delete(new Path(dataDir(root), f.rel), false)
      f.bloomCols.foreach(c => fs.delete(bloomPath(root, f.rel, c), false))
    }
    sidecars.foreach(rel => fs.delete(new Path(deletesDir(root), rel), false))
  }

  /** Test seam: runs just before the NEXT rewrite's lock commit (every
    * [[publishRewrite]] caller: library rewrites, SQL DML and dynamic
    * overwrite, the MV register fold) — the deterministic replay point
    * for the rewrite guards. One-shot: it is cleared before it runs, so
    * a rival rewrite it fires does not fire it again. Production value
    * is a no-op.
    */
  private[graft] val beforeRewriteCommit =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  /** The index columns a rewrite of `base` restamps on the files it
    * writes: the stats and bloom columns its files track plus the lake's
    * declared `statsCols`/`bloomCols` props, minus `partCols` (partition
    * values live in directory names, not in the files). Callers add
    * their op's own extra stats columns.
    */
  private[sinks] def indexCols(base: Manifest,
      partCols: Seq[String]): (Set[String], Seq[String]) = {
    def declared(k: String): Seq[String] = base.props.get(k).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    ((base.files.flatMap(_.stats.keys).toSet ++ declared("statsCols")) --
      partCols,
      (base.files.flatMap(_.bloomCols) ++ declared("bloomCols")).distinct
        .filterNot(partCols.contains))
  }

  /** The rewrite-commit core every rewrite of existing files publishes
    * through (library compact / zorder / merge / delete / replaceWhere,
    * the MV register fold, SQL copy-on-write and merge-on-read DML). In
    * ONE lock commit it checks the schema and read-set guards over
    * `replaced ++ guarded` (the files this attempt read), checks that the
    * delete sidecars cover only `guarded` files, drops `replaced`, carries
    * every other head file by identity — rivals' appends included — with
    * `deletes` (data rel → new sidecar rels) stacked onto the files they
    * cover, and adds `added`. Returns the version won.
    */
  private[sinks] def commitRewrite(spark: SparkSession, root: String,
      op: String, base: Manifest, replaced: Seq[FileEntry],
      guarded: Seq[FileEntry], added: Seq[FileEntry],
      deletes: Map[String, Seq[String]] = Map.empty,
      lockExpiryMs: Long = DefaultLockExpiryMs,
      props: Option[Map[String, String]] = None,
      statement: Option[String] = None): Long = {
    val readSet = readSetOf(replaced ++ guarded)
    val gone = replaced.map(_.rel).toSet
    val covered = guarded.map(_.rel).toSet
    publishRewrite(spark, root, op, base.schema, added,
      deletes.values.flatten.toSeq.distinct, lockExpiryMs, props,
      statement) { head =>
      val stray = deletes.keySet.diff(covered)
      require(stray.isEmpty,
        s"delete sidecars cover non-candidate file(s): $stray")
      requireReadSetIntact(readSet, head, op, root).collect {
        case f if !gone(f.rel) => deletes.get(f.rel).fold(f)(ds =>
          f.copy(deletes = (f.deletes ++ ds).sorted))
      }
    }
  }

  /** The publish half of [[commitRewrite]], for a caller with its own
    * carry rule (dynamic overwrite's drop-set guard): one lock commit of
    * `added ++ carry(head)` behind the schema guard. A lost race
    * ([[ConflictingRewriteException]] from either guard) reclaims
    * `added` and `sidecars`, then rethrows for [[retryOnConflict]] — or,
    * for a SQL statement (whose committer cannot re-run the query),
    * aborts loudly with `statement` describing what it lost to.
    */
  private[sinks] def publishRewrite(spark: SparkSession, root: String,
      op: String, schema: StructType, added: Seq[FileEntry],
      sidecars: Seq[String] = Nil,
      lockExpiryMs: Long = DefaultLockExpiryMs,
      props: Option[Map[String, String]] = None,
      statement: Option[String] = None)(
      carry: Option[Manifest] => Seq[FileEntry]): Long = {
    beforeRewriteCommit.getAndSet(() => ())()
    try commit(spark, root, op, schema, build = head => {
        requireSchemaIntact(schema, head, op, root)
        added ++ carry(head)
      }, lockExpiryMs, props = props)
    catch {
      case e: ConflictingRewriteException =>
        reclaim(spark, root, added, sidecars)
        throw statement.fold[Throwable](e)(what => new IllegalStateException(
          s"$what — re-run the statement against the new head " +
            s"(${e.getMessage})"))
    }
  }

  private def schemasCompatible(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).sameElements(
      b.fields.map(f => (f.name, f.dataType)))

  // ------------------------------------------------- field identity (r14)

  /** The metadata key Spark's parquet writer persists as the parquet
    * field id (`spark.sql.parquet.fieldId.write.enabled`) and its reader
    * resolves columns by (`spark.sql.parquet.fieldId.read.enabled`) —
    * the Iceberg column-identity design on Spark's own machinery. Ids
    * make RENAME/DROP COLUMN metadata-only: a renamed column keeps its
    * id, so old files resolve by id under the new name; a re-added name
    * gets a FRESH id, so dropped data can never resurrect.
    */
  private[sinks] val FieldIdKey = "parquet.field.id"

  /** Highest field id ever assigned — ids are NEVER reused (a reused id
    * would resurrect dropped data), so this only grows.
    */
  private[sinks] val MaxFieldIdProp = "maxFieldId"

  /** `birth` iff the lake was CREATED with field ids (every data file
    * carries parquet ids — id-resolution is total); `migrated` iff
    * [[upgradeFieldIds]] assigned them later (files from before the
    * migration are flagged [[FileEntry.idless]] and resolve BY NAME
    * through [[NameMappingProp]]). Either value unlocks RENAME/DROP
    * COLUMN; id-less lakes refuse with the migration hint.
    */
  private[sinks] val FieldIdsBirthProp = "fieldIds"

  /** Written once by [[upgradeFieldIds]]: `id=name` pairs (comma-joined)
    * recording what each field was CALLED at migration time — exactly
    * the name every pre-migration (idless) file uses for that field,
    * because pre-migration lakes could only ever widen (rename/drop
    * refused without ids). Iceberg's name-mapping design: idless files
    * read with these names, id-carrying files by id.
    */
  private[sinks] val NameMappingProp = "nameMapping"

  /** Set to `true` by the first RENAME/DROP COLUMN: from then on, read
    * correctness REQUIRES `spark.sql.parquet.fieldId.read.enabled` (name
    * matching would silently read NULL for a renamed column from old
    * files), so every read path refuses loudly when the conf is off.
    */
  private[sinks] val ColumnMappedProp = "columnMapped"

  /** Names RETIRED by RENAME/DROP while files physically carrying them
    * may still be referenced. Re-binding such a name to a NEW field id
    * would be unsound even under id-resolution: parquet ROW-GROUP
    * pruning of pushed filters matches columns BY NAME against each
    * file's footer, so a filter on the re-bound name would prune against
    * the OLD column's statistics and silently drop rows. Re-use is
    * therefore refused until a full rewrite (compact / zorder — every
    * current file rewritten under current names) clears the list.
    */
  private[sinks] val RetiredColsProp = "retiredCols"

  /** The clustering zorder() last applied (CSV of its columns) — stamped
    * by zorder, dropped by compact (whose hash repartition destroys the
    * layout); [[advise]] reads it to price clustering drift.
    */
  private[sinks] val ZorderColsProp = "zorderCols"

  /** The hive partition columns a file's rel path dir-encodes, parsed
    * from the path itself (`year=2024/month=2/part-x.parquet` → year,
    * month; flat files → empty). The ground truth of each file's
    * LAYOUT GENERATION after a partition-spec evolution: the lake prop
    * names the CURRENT spec, the dirs name the spec each file was
    * written under.
    */
  private[graft] def layoutOf(rel: String): Seq[String] =
    rel.split('/').dropRight(1).toSeq.takeWhile(_.contains('='))
      .map(seg => seg.substring(0, seg.indexOf('=')))

  private def retiredCols(props: Map[String, String]): Set[String] =
    props.get(RetiredColsProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet

  private def requireNotRetired(props: Map[String, String],
      names: Seq[String], verb: String): Unit = {
    val hit = names.filter(retiredCols(props).contains)
    require(hit.isEmpty,
      s"$verb cannot re-use column name(s) ${hit.mkString(", ")}: the " +
        "name was renamed away or dropped and current files may still " +
        "carry it physically — parquet's by-name filter pruning would " +
        "silently drop rows. compact() (or CALL graft.system.optimize) " +
        "rewrites every file and frees the name")
  }

  private def withFieldId(f: org.apache.spark.sql.types.StructField,
      id: Long): org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  private[graft] def schemaHasFieldIds(s: StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(_.metadata.contains(FieldIdKey))

  private def assignFieldIds(schema: StructType, from: Long): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      withFieldId(f, from + i)
    })

  /** Re-attach the lake schema's field-id metadata to a frame about to
    * be staged (user frames never carry it), so the parquet writer
    * persists the ids (the staged write refuses through
    * [[requireFieldIdWrites]] when the session disabled id writing).
    * No-op for id-less schemas.
    */
  private[sinks] def attachFieldIds(df: DataFrame, idSchema: StructType): DataFrame =
    if (!schemaHasFieldIds(idSchema)) df
    else {
      val byName = idSchema.fields.map(f => f.name -> f.metadata).toMap
      df.select(df.schema.fields.map { f =>
        byName.get(f.name) match {
          case Some(md) => col(s"`${f.name}`").as(f.name, md)
          case None => col(s"`${f.name}`")
        }
      }.toIndexedSeq: _*)
    }

  /** Loud write-side guard every staged write runs before its tasks: an
    * id-schema lake must never gain id-less files, or a later RENAME
    * would silently mis-resolve them.
    */
  private[sinks] def requireFieldIdWrites(spark: SparkSession,
      schema: StructType): Unit =
    if (schemaHasFieldIds(schema))
      require(spark.sessionState.conf.parquetFieldIdWriteEnabled,
        "this lake tracks parquet field ids, but " +
          "spark.sql.parquet.fieldId.write.enabled is false — id-less " +
          "files would break RENAME/DROP COLUMN resolution; re-enable it")

  /** Loud read-side guard for column-mapped lakes (see
    * [[ColumnMappedProp]]). A no-op for every other lake.
    */
  private[graft] def requireFieldIdReads(spark: SparkSession, m: Manifest): Unit =
    if (m.props.get(ColumnMappedProp).contains("true"))
      require(spark.sessionState.conf.parquetFieldIdReadEnabled,
        "this lake renamed or dropped columns (column-mapped): reading " +
          "it needs spark.sql.parquet.fieldId.read.enabled=true, or name " +
          "matching would silently return NULL for renamed columns from " +
          "pre-rename files")

  // ----------------------------------------------------------------- write

  /** Per-column (min, max) envelopes plus the exact row count from one
    * parquet footer — a metadata-only read (no row data): the writing
    * task runs it on each file it closes ([[HiveRoutingWriter]]), and
    * [[addStats]] on existing files. Only columns whose physical stats
    * convert cleanly to a double ordering (int32/int64/float/double — timestamps ride int64
    * micros) are recorded; anything else is simply not prunable. Note
    * TIMESTAMP_NTZ (the engine's canonical ts type) writes as INT64 and
    * prunes; plain LTZ TimestampType writes as INT96 under Spark's default
    * `spark.sql.parquet.outputTimestampType`, which parquet records no
    * min/max for — such a column silently yields no envelope and every
    * reader falls back to the conservative (read-it) side.
    */
  private[sinks] def footerProbe(conf: org.apache.hadoop.conf.Configuration,
      file: Path, statsCols: Set[String]): (Map[String, (Double, Double)], Long) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      var rowCount = 0L
      val acc = scala.collection.mutable.Map.empty[String, (Double, Double)]
      reader.getFooter.getBlocks.asScala.foreach { block =>
        rowCount += block.getRowCount
        block.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (statsCols.contains(name)) {
            val st = c.getStatistics
            if (st != null && st.hasNonNullValue) {
              val pair = (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Number, hi: java.lang.Number) =>
                  Some((lo.doubleValue, hi.doubleValue))
                case _ => None
              }
              pair.foreach { case (lo, hi) =>
                val prev = acc.get(name)
                acc(name) = (prev.fold(lo)(p => math.min(p._1, lo)),
                  prev.fold(hi)(p => math.max(p._2, hi)))
              }
            }
          }
        }
      }
      (acc.toMap, rowCount)
    } finally reader.close()
  }

  // ---------------------------------------------------------------- blooms
  //
  // Sidecars are built by the task that writes each data file
  // (graft.sinks.BloomSidecars) and moved under _blooms/ with it
  // (SnapshotStagedWrite.publishStaged);
  // this section only reads them.

  /** Load one bloom sidecar; None (conservative: keep the file) when the
    * sidecar is missing — e.g. written by a legacy version of the lake.
    */
  private def loadBloom(fs: FileSystem, root: String, rel: String,
      c: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = bloomPath(root, rel, c)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  // ----------------------------------------------------------- constraints

  /** Declared write constraints of a lake, from its table properties:
    * `constraint.<name>` = a SQL CHECK expression (a row violates when
    * it evaluates FALSE; NULL passes, the SQL standard), and
    * `notNullCols` = CSV of columns that refuse NULLs. Set at CREATE
    * (TBLPROPERTIES / `create(tableProps)`); every path that stages new
    * rows enforces them and a violating statement refuses BEFORE any
    * manifest commit — Delta's invariant contract. Returns
    * (name, violation condition) pairs.
    */
  private[sinks] def constraintColumns(spark: SparkSession,
      props: Map[String, String]): Seq[(String, org.apache.spark.sql.Column)] = {
    val fns = org.apache.spark.sql.functions
    val checks = props.toSeq.collect {
      case (k, sql) if k.startsWith("constraint.") =>
        k.stripPrefix("constraint.") ->
          !fns.coalesce(fns.expr(sql), fns.lit(true))
    }
    val notNulls = props.get("notNullCols").toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .map(c => s"$c IS NOT NULL" -> col(c).isNull)
    (checks ++ notNulls).sortBy(_._1)
  }

  /** The same constraints as BOUND catalyst violation expressions
    * against `schema` (rows in exactly the shape the staged writes hand
    * their [[HiveRoutingWriter]]s), resolved
    * through the analyzer on the driver and shipped serialized; each
    * writer compiles them to codegen'd predicates once per task. Empty
    * for constraint-free lakes, so those paths stay byte-identical.
    */
  private[sinks] def boundConstraints(spark: SparkSession,
      schema: StructType, props: Map[String, String])
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference}
    val conds = constraintColumns(spark, props)
    if (conds.isEmpty) return Nil
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    conds.map { case (name, viol) =>
      val analyzed = empty.filter(viol).queryExecution.analyzed
      val cond = analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(throw new IllegalStateException(
        s"constraint $name did not analyze to a filter"))
      val bound = cond.transform {
        case a: AttributeReference =>
          val i = schema.fieldIndex(a.name)
          BoundReference(i, schema(i).dataType, schema(i).nullable)
      }
      require(bound.references.isEmpty,
        s"constraint $name references columns outside the table schema")
      (name, bound)
    }
  }

  /** Stage-write `df` and move its files (hive partition subdirs
    * preserved) under data/ with a unique token prefix; returns a
    * [[FileEntry]] (with footer stats for `statsCols`) per data file.
    * The write is a DSv2 append into a [[SnapshotStageTable]], the same
    * staged write the SQL paths use: each task's [[HiveRoutingWriter]]
    * checks the lake's declared constraints on every row (a violation
    * fails the write with an IllegalArgumentException before anything
    * could commit), leaves the
    * `bloomCols` sidecars beside the files it writes, and reports each
    * file's complete entry. The bloom columns are checked against `df`'s
    * schema before anything is staged.
    */
  private[sinks] def stageFiles(spark: SparkSession, root: String, df: DataFrame,
      partitionCols: Seq[String], statsCols: Set[String],
      bloomCols: Seq[String] = Nil): Seq[FileEntry] = {
    require(bloomCols.intersect(partitionCols).isEmpty,
      s"bloom columns ${bloomCols.intersect(partitionCols).mkString(",")} " +
        "are partition columns — directory pruning already serves them")
    // constraints are declared at CREATE, so a bare first append has none
    val props = latestVersion(spark, root)
      .fold(Map.empty[String, String])(_ => manifest(spark, root, None).props)
    var published = Seq.empty[FileEntry]
    writeStage(df, new SnapshotStageTable(spark, root, df.schema, df.schema,
        partitionCols) {
      protected val writers: DataWriterFactory =
        routingWriters(df.schema, partitionCols, statsCols, bloomCols, props)
      def commit(messages: Array[WriterCommitMessage]): Unit =
        published = committing(publishStaged(messages))
    })
    published
  }

  /** Append `df` to the write-only `stage` under a job tag of its own.
    * On failure the stage is deleted and the error rethrown: the write's
    * abort leaves the stage alone, and a failed or cancelled job ends
    * before its killed tasks do — a task still running may write under
    * the stage again — so the stage is deleted once every task of the
    * tagged jobs has ended, or after `StageSettleMs` at most. A failure to
    * settle or delete rides on the write's error as a suppressed
    * exception. A task's refusal, or the commit's lost race, reaches the
    * caller as itself, not as the job failure Spark wraps it in.
    */
  private def writeStage(df: DataFrame, stage: SnapshotStageTable): Unit = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val tag = s"graft-${stage.stageDir.getName}"
    sc.addJobTag(tag)
    try WriteBridge.append(df, stage)
    catch { case e: Throwable =>
      try {
        val st = sc.statusTracker
        def running: Boolean = {
          ListenerBridge.drain(spark)
          ListenerBridge.tasksRunning(sc, st.getJobIdsForTag(tag).toSeq
            .flatMap(st.getJobInfo(_)).flatMap(_.stageIds))
        }
        val deadline = System.nanoTime + StageSettleMs * 1000000L
        try while (System.nanoTime < deadline && running) Thread.sleep(10)
        finally stage.stageDir.getFileSystem(sc.hadoopConfiguration)
          .delete(stage.stageDir, true)
      } catch { case s: Throwable => e.addSuppressed(s) }
      throw (e match {
        case _: org.apache.spark.SparkException =>
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collectFirst {
              case r: IllegalArgumentException => r
              case c: ConflictingRewriteException => c
            }.getOrElse(e)
        case _ => e
      })
    } finally sc.removeJobTag(tag)
  }

  /** How long a failed stage write waits for its killed tasks to end. */
  private val StageSettleMs = 30000L

  /** Create an EMPTY lake: a schema-only v1 manifest with zero files —
    * the `CREATE TABLE` landing for catalog-managed lakes. Declared
    * partition columns persist as lake props (files cannot carry them
    * before the first row lands), as do declared `statsCols`/`bloomCols`
    * (via `tableProps`) — so the FIRST insert into a catalog-created lake
    * already stamps footer envelopes and bloom sidecars, instead of the
    * data-skipping index silently never materializing (the round-12
    * defect: `writeShape` inherited from the head manifest's FILES, and a
    * created lake's head has none). Subsequent appends validate against
    * the stored schema like any append. Refuses an existing lake.
    */
  def create(spark: SparkSession, root: String, schema: StructType,
      partitionCols: Seq[String] = Nil,
      lockExpiryMs: Long = DefaultLockExpiryMs,
      tableProps: Map[String, String] = Map.empty): Long = {
    require(latestVersion(spark, root).isEmpty,
      s"a snapshot lake already exists under $root")
    partitionCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema ${schema.simpleString}"))
    // lakes are BORN with field ids (round 14): every file they will
    // ever hold carries parquet ids, which is what makes RENAME/DROP
    // COLUMN total — see FieldIdsBirthProp
    val idSchema = assignFieldIds(schema, 1L)
    val props = tableProps ++
      (if (partitionCols.isEmpty) Map.empty[String, String]
       else Map("partitionCols" -> partitionCols.mkString(","))) ++
      Map(MaxFieldIdProp -> schema.fields.length.toString,
        FieldIdsBirthProp -> "birth")
    commit(spark, root, "create", idSchema, build = _ => Nil, lockExpiryMs,
      props = Some(props))
  }

  /** METADATA-ONLY widening: commit a new version whose schema appends
    * `cols` (same file list — old files read the new columns as NULL,
    * the [[unionSchema]] evolution contract) — the `ALTER TABLE ADD
    * COLUMNS` landing. Duplicate names and empty adds refuse.
    */
  def addColumns(spark: SparkSession, root: String, cols: StructType,
      lockExpiryMs: Long = DefaultLockExpiryMs): Long = {
    require(cols.fields.nonEmpty, "addColumns needs at least one column")
    val head = manifest(spark, root, None)
    val cur = head.schema
    val dup = cols.fieldNames.filter(cur.fieldNames.contains)
    require(dup.isEmpty,
      s"addColumns: column(s) already exist: ${dup.mkString(", ")}")
    requireNotRetired(head.props, cols.fieldNames.toSeq, "ADD COLUMNS")
    val (widened, propsOverride) =
      widenedWithIds(head, StructType(cur.fields ++ cols.fields))
    commit(spark, root, "evolve", widened,
      build = h => h.map(_.files).getOrElse(Nil), lockExpiryMs,
      props = propsOverride.map(head.props ++ _))
  }

  /** Preconditions shared by RENAME/DROP COLUMN: total id-resolution
    * (lake born with field ids ⇒ every file carries them) and a column
    * that is safe to touch.
    */
  private def requireColumnMappable(head: Manifest, colName: String,
      verb: String): Unit = {
    require(head.props.get(FieldIdsBirthProp)
        .exists(v => v == "birth" || v == "migrated"),
      s"$verb COLUMN needs field-id resolution, and this lake " +
        "predates field ids (or was born through a bare replace) — " +
        "run SnapshotLake.upgradeFieldIds (CALL graft.system." +
        "upgrade_field_ids) first: one metadata-only commit assigns " +
        "ids and a name mapping for the existing files")
    require(head.schema.fieldNames.contains(colName),
      s"column $colName not in snapshot schema ${head.schema.simpleString}")
    val parts = head.props.get("partitionCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    require(!parts.contains(colName),
      s"$verb COLUMN cannot touch partition column $colName — its name " +
        "is baked into every data directory; that is a rewrite migration")
    // after a partition-spec evolution, a column may have LEFT the
    // current spec while older files still dir-encode it — those dirs
    // are the only place its values live for those files, so the name
    // stays pinned until a compact migrates them (round 16)
    val historic = head.files.iterator.flatMap(f => layoutOf(f.rel)).toSet
    require(!historic.contains(colName),
      s"$verb COLUMN cannot touch $colName — files from an earlier " +
        "partition spec still dir-encode it (their only copy of the " +
        "values); CALL graft.system.optimize (compact) migrates them " +
        "to the current layout first")
  }

  /** METADATA-ONLY column rename: the field keeps its id, so every
    * existing file resolves it BY ID under the new name (readers of
    * column-mapped lakes must run with
    * `spark.sql.parquet.fieldId.read.enabled=true` — enforced loudly on
    * every read path). Manifest-side state follows the name: per-file
    * min/max envelope keys are rewritten in place (same values), and the
    * column's bloom sidecar references are DROPPED (sidecar files are
    * named by column; point-lookup pruning for this column resumes with
    * the next rewrite). Refuses partition columns and collisions with
    * live columns or the `_file`/`_pos` metadata names.
    */
  def renameColumn(spark: SparkSession, root: String, from: String,
      to: String, lockExpiryMs: Long = DefaultLockExpiryMs): Long = {
    val head = manifest(spark, root, None)
    requireColumnMappable(head, from, "RENAME")
    require(!head.schema.fieldNames.contains(to),
      s"rename target $to already exists in ${head.schema.simpleString}")
    require(to != SnapshotTable.FileMetaCol && to != SnapshotTable.PosMetaCol,
      s"rename target $to collides with a metadata column name")
    requireNotRetired(head.props, Seq(to), "RENAME COLUMN")
    val renamed = StructType(head.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    def renameList(v: String): String = v.split(',').map(_.trim)
      .filter(_.nonEmpty).map(c => if (c == from) to else c).mkString(",")
    val props = head.props ++
      head.props.get("statsCols").map(v => "statsCols" -> renameList(v)) ++
      head.props.get("bloomCols").map(v => "bloomCols" ->
        v.split(',').map(_.trim).filter(c => c.nonEmpty && c != from)
          .mkString(",")) +
      (ColumnMappedProp -> "true") +
      (RetiredColsProp -> (retiredCols(head.props) + from).toSeq.sorted
        .mkString(","))
    commit(spark, root, s"rename:$from>$to", renamed,
      build = h => h.map(_.files).getOrElse(Nil).map { f =>
        f.copy(
          stats = f.stats.map { case (c, mm) =>
            (if (c == from) to else c) -> mm },
          bloomCols = f.bloomCols.filterNot(_ == from))
      }, lockExpiryMs, props = Some(props))
  }

  /** METADATA-ONLY column drop: the schema loses the field, its id is
    * RETIRED (never reused — `maxFieldId` only grows), and existing
    * files keep the physical column invisibly. A later re-add of the
    * same name gets a FRESH id, so with id-resolution on (enforced via
    * [[ColumnMappedProp]]) the old data can never resurrect — the
    * Iceberg drop contract. Envelope/bloom references follow the column
    * out of the manifest.
    */
  def dropColumn(spark: SparkSession, root: String, colName: String,
      lockExpiryMs: Long = DefaultLockExpiryMs): Long = {
    val head = manifest(spark, root, None)
    requireColumnMappable(head, colName, "DROP")
    require(head.schema.fields.length > 1,
      s"cannot drop the last column of ${head.schema.simpleString}")
    def dropList(v: String): String = v.split(',').map(_.trim)
      .filter(c => c.nonEmpty && c != colName).mkString(",")
    val props = head.props ++
      head.props.get("statsCols").map(v => "statsCols" -> dropList(v)) ++
      head.props.get("bloomCols").map(v => "bloomCols" -> dropList(v)) +
      (ColumnMappedProp -> "true") +
      (RetiredColsProp -> (retiredCols(head.props) + colName).toSeq.sorted
        .mkString(","))
    commit(spark, root, s"dropcol:$colName",
      StructType(head.schema.fields.filterNot(_.name == colName)),
      build = h => h.map(_.files).getOrElse(Nil).map { f =>
        f.copy(stats = f.stats - colName,
          bloomCols = f.bloomCols.filterNot(_ == colName))
      }, lockExpiryMs, props = Some(props))
  }

  /** Type WIDENINGS Spark's parquet readers resolve natively against the
    * narrower physical type in old files (verified: vectorized reads,
    * pushed filters, and the int→double promotion all upcast) — and that
    * keep the manifest's data-skipping index sound: envelopes already
    * live in the double domain, and bloom sidecars hash integrals
    * through putLong, so a widened integral column probes identically.
    * Everything else (narrowing, long→double which loses precision past
    * 2^53, decimals, strings) refuses: that is a rewrite migration.
    */
  private val Widenings: Map[DataType, Set[DataType]] = {
    import org.apache.spark.sql.types._
    Map(
      ByteType -> Set[DataType](ShortType, IntegerType, LongType, DoubleType),
      ShortType -> Set[DataType](IntegerType, LongType, DoubleType),
      IntegerType -> Set[DataType](LongType, DoubleType),
      FloatType -> Set[DataType](DoubleType))
  }

  /** METADATA-ONLY type widening — the `ALTER TABLE ... ALTER COLUMN x
    * TYPE <wider>` landing: the schema field changes type (same name,
    * same field id), the file list is untouched, and old files' narrower
    * physical values upcast in the reader. Partition columns refuse
    * (their directory-string parsing and pruning are typed by the
    * schema; retyping them is a rewrite migration).
    */
  def widenColumn(spark: SparkSession, root: String, colName: String,
      newType: DataType, lockExpiryMs: Long = DefaultLockExpiryMs): Long = {
    val head = manifest(spark, root, None)
    val field = head.schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(
        s"column $colName not in snapshot schema ${head.schema.simpleString}"))
    val parts = head.props.get("partitionCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    require(!parts.contains(colName),
      s"ALTER COLUMN TYPE cannot touch partition column $colName — its " +
        "directory values are typed by the schema; that is a rewrite " +
        "migration")
    require(!head.files.iterator.flatMap(f => layoutOf(f.rel)).toSet
        .contains(colName),
      s"ALTER COLUMN TYPE cannot touch $colName — files from an " +
        "earlier partition spec still dir-encode it; compact first")
    require(Widenings.get(field.dataType).exists(_.contains(newType)),
      s"cannot retype $colName: ${field.dataType.simpleString} -> " +
        s"${newType.simpleString} is not a supported widening " +
        s"(${Widenings.map { case (f, ts) =>
          f.simpleString + "->" + ts.map(_.simpleString).mkString("/")
        }.mkString("; ")}) — narrowing or lossy retypes are an explicit " +
        "rewrite migration")
    commit(spark, root, s"widen:$colName:${newType.simpleString}",
      StructType(head.schema.fields.map(f =>
        if (f.name == colName) f.copy(dataType = newType) else f)),
      build = h => h.map(_.files).getOrElse(Nil), lockExpiryMs)
  }

  /** METADATA-ONLY partition-spec evolution (round 16 — Iceberg's
    * partition evolution on the graft manifest): one commit changes the
    * lake's `partitionCols` prop, so files written FROM NOW ON land
    * under the new hive layout while every existing file keeps its own
    * — zero data rewritten. Each file's layout generation is its rel
    * path's own dir encoding ([[layoutOf]] — the dirs are ground
    * truth), and reads resolve PER GENERATION: the library read groups
    * files by layout and unions (partition values come from dirs where
    * a generation dir-encodes them, from the data columns everywhere
    * else), the SQL read plans one BatchScan over per-generation
    * vectorized scans (the [[SnapshotSplitScan]] pattern generalized).
    * A full `compact()` (or `CALL graft.system.optimize`) migrates
    * everything to the current spec and the plain single-scan path
    * resumes. The reference re-grains its own storage over time (7-day
    * chunks, timescaledb_schema.sql:22; month/symbol archive dirs,
    * data_storage_manager.py:113-120) — this is that verb without the
    * rewrite.
    *
    * Constraints: every new partition column must exist in the schema
    * and carry no bloom sidecar declaration (directory pruning already
    * serves partition columns; stageFiles refuses the overlap), and —
    * like partition columns have always been — columns live in ANY
    * generation's dir layout stay rename/drop/retype-refused until a
    * compact migrates the old dirs away.
    */
  def repartitionSpec(spark: SparkSession, root: String,
      newPartitionCols: Seq[String],
      lockExpiryMs: Long = DefaultLockExpiryMs): Long =
    retryOnConflict(spark, root, "repartition") { () =>
      val head = manifest(spark, root, None)
      newPartitionCols.foreach(c =>
        require(head.schema.fieldNames.contains(c),
          s"partition column $c not in snapshot schema " +
            head.schema.simpleString))
      val declaredBlooms = (head.files.flatMap(_.bloomCols) ++
        head.props.get("bloomCols").toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))).distinct
      val clash = newPartitionCols.intersect(declaredBlooms)
      require(clash.isEmpty,
        s"new partition column(s) ${clash.mkString(",")} carry bloom " +
          "sidecar declarations — directory pruning already serves " +
          "partition columns; drop the blooms first")
      val cur = head.props.get("partitionCols").toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      require(cur != newPartitionCols,
        s"lake is already partitioned by ${cur.mkString(",")}")
      commit(spark, root,
        s"repartition:${newPartitionCols.mkString(",")}", head.schema,
        build = h => {
          requireSchemaIntact(head.schema, h, "repartition", root)
          h.map(_.files).getOrElse(Nil)
        },
        lockExpiryMs,
        // an explicit EMPTY value un-partitions future files (the
        // absent-key fallback would re-derive the spec from file dirs)
        props = Some(head.props +
          ("partitionCols" -> newPartitionCols.mkString(","))))
    }

  /** METADATA-ONLY field-id migration for lakes born WITHOUT ids (pre
    * round 14, or through a bare first `replace`): one commit that (a)
    * assigns fresh parquet field ids to the current schema, (b) records
    * the id → current-name mapping ([[NameMappingProp]] — the name every
    * EXISTING file uses for that field, total because id-less lakes can
    * only ever have widened), and (c) flags every current file
    * [[FileEntry.idless]] so readers resolve it by mapped name while
    * id-carrying files resolve by id. Unlocks RENAME/DROP COLUMN /
    * ALTER TYPE on legacy lakes with zero data rewritten — Iceberg's
    * migration design. Files written from now on carry ids; any rewrite
    * (compact / zorder / merge) sheds the idless flags it absorbs, and a
    * full `compact()` retires the name mapping's last user. Idempotent
    * refusal on already-id'd lakes.
    */
  def upgradeFieldIds(spark: SparkSession, root: String,
      lockExpiryMs: Long = DefaultLockExpiryMs): Long =
    retryOnConflict(spark, root, "upgradefieldids") { () =>
      val head = manifest(spark, root, None)
      require(!schemaHasFieldIds(head.schema) &&
        !head.props.get(FieldIdsBirthProp).exists(_.nonEmpty),
        s"this lake already tracks field ids (${head.props.getOrElse(
          FieldIdsBirthProp, "per-field metadata")})")
      val idSchema = assignFieldIds(head.schema, 1L)
      val mapping = idSchema.fields.map(f =>
        s"${f.metadata.getLong(FieldIdKey)}=${f.name}").mkString(",")
      val props = head.props ++ Map(
        MaxFieldIdProp -> idSchema.fields.length.toString,
        FieldIdsBirthProp -> "migrated",
        NameMappingProp -> mapping)
      commit(spark, root, "upgradefieldids", idSchema,
        // idSchema/mapping/props were computed from a head read taken
        // BEFORE the lock: an evolve-append (widen) landing in between
        // would get its new column silently reverted by publishing the
        // stale schema — and its id-carrying file wrongly flagged
        // idless. Guard like every rewrite does: abort under the lock
        // when the schema the migration was computed from is no longer
        // the head's, and recompute from the fresh head on retry.
        build = h => {
          requireSchemaIntact(head.schema, h, "upgradefieldids", root)
          h.map(_.files).getOrElse(Nil).map(_.copy(idless = true))
        },
        lockExpiryMs, props = Some(props))
    }

  /** The id → name-at-migration map of a `fieldIds=migrated` lake (empty
    * for everything else).
    */
  private[sinks] def nameMapping(props: Map[String, String]): Map[Long, String] =
    props.get(NameMappingProp).toSeq.flatMap(_.split(','))
      .map(_.trim).filter(_.nonEmpty).map { seg =>
        val eq = seg.indexOf('=')
        require(eq > 0, s"malformed name mapping segment: $seg")
        seg.take(eq).toLong -> seg.drop(eq + 1)
      }.toMap

  /** The read schema for IDLESS (pre-migration) files: every field
    * renamed to what it was called at migration time and the field-id
    * metadata STRIPPED, so Spark's parquet reader matches by name —
    * fields added after the migration keep their current name and read
    * as NULL (they are absent from old files), exactly the widening
    * contract. Positionally and type-identical to the current schema,
    * so rows from both file generations union without projection.
    */
  private[sinks] def nameMappedSchema(m: Manifest): StructType = {
    val mapping = nameMapping(m.props)
    val mapped = StructType(m.schema.fields.map { f =>
      val nm =
        if (f.metadata.contains(FieldIdKey))
          mapping.getOrElse(f.metadata.getLong(FieldIdKey), f.name)
        else f.name
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldIdKey).build()
      f.copy(name = nm, metadata = md)
    })
    // Collision guard: a rename a->b plus a later re-add of `a` would
    // give this schema two fields named `a` (the mapped pre-migration
    // name of b, plus the new column) — parquet's by-name resolution
    // over the remaining idless files would then bind ambiguously. The
    // RetiredColsProp discipline refuses that DDL while idless files
    // can exist (compact frees names only by rewriting every file), so
    // this is a belt-and-braces invariant check, not a reachable user
    // error — fail loudly rather than mis-resolve.
    val dup = mapped.fieldNames.groupBy(identity).collect {
      case (n, hits) if hits.length > 1 => n
    }
    require(dup.isEmpty,
      s"name-mapped read schema has colliding column name(s) " +
        s"${dup.mkString(", ")} — a post-migration DDL re-used a name " +
        "still live in the legacy name mapping; compact() retires the " +
        "mapping and frees the name")
    mapped
  }

  /** The per-commit epoch-micros stamp every round-13+ commit writes into
    * its manifest props (monotonic within a lake). */
  private[sinks] val CommitTimeProp = "commitTimeUs"

  /** Largest committed version published at or before `tsMicros` (epoch
    * micros) — the `TIMESTAMP AS OF` resolution. Round-13+ manifests
    * carry a DURABLE `commitTimeUs` prop (stamped under the commit lock,
    * clamped monotonic), so the answer survives an rsync/copy of the
    * lake that re-stamps file mtimes; pre-prop manifests fall back to
    * the manifest file's modification time (the rename that made the
    * commit visible) — document-grade there; pin a VERSION for bit-exact
    * replays.
    */
  def versionAt(spark: SparkSession, root: String, tsMicros: Long): Option[Long] = {
    val fs = fsOf(spark, root)
    versions(spark, root).filter { v =>
      manifest(spark, root, Some(v)).props.get(CommitTimeProp)
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(fs.getFileStatus(
          new Path(manifestDir(root), manifestName(v)))
          .getModificationTime * 1000L) <= tsMicros
    }.lastOption
  }

  /** Append `df` as a new snapshot version (creating the lake on first
    * call). Data lands invisibly, then one manifest CAS makes the whole
    * batch visible — concurrent appends both land, in some serial order.
    */
  def append(spark: SparkSession, root: String, df: DataFrame,
      partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      evolve: Boolean = false,
      lockExpiryMs: Long = DefaultLockExpiryMs,
      bloomCols: Seq[String] = Nil): Long =
    appendOp(spark, root, df, partitionCols, statsCols, evolve, "append",
      lockExpiryMs, bloomCols)

  private def appendOp(spark: SparkSession, root: String, df: DataFrame,
      partitionCols: Seq[String], statsCols: Seq[String], evolve: Boolean,
      op: String, lockExpiryMs: Long, bloomCols: Seq[String] = Nil): Long = {
    retryOnConflict(spark, root, op) { () =>
      // resolved INSIDE the retry: a conflicted attempt re-reads the head
      // so the fresh compatibility check runs against the NEW schema.
      // baseSchema = the head schema this statement resolved against —
      // the ONLY anchor under which "ours supersedes" is sound at commit
      val (schema, propsOverride, baseSchema) = latestVersion(spark, root) match {
        case None =>
          // lake born here: assign field ids (see FieldIdsBirthProp)
          (assignFieldIds(df.schema, 1L), Some(Map(
            MaxFieldIdProp -> df.schema.fields.length.toString,
            FieldIdsBirthProp -> "birth")), None)
        case Some(_) =>
          val head = manifest(spark, root, None)
          val cur = head.schema
          if (schemasCompatible(cur, df.schema)) (cur, None, Some(cur))
          else if (evolve) {
            val (widened, o) = widenedWithIds(head, unionSchema(cur, df.schema))
            // preserve the head's other props under the explicit override
            (widened, o.map(head.props ++ _), Some(cur))
          }
          else throw new IllegalArgumentException(
            s"append schema drift: lake has ${cur.simpleString}, " +
              s"append has ${df.schema.simpleString} — pass evolve=true to " +
              "widen (add columns), or migrate explicitly")
      }
      val added = stageFiles(spark, root, attachFieldIds(df, schema),
        partitionCols, statsCols.toSet, bloomCols)
      beforeAppendCommit()
      commit(spark, root, op, schema,
        build = head => head.map(_.files).getOrElse(Nil) ++ added,
        lockExpiryMs, props = propsOverride,
        // a METADATA-ONLY schema commit racing this append must not be
        // clobbered by republishing our pre-drift schema: when the head
        // schema WIDENED past ours (name+type superset — the evolve
        // race), our staged files are still valid under it (absent
        // columns read NULL) and we publish the HEAD schema. "Ours
        // supersedes" is claimed ONLY when the head is still exactly
        // the base schema this statement resolved against (we are the
        // sole widener) — a bare subset test would also match a rival
        // DROP COLUMN, and republishing our schema there would revert
        // the drop and resurrect the dropped data under its old field
        // id. Any other drift (drop/rename/retype raced the append)
        // aborts + re-runs, where the fresh compatibility check speaks
        // loudly
        schemaOf = Some { headM =>
          val h = headM.map(_.schema).getOrElse(schema)
          def nt(st: StructType) = st.fields.map(f => (f.name, f.dataType)).toSet
          if (h == schema) schema
          // we are the widener (an evolve-append) and nobody else moved
          // the schema since we resolved it: ours supersedes
          else if (baseSchema.contains(h)) schema
          // a rival widened past us: our files are valid under theirs —
          // but only when every common column kept EXACTLY its field id
          // (a drop + compact + re-add race re-binds a name to a fresh
          // id, and an upgradeFieldIds racing an id-LESS append stamps
          // ids our staged files do not carry; either way id-resolution
          // against our files would be wrong)
          else if (nt(schema).subsetOf(nt(h)) && {
            def ids(st: StructType) = st.fields.collect {
              case f if f.metadata.contains(FieldIdKey) =>
                f.name -> f.metadata.getLong(FieldIdKey)
            }.toMap
            val ours = ids(schema); val theirs = ids(h)
            schema.fields.forall(f => ours.get(f.name) == theirs.get(f.name))
          }) h
          // drop/rename/retype raced the append: abort; the retry's
          // fresh compatibility check speaks loudly
          else throw new ConflictingRewriteException(
            s"$op under $root lost to a concurrent schema change " +
              s"(${schema.simpleString} vs head ${h.simpleString})", added)
        })
    }
  }

  /** Test seam: runs between an append's staging and its commit — the
    * deterministic replay point for the schema-drift ride-through
    * (production value is a no-op).
    */
  @volatile private[graft] var beforeAppendCommit: () => Unit = () => ()

  /** Stamp fresh ids onto the NEW fields of a widened schema (the
    * existing fields keep theirs through [[unionSchema]]'s field copy).
    * Returns (schema, props override carrying the bumped max id) — both
    * pass-through when the lake does not track ids.
    */
  private def widenedWithIds(head: Manifest,
      widened: StructType): (StructType, Option[Map[String, String]]) = {
    if (!schemaHasFieldIds(head.schema)) (widened, None)
    else {
      val maxId = head.props.get(MaxFieldIdProp).map(_.toLong)
        .getOrElse(head.schema.fields.length.toLong)
      var next = maxId
      val fields = widened.fields.map { f =>
        if (f.metadata.contains(FieldIdKey)) f
        else { next += 1; withFieldId(f, next) }
      }
      (StructType(fields),
        Some(Map(MaxFieldIdProp -> next.toString)))
    }
  }

  /** Schema evolution = widening only: every existing field keeps its
    * name+type (any order), new fields are appended; old files read back
    * with the widened schema fill the new columns with NULL (so evolution
    * never rewrites a byte of data). Narrowing or retyping must be an
    * explicit migration (rewrite) — silent narrowing loses data.
    */
  private def unionSchema(cur: StructType, next: StructType): StructType = {
    val curTypes = cur.fields.map(f => f.name -> f.dataType).toMap
    next.fields.foreach { f =>
      curTypes.get(f.name).foreach { t =>
        require(t == f.dataType,
          s"schema evolution cannot retype ${f.name}: $t -> ${f.dataType}")
      }
    }
    val newFields = next.fields.filterNot(f => curTypes.contains(f.name))
    val nextNames = next.fields.map(_.name).toSet
    require(cur.fields.forall(f => nextNames.contains(f.name)),
      s"schema evolution cannot drop columns: missing " +
        cur.fields.map(_.name).filterNot(nextNames.contains).mkString(", "))
    StructType(cur.fields ++ newFields)
  }

  // ------------------------------------------------------------------ read

  /** Read exactly `files` (with `schema`), applying their position
    * deletes — the ONE library read primitive every path that opens
    * manifest entries goes through, so merge-on-read deletes can never
    * be silently resurrected by a rewrite, a diff side, or a maintenance
    * job. Delete-free entries take the raw vectorized path untouched
    * (byte-identical plan to round 13); delete-carrying entries are
    * anti-joined against their delete files on (file, position) using
    * Spark's V1 parquet `_metadata.file_path` / `_metadata.row_index`
    * hidden columns — fully distributed (no driver materialization; AQE
    * broadcasts small delete sets), exact by construction (row_index is
    * the reader's own per-file ordinal, the same number the delta DML
    * writer recorded). The file-path → manifest-rel mapping is an
    * explicit broadcast lookup built from the very paths this plan
    * reads — no string surgery on URIs.
    *
    * Takes the MANIFEST (not a bare schema) so the column-mapped
    * field-id read guard runs on EVERY path that opens manifest entries
    * — merge/delete/replaceWhere rewrites included, where a name-matched
    * read of a renamed column would return NULL from pre-rename files
    * and the rewrite would commit those NULLs back permanently.
    */
  private[graft] def readEntries(spark: SparkSession, root: String,
      m: Manifest, files: Seq[FileEntry]): DataFrame = {
    requireFieldIdReads(spark, m)
    val schema = m.schema
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val delRels = files.flatMap(_.deletes).distinct
    if (delRels.isEmpty) return rawFor(spark, root, m, files, tag = false)
    readTagged(spark, root, rawFor(spark, root, m, files, tag = true), files)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** The raw (pre-delete-filter) scan of `files`: id-carrying files read
    * with the current schema (field-id resolution where the session asks
    * for it), [[FileEntry.idless]] pre-migration files read with the
    * [[nameMappedSchema]] and renamed back — positionally identical, so
    * the two generations union without projection. Lakes with no idless
    * files keep the single-scan plan byte-identical to round 14. With
    * `tag = true` each generation carries `__abs`/`__pos` from its OWN
    * `_metadata` columns (they cannot be resolved through a union).
    */
  private def rawFor(spark: SparkSession, root: String, m: Manifest,
      files: Seq[FileEntry], tag: Boolean): DataFrame = {
    val base = dataDir(root).toString
    def readGen(schema: StructType, fs: Seq[FileEntry]): DataFrame = {
      val df = spark.read
        .option("basePath", base)
        .schema(schema)
        .parquet(fs.map(f => s"$base/${f.rel}"): _*)
      if (!tag) df
      else df.withColumn("__abs", col("_metadata.file_path"))
        .withColumn("__pos", col("_metadata.row_index"))
    }
    // One read per FILE GENERATION: field-id generation (idless files
    // read under the name-mapped schema) × partition-layout generation
    // (a spec evolution leaves files whose dir encodings differ — mixed
    // dirs would fail Spark's partition inference, and each group's
    // dir-encoded columns come from ITS dirs, the rest from data).
    // Spark's ACTUAL output order for a dir-partitioned read is data
    // columns (user-schema order) then dir columns (DIR order),
    // regardless of where the schema places them — so each group's
    // columns are first NAMED by that actual order (current names),
    // then reordered to the manifest schema before the positional union.
    val groups = files.groupBy(f => (f.idless, layoutOf(f.rel))).toSeq
      .sortBy { case ((idless, lay), _) => (idless, lay.mkString("/")) }
    if (groups.size == 1 && !groups.head._1._1 &&
        groups.head._1._2.isEmpty) readGen(m.schema, files)
    else {
      val tagNames = if (tag) Seq("__abs", "__pos") else Nil
      val outCols = (m.schema.fieldNames.toSeq ++ tagNames).map(col)
      groups.map { case ((idless, lay), fs) =>
        val schemaG = if (idless) nameMappedSchema(m) else m.schema
        // legacy groups read (and dir-encode) OLD names: map them back
        // to current names positionally via the schema zip
        val toCurrent: Map[String, String] =
          if (!idless) Map.empty
          else schemaG.fieldNames.zip(m.schema.fieldNames).toMap
        val actual = (schemaG.fieldNames.toSeq.filterNot(lay.contains) ++
          lay).map(n => toCurrent.getOrElse(n, n)) ++ tagNames
        readGen(schemaG, fs).toDF(actual: _*).select(outCols: _*)
      }.reduce(_.union(_))
    }
  }

  /** [[readEntries]] plus row provenance: the surviving rows of `files`
    * (position deletes applied) WITH their `__rel` (manifest-relative
    * data file) and `__pos` (row ordinal within it) — exactly the row
    * ids a merge-on-read DML needs to record new position deletes
    * against. Same distributed anti-join machinery as [[readEntries]].
    */
  private[graft] def readEntriesTagged(spark: SparkSession, root: String,
      m: Manifest, files: Seq[FileEntry]): DataFrame = {
    requireFieldIdReads(spark, m)
    val outCols = (m.schema.fieldNames.toSeq ++ Seq("__rel", "__pos")).map(col)
    if (files.isEmpty) {
      import org.apache.spark.sql.types.{LongType, StringType, StructField}
      val taggedSchema = StructType(m.schema.fields ++ Seq(
        StructField("__rel", StringType), StructField("__pos", LongType)))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        taggedSchema)
    }
    readTagged(spark, root, rawFor(spark, root, m, files, tag = true), files)
      .select(outCols: _*)
  }

  /** Shared tail of the tagged reads: `raw` arrives carrying `__abs`/
    * `__pos` from the parquet `_metadata` hidden columns (the reader's
    * own per-file ordinal — the same number the delta DML writer
    * records); resolve `__abs` to the manifest rel — its path past the
    * data dir, kept only when that is one of the `files` this plan
    * reads (a set lookup inside the scan's stage, so no broadcast and no
    * Spark job of its own) — then anti-join away the files' pending
    * position deletes. Fully distributed; AQE broadcasts small delete
    * sets.
    */
  private def readTagged(spark: SparkSession, root: String, raw: DataFrame,
      files: Seq[FileEntry]): DataFrame = {
    val fns = org.apache.spark.sql.functions
    val prefix =
      SnapshotPartitioningIndex.qualifiedDataDir(spark, root).toString + "/"
    val tagged = raw
      .withColumn("__rel", fns.when(col("__abs").startsWith(prefix),
        col("__abs").substr(prefix.length + 1, Int.MaxValue)))
      .filter(col("__rel").isin(files.map(_.rel): _*))
      .drop("__abs")
    val delRels = files.flatMap(_.deletes).distinct
    if (delRels.isEmpty) return tagged
    val dd = deletesDir(root).toString
    val dels = spark.read.parquet(delRels.map(r => s"$dd/$r"): _*)
      .select(col("file").as("__dfile"), col("pos").as("__dpos"))
    tagged.join(dels,
        tagged("__rel") === dels("__dfile") && tagged("__pos") === dels("__dpos"),
        "left_anti")
  }

  /** Read a pinned snapshot (latest when `version` is None). The plan
    * embeds the manifest's exact file list and stored schema: no directory
    * listing, no footer sniffing, immune to concurrent commits. Position
    * deletes (merge-on-read DML) are applied via [[readEntries]].
    */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val m = manifest(spark, root, version)
    requireFieldIdReads(spark, m)
    readEntries(spark, root, m, m.files)
  }

  /** A column expression in the same numeric domain as its parquet footer
    * statistics: numerics as-is, timestamps as epoch MICROS (the int64 the
    * footer stores — NTZ values are taken as-is, which matches footer
    * stats exactly in a UTC session, the engine's standing config).
    */
  private[sinks] def statsDomain(schema: StructType, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    schema.fields.find(_.name == c).map(_.dataType) match {
      case Some(TimestampType) => org.apache.spark.sql.functions.unix_micros(col(c))
      case Some(TimestampNTZType) =>
        org.apache.spark.sql.functions.unix_micros(
          col(c).cast(TimestampType))
      case _ => col(c)
    }
  }

  /** Files a box predicate cannot skip, by manifest stats alone (no file
    * opened): a file survives when every boxed column's [lo, hi] overlaps
    * the file's recorded envelope; files with no envelope for a boxed
    * column are conservatively kept. Box bounds are in the column's stats
    * domain (see [[statsDomain]]: timestamps in epoch micros).
    */
  def candidateEntries(spark: SparkSession, root: String,
      box: Map[String, (Double, Double)],
      version: Option[Long] = None): Seq[FileEntry] =
    manifest(spark, root, version).files
      .filter(f => ManifestFileIndex.surviving(f.stats, box))

  /** Stats-pruned box read: plan over only [[candidateEntries]] plus the
    * residual predicate — the candidate set is decided from ONE manifest,
    * with no stats-collection job over the lake and no directory listing.
    */
  def readBox(spark: SparkSession, root: String,
      box: Map[String, (Double, Double)],
      version: Option[Long] = None): DataFrame = {
    val m = manifest(spark, root, version)
    requireFieldIdReads(spark, m)
    val survivors = candidateEntries(spark, root, box, version)
    val residual = box.map { case (c, (lo, hi)) =>
      val d = statsDomain(m.schema, c)
      d >= lo && d <= hi
    }.reduce(_ && _)
    if (survivors.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    } else {
      readEntries(spark, root, m, survivors).filter(residual)
    }
  }

  /** Files an equality point lookup cannot skip: min/max envelopes first
    * (numeric keys), then each surviving file's bloom sidecar — a bloom
    * miss means the key is DEFINITELY absent from that file, so a lookup
    * on a hash-scattered key (GDPR subject id in ingest-ordered files,
    * where every file's min/max spans the whole domain) opens ~the one
    * file that holds it instead of the lake. Files without a sidecar for
    * a looked-up column are conservatively kept; probing costs one small
    * driver read per min/max survivor.
    */
  def pointCandidates(spark: SparkSession, root: String,
      point: Map[String, Any],
      version: Option[Long] = None): Seq[FileEntry] = {
    require(point.nonEmpty, "point lookup needs at least one (column, value)")
    val m = manifest(spark, root, version)
    val fs = fsOf(spark, root)
    val numeric = point.collect { case (c, n: java.lang.Number) =>
      c -> n.doubleValue
    }
    val statsKept = m.files.filter { f =>
      numeric.forall { case (c, v) =>
        f.stats.get(c).forall { case (lo, hi) => v >= lo && v <= hi }
      }
    }
    // sidecar probes are independent driver-side reads of a few MB each —
    // overlap them (a 32-file survivor set probes in ~one sidecar's
    // latency, which matters on object stores where each open is a round
    // trip). A serving layer doing repeated lookups should additionally
    // cache loaded filters per (file, column); one-shot queries get the
    // parallel load.
    graft.Concurrent.all(spark)(statsKept.map { f =>
      () => f -> point.forall { case (c, v) =>
        !f.bloomCols.contains(c) ||
          loadBloom(fs, root, f.rel, c).forall(BloomSidecars.hit(_, v))
      }
    }).collect { case (f, true) => f }
  }

  /** Bloom + stats pruned equality read: plan over only
    * [[pointCandidates]], with the full equality predicate as the
    * residual — pruning changes which files OPEN, never the answer (a
    * bloom has no false negatives; false positives just open one more
    * file). The point-lookup analog of [[readBox]].
    */
  def readPoint(spark: SparkSession, root: String, point: Map[String, Any],
      version: Option[Long] = None): DataFrame = {
    val m = manifest(spark, root, version)
    requireFieldIdReads(spark, m)
    point.keys.foreach(c => require(m.schema.fieldNames.contains(c),
      s"point column $c not in snapshot schema ${m.schema.simpleString}"))
    val survivors = pointCandidates(spark, root, point, version)
    val residual = point.map { case (c, v) =>
      col(c) === org.apache.spark.sql.functions.lit(v)
    }.reduce(_ && _)
    if (survivors.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    } else {
      readEntries(spark, root, m, survivors).filter(residual)
    }
  }

  /** Metadata-only aggregates: exact COUNT(*) plus per-column MIN/MAX
    * answered from the manifest ALONE — zero data files opened, zero
    * Spark jobs — the snapshot-store answer to "how big is this table
    * and what range does it span" that a directory-listing lake needs a
    * full scan for. Sound because every committed file carries its
    * footer row count and `statsCols` envelopes are TRUE per-file
    * min/max lifted from the same footer, and every rewrite path
    * (append/compact/merge/delete) restamps them via `stageFiles`.
    *
    * Refuses loudly when the pinned manifest predates per-file row
    * counts (rewrite via [[compact]] to backfill) or when a requested
    * column lacks an envelope on some non-empty file (pass it in
    * `statsCols` at append time) — a metadata answer that MIGHT be
    * wrong is worse than no answer. Min/max ride the envelopes' double
    * domain (exact for doubles and for integers below 2^53; same
    * contract as [[readBox]] pruning).
    *
    * Returns one row: `n_rows` plus `min_<c>`/`max_<c>` per requested
    * column (NULL when the lake holds zero rows).
    */
  def summary(spark: SparkSession, root: String, cols: Seq[String] = Nil,
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
    val m = manifest(spark, root, version)
    val legacy = m.files.filter(_.rows < 0)
    require(legacy.isEmpty,
      s"metadata-only summary needs per-file row counts; ${legacy.size} " +
        s"file(s) predate them (e.g. ${legacy.take(3).map(_.rel).mkString(", ")})" +
        " — one compact() rewrite backfills the counts")
    // position deletes make the physical row counts an OVERCOUNT and the
    // envelopes a superset; a metadata answer that might be wrong is
    // worse than no answer — compaction absorbs the deletes and restores
    // the metadata path
    val deleted = m.files.filter(_.deletes.nonEmpty)
    require(deleted.isEmpty,
      s"metadata-only summary is unavailable while ${deleted.size} file(s) " +
        s"carry position deletes (e.g. ${deleted.take(3).map(_.rel).mkString(", ")})" +
        " — one compact() rewrite absorbs them")
    cols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"summary column $c not in snapshot schema ${m.schema.simpleString}"))
    val nonEmpty = m.files.filter(_.rows > 0)
    val total = m.files.map(_.rows).sum
    val mins = cols.map { c =>
      val missing = nonEmpty.filterNot(_.stats.contains(c))
      require(missing.isEmpty,
        s"summary column $c has no min/max envelope on ${missing.size} " +
          s"file(s) (e.g. ${missing.take(3).map(_.rel).mkString(", ")}) — " +
          "append with statsCols including it, or compact() with stats")
      if (nonEmpty.isEmpty) (null, null)
      else (java.lang.Double.valueOf(nonEmpty.map(_.stats(c)._1).min),
        java.lang.Double.valueOf(nonEmpty.map(_.stats(c)._2).max))
    }
    val schema = StructType(StructField("n_rows", LongType, nullable = false) +:
      cols.flatMap(c => Seq(StructField(s"min_$c", DoubleType),
        StructField(s"max_$c", DoubleType))).toArray)
    val row = Row.fromSeq(total +: mins.flatMap { case (lo, hi) => Seq(lo, hi) })
    spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** Version history — (version, parent, op, n_files, bytes,
    * n_delete_files, commit_time_us): `n_delete_files` is the distinct
    * position-delete sidecars the version references (0 = no pending
    * merge-on-read deletes; a rewrite absorbing them shows the count
    * dropping). `CALL graft.system.history` returns the same rows.
    */
  def history(spark: SparkSession, root: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(historyRows(spark, root): _*), HistorySchema)

  /** The schema of [[history]] and of `CALL graft.system.history`. */
  val HistorySchema: StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    StructType(Seq("version", "parent", "op", "n_files", "bytes",
      "n_delete_files", "commit_time_us").map(n =>
      StructField(n, if (n == "op") StringType else LongType)))
  }

  /** One [[HistorySchema]] row per committed version, from the manifests
    * alone (no data I/O); `commit_time_us` is null on a manifest written
    * before commits were stamped.
    */
  private[sinks] def historyRows(spark: SparkSession, root: String): Seq[Row] =
    versions(spark, root).map { v =>
      val m = manifest(spark, root, Some(v))
      Row(m.version, m.parent, m.op, m.files.size.toLong, m.bytes,
        m.files.flatMap(_.deletes).distinct.size.toLong,
        m.props.get("commitTimeUs").flatMap(_.toLongOption).map(Long.box).orNull)
    }

  // ----------------------------------------------------------- maintenance

  /** One maintenance recommendation from [[advise]]: what degraded
    * (`kind`), how much (`metric`, human-readable numbers), how urgent
    * (`severity`: info | recommend | urgent), and the CALL that fixes it
    * (`action`).
    */
  final case class LakeAdvice(kind: String, severity: String,
      metric: String, action: String)

  /** Read the manifest and recommend maintenance — the policy brain the
    * reference automates with TimescaleDB compression/refresh policies
    * (timescaledb_schema.sql:32-40,63-66), re-expressed for the lake:
    * ZERO data I/O (manifest arithmetic only), returns the actions a
    * 100 TB operator would otherwise discover from a slow dashboard:
    *
    *   - `pending-deletes`: merge-on-read sidecars stack a read tax
    *     (measured 1.84x at 32 stacked sidecars) — compact absorbs;
    *     recommend at >10% of files carrying deletes or a stack >= 4
    *     deep, urgent at >25% / >= 8;
    *   - `small-files`: many files far under the target size grow
    *     planning and open() cost linearly — compact coalesces;
    *     recommend at > 16 files under a quarter of the 128 MB target,
    *     urgent at > 64;
    *   - `clustering-drift`: appends after a zorder() land unclustered,
    *     eroding the multi-column skip (the layout the
    *     [[ZorderColsProp]] stamp records) — re-zorder; recommend once
    *     unclustered files pass 25% of the lake;
    *   - `bloom-coverage`: declared bloom columns whose sidecars some
    *     files lack (appended before the declaration) — point-lookup
    *     pruning silently degrades to envelope-only on those files;
    *     compact restores;
    *   - `retention`: a long manifest tail slows version listing and
    *     pins dead files — vacuum;
    *   - `legacy-files`: idless (pre-field-id-migration) files keep the
    *     name-mapping read split and the DML refusals alive — compact
    *     retires the mapping.
    *
    * An empty result means the lake is healthy. `CALL
    * graft.system.advise('ns.table')` is the SQL doorway.
    */
  def advise(spark: SparkSession, root: String): Seq[LakeAdvice] = {
    val m = manifest(spark, root, None)
    val out = scala.collection.mutable.ArrayBuffer.empty[LakeAdvice]
    val n = m.files.size
    if (n > 0) {
      // pending-delete read tax
      val withDel = m.files.count(_.deletes.nonEmpty)
      val maxStack = (0 +: m.files.map(_.deletes.size)).max
      if (withDel > 0) {
        val frac = withDel.toDouble / n
        val sev =
          if (frac > 0.25 || maxStack >= 8) "urgent"
          else if (frac > 0.10 || maxStack >= 4) "recommend"
          else "info"
        out += LakeAdvice("pending-deletes", sev,
          s"$withDel/$n files carry position-delete sidecars " +
            s"(deepest stack $maxStack); the scan pays the sidecar " +
            "anti-join on every read of those files",
          "CALL graft.system.optimize('<table>') — compaction absorbs " +
            "the deletes and retires the sidecars")
      }
      // small-file pressure (against the optimize default of 128 MB)
      val target = 128L * 1024 * 1024
      val small = m.files.count(_.bytes < target / 4)
      if (small > 16)
        out += LakeAdvice("small-files",
          if (small > 64) "urgent" else "recommend",
          s"$small/$n files are under ${target / 4 / 1024 / 1024} MB " +
            s"(target ${target / 1024 / 1024} MB); planning and file-open " +
            "cost grow with the count, not the bytes",
          "CALL graft.system.optimize('<table>', target_mb => 128)")
      // clustering drift after a zorder
      m.props.get(ZorderColsProp).filter(_.nonEmpty).foreach { zc =>
        val vs = versions(spark, root)
        val lastZ = vs.reverseIterator.find(v =>
          manifest(spark, root, Some(v)).op == "zorder")
        lastZ.foreach { zv =>
          val clustered = manifest(spark, root, Some(zv)).files
            .map(_.rel).toSet
          val drifted = m.files.count(f => !clustered.contains(f.rel))
          if (drifted.toDouble / n > 0.25)
            out += LakeAdvice("clustering-drift", "recommend",
              s"$drifted/$n files landed after the last zorder($zc) at " +
                s"v$zv and are unclustered — multi-column skipping " +
                "degrades toward full scans on those files",
              s"CALL graft.system.zorder('<table>', '$zc')")
        }
      }
      // bloom coverage holes
      val declared = (m.files.flatMap(_.bloomCols) ++
        m.props.get("bloomCols").toSeq.flatMap(_.split(',').map(_.trim)
          .filter(_.nonEmpty))).distinct
      declared.foreach { c =>
        val missing = m.files.count(f => !f.bloomCols.contains(c))
        if (missing > 0)
          out += LakeAdvice("bloom-coverage",
            if (missing.toDouble / n > 0.5) "recommend" else "info",
            s"$missing/$n files lack the `$c` bloom sidecar — point " +
              "lookups and keyed-merge pruning fall back to envelopes " +
              "on them",
            "CALL graft.system.optimize('<table>') rewrites every file " +
              "with the declared sidecars")
      }
    }
    // retention tail
    val nVersions = versions(spark, root).size
    if (nVersions > 64)
      out += LakeAdvice("retention",
        if (nVersions > 256) "urgent" else "recommend",
        s"$nVersions manifest versions retained; listing and time-travel " +
          "resolution walk the tail, and dead files stay pinned",
        "CALL graft.system.vacuum('<table>', retain_last => 8)")
    // legacy (pre-migration) files
    val idless = m.files.count(_.idless)
    if (idless > 0)
      out += LakeAdvice("legacy-files", "info",
        s"$idless/${m.files.size} files predate the field-id migration " +
          "and read via the name mapping; SQL row-level DML refuses " +
          "while they remain",
        "CALL graft.system.optimize('<table>') rewrites them with ids " +
          "and retires the mapping")
    out.toSeq
  }

  /** Rewrite the current snapshot into ~targetBytes files and commit the
    * result as a new version. NON-BLOCKING for readers: old files stay on
    * disk (pinned readers keep working) until `vacuum`; a concurrent
    * append is carried forward by the CAS-merge, never dropped. Returns
    * (newVersion, filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, root: String,
      partitionCols: Seq[String] = Nil,
      targetBytes: Long = 128L * 1024 * 1024,
      lockExpiryMs: Long = DefaultLockExpiryMs): (Long, Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    retryOnConflict(spark, root, "compact") { () =>
      val base = manifest(spark, root, None)
      val nOut = math.max(1,
        ((base.bytes + targetBytes - 1) / targetBytes).toInt)
      val rewritten = read(spark, root, Some(base.version)).repartition(nOut)
      val (statsCols, bloomCols) = indexCols(base, partitionCols)
      val newFiles = stageFiles(spark, root,
        attachFieldIds(rewritten, base.schema), partitionCols,
        statsCols, bloomCols)
      // a full rewrite re-lands every current file under CURRENT column
      // names: retired names become re-usable (see RetiredColsProp).
      // The hash repartition also destroys any z-order clustering, so
      // the recorded layout drops with it (round 16 — advise() honesty)
      val compactProps =
        if (base.props.contains(RetiredColsProp) ||
            base.props.contains(ZorderColsProp))
          Some(base.props - RetiredColsProp - ZorderColsProp)
        else None
      val v = commitRewrite(spark, root, "compact", base,
        replaced = base.files, guarded = Nil, added = newFiles,
        lockExpiryMs = lockExpiryMs, props = compactProps)
      (v, base.files.size, newFiles.size)
    }
  }

  /** REPLACE the snapshot's contents wholesale in ONE atomic commit:
    * stage `df`, publish a manifest whose file list is exactly the new
    * files — every current file drops out (still on disk for pinned
    * readers until vacuum, like any rewrite). The dimension-refresh /
    * derived-state shape: small tables that are recomputed rather than
    * merged (sketch samples, codebooks, lookup dims) get torn-free
    * replacement without a delete+append window. Unlike [[compact]],
    * concurrent appends do NOT ride through — replace semantics is
    * "the table IS this frame now"; racing writers' files drop with the
    * rest (their commits still serialized and visible in history).
    */
  def replace(spark: SparkSession, root: String, df: DataFrame,
      partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      lockExpiryMs: Long = DefaultLockExpiryMs,
      bloomCols: Seq[String] = Nil): Long = {
    val schema = latestVersion(spark, root) match {
      case None => df.schema
      case Some(_) =>
        val cur = manifest(spark, root, None).schema
        require(schemasCompatible(cur, df.schema),
          s"replace schema drift: lake has ${cur.simpleString}, " +
            s"replacement has ${df.schema.simpleString}")
        cur
    }
    retryOnConflict(spark, root, "replace") { () =>
      val newFiles = stageFiles(spark, root, attachFieldIds(df, schema),
        partitionCols, statsCols.toSet, bloomCols)
      commit(spark, root, "replace", schema, build = head => {
        requireSchemaIntact(schema, head, "replace", root, newFiles)
        newFiles
      }, lockExpiryMs)
    }
  }

  /** METADATA-ONLY stats backfill: enrich the current snapshot's
    * manifest with min/max envelopes (and exact row counts, for
    * pre-`rows` legacy entries) for `cols`, by footer-probing the
    * EXISTING immutable data files — no data is rewritten, no byte of
    * parquet moves. This is the right tool when a lake was appended
    * without `statsCols` (or before per-file row counts existed) and
    * [[readBox]] / [[summary]] / the [[graft.plans.ManifestAggRewrite]]
    * metadata path now want envelopes: a [[compact]] would rewrite the
    * whole lake to learn numbers that already sit in every footer.
    *
    * Cost: one driver-side footer read per CURRENT file (the probe each
    * writing task runs on the files it writes), one lock commit. Existing
    * envelopes are kept and extended (probing is per-column additive);
    * files whose footer has no usable stats for a column (all-null,
    * INT96, non-numeric) simply stay envelope-free for it — conservative
    * readers keep them. Concurrent appends ride the lock-merge
    * untouched (their files keep their own stats). Returns the new
    * version.
    */
  def addStats(spark: SparkSession, root: String, cols: Seq[String],
      lockExpiryMs: Long = DefaultLockExpiryMs): Long = {
    require(cols.nonEmpty, "addStats needs at least one column")
    val base = manifest(spark, root, None)
    cols.foreach(c => require(base.schema.fieldNames.contains(c),
      s"stats column $c not in snapshot schema ${base.schema.simpleString}"))
    val dd = dataDir(root)
    val enriched: Map[String, FileEntry] = base.files.map { f =>
      val (stats, nRows) = footerProbe(spark.sparkContext.hadoopConfiguration,
        new Path(dd, f.rel), cols.toSet)
      f.rel -> f.copy(stats = f.stats ++ stats,
        rows = if (f.rows >= 0) f.rows else nRows)
    }.toMap
    commit(spark, root, "restat", base.schema,
      // files that appeared after our base keep their own entries; files
      // we probed publish enriched; files REMOVED since base (concurrent
      // rewrite won the lock first) stay removed
      build = head => head.map(_.files).getOrElse(Nil).map(f =>
        enriched.getOrElse(f.rel, f)),
      lockExpiryMs,
      // restat never changes the schema: publish the HEAD's, so a racing
      // evolve/rename/widen is never clobbered by this metadata pass
      schemaOf = Some(h => h.map(_.schema).getOrElse(base.schema)))
  }

  /** OPTIMIZE ZORDER for the snapshot lake: rewrite the current snapshot
    * into z-ordered files (quantile-rank bit-interleave over `zCols` —
    * [[Lake.zOrderShape]]) and publish the result as ONE new manifest
    * version with [[compact]]'s guarantees: non-blocking for pinned
    * readers, concurrent appends carried forward by the lock-merge,
    * crash leaves no torn state. The clustering and its data-skipping
    * index move TOGETHER — `stageFiles` restamps every
    * rewritten file's min/max envelopes (the z-dims are added to the
    * tracked stat columns), so the next [[readBox]] /
    * [[ManifestFileIndex.readPruned]] prunes against envelopes that are
    * tight in every z dimension. A d-dim box query then opens
    * ~∏ selectivityᵢ of the files where the ingest-ordered layout had
    * near-full envelopes on every non-ingest dimension.
    *
    * Unpartitioned lakes only (a hive-partitioned snapshot's directory
    * keys already cluster its partition dims; z-ordering WITHIN
    * partitions is not supported).
    * Returns (newVersion, filesBefore, filesAfter).
    */
  def optimizeZOrder(spark: SparkSession, root: String, zCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024, bits: Int = 12,
      lockExpiryMs: Long = DefaultLockExpiryMs): (Long, Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    retryOnConflict(spark, root, "zorder") { () =>
      val base = manifest(spark, root, None)
      zCols.foreach(c => require(base.schema.fieldNames.contains(c),
        s"z-order column $c not in snapshot schema ${base.schema.simpleString}"))
      require(base.files.forall(!_.rel.contains("=")),
        "optimizeZOrder supports unpartitioned snapshot lakes only; " +
          "z-ordering within hive partitions is not supported")
      val nOut = math.max(1,
        ((base.bytes + targetBytes - 1) / targetBytes).toInt)
      val shaped = Lake.zOrderShape(read(spark, root, Some(base.version)),
        zCols, nOut, bits)
      val (statsCols, bloomCols) = indexCols(base, Nil)
      val newFiles = stageFiles(spark, root,
        attachFieldIds(shaped, base.schema), Nil, statsCols ++ zCols,
        bloomCols)
      // record the clustering (round 16): advise() reads it to detect
      // appends drifting an ordered lake out of its layout
      val zProps = Some((base.props - RetiredColsProp) +
        (ZorderColsProp -> zCols.mkString(",")))
      val v = commitRewrite(spark, root, "zorder", base,
        replaced = base.files, guarded = Nil, added = newFiles,
        lockExpiryMs = lockExpiryMs, props = zProps)
      (v, base.files.size, newFiles.size)
    }
  }

  /** MERGE (upsert) into the snapshot lake with FILE-LEVEL pruning:
    * keep-latest-wins on `versionCol` over full `keyCols` tuples, but only
    * the data files whose `pruneKey` footer envelope overlaps the updates'
    * range are read and rewritten — every other file survives by IDENTITY
    * in the new manifest (not rewritten, not even opened). Sound because
    * a file whose envelope misses the updates' [min, max] of `pruneKey`
    * (one of the key columns) cannot contain any matching key; files with
    * no recorded envelope are conservatively rewritten, so pass
    * `statsCols = Seq(pruneKey, ...)` on appends.
    *
    * Same commit semantics as [[compact]]: the rewrite is staged
    * invisibly, one lock commit publishes it, pinned readers never see a
    * torn state, and concurrent appends ride through the lock-merge
    * (they merge AGAINST the base version — a concurrent append carrying
    * a matching key lands as its own later version, exactly the
    * serialization an optimistic store gives). Returns
    * (newVersion, filesRewritten, filesUntouched).
    */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], versionCol: String, pruneKey: String,
      partitionCols: Seq[String] = Nil,
      lockExpiryMs: Long = DefaultLockExpiryMs,
      evolve: Boolean = false): (Long, Int, Int) =
    mergeOp(spark, root, updates, keyCols, versionCol, Seq(pruneKey),
      partitionCols, lockExpiryMs, op = "merge", evolve = evolve)

  /** [[merge]] with COMPOSITE file-level pruning (round 16): every
    * column in `pruneKeys` (each one of `keyCols`) contributes an
    * independent envelope intersection AND an independent bloom-sidecar
    * probe — a file survives by identity when ANY prune column proves
    * it holds no matching key (its envelope misses the updates' range,
    * or its bloom contains none of the updates' values for that
    * column). Sound because a matching key TUPLE needs every component
    * present in the file. A (symbol, ts)-keyed CDC feed thus prunes on
    * BOTH dimensions instead of ts alone — strictly fewer files opened
    * than either single-column prune, z-order's multi-dimension idea
    * applied to merge pruning.
    */
  def mergeComposite(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], versionCol: String, pruneKeys: Seq[String],
      partitionCols: Seq[String] = Nil,
      lockExpiryMs: Long = DefaultLockExpiryMs,
      evolve: Boolean = false): (Long, Int, Int) =
    mergeOp(spark, root, updates, keyCols, versionCol, pruneKeys,
      partitionCols, lockExpiryMs, op = "merge", evolve = evolve)

  private def mergeOp(spark: SparkSession, root: String, rawUpdates: DataFrame,
      keyCols: Seq[String], versionCol: String, pruneKeys: Seq[String],
      partitionCols: Seq[String], lockExpiryMs: Long,
      op: String, evolve: Boolean = false): (Long, Int, Int) = {
    require(pruneKeys.nonEmpty && pruneKeys.forall(keyCols.contains),
      s"pruneKeys ${pruneKeys.mkString(",")} must be non-empty and each " +
        s"one of keyCols ${keyCols.mkString(",")}")
    retryOnConflict(spark, root, op) { () =>
      val head0 = manifest(spark, root, None)
      // MERGE schema evolution (round 16, library/streaming twin of the
      // SQL MERGE's AUTOMATIC_SCHEMA_EVOLUTION): with evolve=true a
      // widen-only drift (updates carry every lake column plus new
      // ones) lands as ONE metadata-only evolve commit — appendOp's
      // exact machinery — and the merge proceeds under the widened
      // head; old files read NULL for the new columns, mor sidecars
      // unaffected. A streaming CDC mirror whose upstream widened rides
      // through instead of stopping for a hand-evolve.
      val base =
        if (schemasCompatible(head0.schema, rawUpdates.schema) || !evolve)
          head0
        else {
          val (widened, o) =
            widenedWithIds(head0, unionSchema(head0.schema, rawUpdates.schema))
          if (widened == head0.schema) head0
          else {
            commit(spark, root, "evolve", widened,
              build = h => {
                requireSchemaIntact(head0.schema, h, op, root)
                h.map(_.files).getOrElse(Nil)
              },
              lockExpiryMs, props = o.map(head0.props ++ _))
            manifest(spark, root, None)
          }
        }
      // order-align the updates to the (possibly widened) lake schema;
      // a missing or retyped column refuses via unionSchema/the check
      val updates =
        if (schemasCompatible(base.schema, rawUpdates.schema)) rawUpdates
        else {
          require(evolve,
            s"merge schema drift: lake has ${base.schema.simpleString}, " +
              s"updates have ${rawUpdates.schema.simpleString} — pass " +
              "evolve=true to widen (add columns), or migrate explicitly")
          unionSchema(base.schema, rawUpdates.schema) // loud drop/retype check
          rawUpdates.select(base.schema.fieldNames.map(col).toIndexedSeq: _*)
        }
      val fns = org.apache.spark.sql.functions
      // one pass computes every prune column's [min, max] + the count
      val doms = pruneKeys.map(statsDomain(base.schema, _))
      val aggs = doms.flatMap(d => Seq(fns.min(d), fns.max(d))) :+
        fns.count(fns.lit(1))
      val range = updates.agg(aggs.head, aggs.tail: _*).head
      val updCount = range.getLong(2 * pruneKeys.length)
      // per-column envelope; a column whose update values are ALL NULL
      // contributes no constraint (and with a single prune key, the
      // standing no-non-null-keys no-op below)
      val boxes: Seq[(String, Option[(Double, Double)])] =
        pruneKeys.zipWithIndex.map { case (pk, i) =>
          pk -> (if (range.isNullAt(2 * i)) None
                 else Some((toDoubleStat(range.get(2 * i)),
                   toDoubleStat(range.get(2 * i + 1)))))
        }
      if (boxes.forall(_._2.isEmpty)) { // no non-null update keys
        (base.version, 0, base.files.size)
      } else {
        // a file is a candidate only when EVERY boxed prune column's
        // envelope overlaps (missing stats are conservatively kept)
        val box = boxes.collect { case (pk, Some(b)) => pk -> b }.toMap
        val (envKept, envSkipped) = base.files
          .partition(f => ManifestFileIndex.surviving(f.stats, box))
        val (rewrite, untouched) = bloomPrunedMergeCandidates(spark, root,
          updates, pruneKeys, updCount, envKept, envSkipped)
        if (base.props.get("dmlMode").contains("mor")) {
          // a dmlMode=mor lake merges through position-delete sidecars
          // (cost ∝ matched rows, 0 files rewritten) — same route the
          // SQL MERGE takes, so library and streaming merges stop
          // paying the copy-on-write rewrite this lake opted out of
          mergeMorAttempt(spark, root, base, updates, keyCols,
            versionCol, partitionCols, lockExpiryMs, op,
            rewrite, untouched, updCount = updCount)
        } else mergeCowAttempt(spark, root, base, updates, keyCols,
          versionCol, pruneKeys, partitionCols, lockExpiryMs, op,
          rewrite, untouched)
      }
    }
  }

  /** One copy-on-write merge attempt: read the envelope-overlapping
    * files, keep-latest-wins against the updates, rewrite them wholesale.
    */
  private def mergeCowAttempt(spark: SparkSession, root: String,
      base: Manifest, updates: DataFrame, keyCols: Seq[String],
      versionCol: String, pruneKeys: Seq[String], partitionCols: Seq[String],
      lockExpiryMs: Long, op: String,
      rewrite: Seq[FileEntry], untouched: Seq[FileEntry]): (Long, Int, Int) = {
        val cols = base.schema.fields.map(f => col(f.name))
        val fns = org.apache.spark.sql.functions
        val existing = readEntries(spark, root, base, rewrite)
        // keep-latest-wins with the deterministic tie-break (version desc,
        // updates beat lake at equal version, full-row hash stabilizes
        // equal-version update pairs)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(versionCol).desc, col("__src").desc,
            fns.xxhash64(cols.toIndexedSeq: _*).asc)
        val winners = existing.withColumn("__src", fns.lit(0))
          .unionByName(updates.select(cols.toIndexedSeq: _*)
            .withColumn("__src", fns.lit(1)))
          .withColumn("__rn", fns.row_number().over(w))
          .filter(col("__rn") === 1)
          .select(cols.toIndexedSeq: _*)
        val (statsCols, bloomCols) = indexCols(base, partitionCols)
        val newFiles = stageFiles(spark, root,
          attachFieldIds(winners, base.schema), partitionCols,
          statsCols ++ pruneKeys, bloomCols)
        val v = commitRewrite(spark, root, op, base, replaced = rewrite,
          guarded = Nil, added = newFiles, lockExpiryMs = lockExpiryMs)
        (v, rewrite.size, untouched.size)
  }

  /** One MERGE-ON-READ merge attempt: the keep-latest semantics of
    * [[merge]] landed as position-delete sidecars + insert files, NO
    * data file rewritten (the library/streaming twin of the SQL MERGE's
    * [[SnapshotDeltaWrite]]; a lake opts in with `dmlMode = 'mor'`).
    * [[morClassify]] decides each collapsed update winner PER KEY
    * against the newest lake version of that key, from one column-pruned
    * pass over the candidates: a winner at or above it deletes every
    * lake position of the key and inserts (updates win ties); one below
    * it is dropped whole. So a losing winner leaves duplicate lake
    * versions that plain appends stacked in place, where cow's rewrite
    * collapses them; [[merge]]'s key discipline (keyCols unique per
    * version) makes that case vacuous. Deletes and
    * inserts are then ONE write query, staged and committed as the SQL
    * delta write's are: a [[SnapshotStageTable]] hands rows tagged like
    * Spark's row-delta rows to [[SnapshotDeltaWriterFactory]]'s task
    * writers, and [[SnapshotStagedWrite.commitDelta]] stacks the
    * sidecars onto the candidates it guards and adds the inserts. The
    * delete rows are hash-partitioned by data file, so each file's
    * positions reach one task and a merge stacks at most one sidecar on
    * it. Returns (version, filesGainingDeletes, filesUntouched).
    */
  private def mergeMorAttempt(spark: SparkSession, root: String,
      base: Manifest, updates: DataFrame, keyCols: Seq[String],
      versionCol: String, partitionCols: Seq[String],
      lockExpiryMs: Long, op: String,
      candidates: Seq[FileEntry], untouched: Seq[FileEntry],
      updCount: Long): (Long, Int, Int) = {
    val fns = org.apache.spark.sql.functions
    val cols = base.schema.fields.map(f => col(f.name))
    // collapse in-batch duplicate keys: keep-latest with the cow path's
    // tie-break (version desc, then the lowest full-row hash: `~hash`
    // reverses its order). An aggregate, not a window, so every consumer
    // reads the same whole-row exchange
    val winners = updates
      .groupBy(keyCols.map(col): _*)
      .agg(fns.max_by(fns.struct(cols.toIndexedSeq: _*),
        fns.struct(col(versionCol), fns.bitwise_not(
          fns.xxhash64(cols.toIndexedSeq: _*)))).as("__w"))
      .select(base.schema.fieldNames.map(n => col("__w").getField(n).as(n))
        .toIndexedSeq: _*)
    // ONE pass over the candidates, pruned to key + version + row id —
    // parquet reads only those columns, pending deletes already applied
    val lakeKeys = readEntriesTagged(spark, root, base, candidates)
      .select(keyCols.map(col) ++ Seq(col(versionCol).as("__lv"),
        col("__rel"), col("__pos")): _*)
    val (_, deletes, inserts) = morClassify(winners, lakeKeys,
      keyCols, versionCol,
      broadcastWinners = updCount <= 4L * 1000 * 1000)
    // (op, rel, pos, row...): the union takes its names from the deletes
    val rows = deletes.repartition(col("file")).select(
      (fns.lit(RowDeltaUtils.DELETE_OPERATION).as("__op") +:
        col("file").as("__file") +: col("pos").as("__pos") +:
        base.schema.fields.map(f => fns.lit(null).cast(f.dataType).as(f.name)))
        .toIndexedSeq: _*)
      .union(inserts.select((fns.lit(RowDeltaUtils.INSERT_OPERATION) +:
        fns.lit(null).cast("string") +: fns.lit(null).cast("long") +:
        cols).toIndexedSeq: _*))
    val (statsCols, bloomCols) = indexCols(base, partitionCols)
    var committed = (base.version, 0)
    writeStage(rows, new SnapshotStageTable(spark, root, rows.schema,
        base.schema, partitionCols) {
      // inserts are written under the lake schema's names and field ids,
      // every column optional (as the frame's)
      protected val writers: DataWriterFactory =
        new SnapshotDeltaWriterFactory(routingWriters(
          WriteBridge.nullable(base.schema), partitionCols, statsCols,
          bloomCols, base.props), parquetFactory(SnapshotMor.DeleteSchema))
      def commit(messages: Array[WriterCommitMessage]): Unit =
        committed = committing(commitDelta(messages, base, op, candidates,
          lockExpiryMs))
    })
    (committed._1, committed._2, untouched.size)
  }

  /** The MOR merge's classification plan — the seam WritePlanSpec pins.
    * Given the collapsed update `winners` (unique per key, full lake
    * schema) and the candidates' column-pruned `lakeKeys`
    * (key..., __lv = lake version, __rel, __pos):
    *
    *   - `matched` = lakeKeys INNER-joined to the winners' KEY-ONLY
    *     projection (key..., __uv). With `broadcastWinners` the slim
    *     side carries an explicit broadcast hint — legal for an inner
    *     join (BuildRight), so the plan is a BroadcastHashJoin that
    *     STREAMS the candidate files once with no lake-side shuffle.
    *     (Round 15 hinted the preserved side of a right_outer, which
    *     Spark cannot build — the hint was silently dropped and every
    *     merge/micro-batch sort-merge-shuffled the candidate key set.)
    *   - `classified` = matched + `__lvmax` = max(__lv) per key (the
    *     window's exchange is over MATCHED rows only — O(lake rows of
    *     updated keys), never the candidate scan).
    *   - `deletes` = every (__rel, __pos) of keys the winner beats
    *     (__uv >= __lvmax: updates win ties).
    *   - `inserts` = winners anti-joined against the LOSING matched
    *     keys (__uv < __lvmax) — unmatched new keys and winning updates
    *     in one pass; the anti side is <= |winners| key-only rows, so
    *     it broadcasts under the same gate.
    *
    * Returns (classified, deletes, inserts); deletes and the anti side
    * both read `classified`, each pruned to the columns it needs (the
    * anti side's scan reads no row positions). NULL join keys
    * never match (standard SQL equality), so a NULL-keyed winner
    * inserts — same as every round since 14; cow's window groups NULLs,
    * the documented divergence for lakes violating key discipline.
    */
  private[graft] def morClassify(winners: DataFrame, lakeKeys: DataFrame,
      keyCols: Seq[String], versionCol: String, broadcastWinners: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val fns = org.apache.spark.sql.functions
    val slim = winners.select(keyCols.map(col) :+
      col(versionCol).as("__uv"): _*)
    val matched = lakeKeys.join(
      if (broadcastWinners) fns.broadcast(slim) else slim, keyCols, "inner")
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val classified = matched
      .withColumn("__lvmax", fns.max(col("__lv")).over(wK))
    val deletes = classified.filter(col("__uv") >= col("__lvmax"))
      .select(col("__rel").as("file"), col("__pos").as("pos"))
    val losing = classified.filter(col("__uv") < col("__lvmax"))
      .select(keyCols.map(col): _*).distinct()
    val inserts = winners.join(
      if (broadcastWinners) fns.broadcast(losing) else losing,
      keyCols, "left_anti")
    (classified, deletes, inserts)
  }

  /** Bloom refinement of a merge's candidate set, applied after envelope
    * pruning: when the update-key set is SMALL (a CDC micro-batch, a
    * keyed backfill) and candidate files carry bloom sidecars for the
    * prune key, probe each file — a bloom miss proves the file holds NO
    * update key, so it survives by identity, unread and unwritten. The
    * regime this exists for is sn3's: hash-scattered keys in
    * ingest-ordered files, where every file's min/max spans the whole
    * domain and envelope pruning keeps everything — a 10-key MERGE
    * against 1000 such files then opens ~the files that actually hold
    * those keys instead of the lake. Sound (blooms have no false
    * negatives); skipped entirely for large batches (collecting the key
    * set must stay trivial), files without sidecars are conservatively
    * kept, and any NULL or non-primitive key disables the refinement
    * (NULL-key semantics stay exactly the unpruned path's). Probes are
    * bounded driver reads, overlapped like [[pointCandidates]]'.
    */
  private val MaxMergeProbeKeys = 100000L

  private def bloomPrunedMergeCandidates(spark: SparkSession, root: String,
      updates: DataFrame, pruneKeys: Seq[String], updCount: Long,
      envKept: Seq[FileEntry], envSkipped: Seq[FileEntry])
      : (Seq[FileEntry], Seq[FileEntry]) = {
    if (updCount > MaxMergeProbeKeys ||
        !envKept.exists(f => pruneKeys.exists(f.bloomCols.contains)))
      return (envKept, envSkipped)
    // per-column distinct update values, ONE collect per probed column;
    // a column carrying NULL or non-primitive values cannot refine (its
    // probe is skipped — null-key semantics stay the unpruned path's),
    // the others still do: with composite keys every column's probe
    // must might-contain, because a matching TUPLE needs every
    // component present in the file
    val keysByCol: Seq[(String, Array[Any])] = pruneKeys.flatMap { pk =>
      val ks = updates.select(col(pk)).distinct().collect().map(_.get(0))
      if (ks.exists(k => k == null ||
          !(k.isInstanceOf[String] || k.isInstanceOf[java.lang.Number])))
        None
      else Some(pk -> ks)
    }
    if (keysByCol.isEmpty) return (envKept, envSkipped)
    val fs = fsOf(spark, root)
    val probed = graft.Concurrent.all(spark)(envKept.map { f =>
      () => f -> keysByCol.forall { case (pk, keys) =>
        !f.bloomCols.contains(pk) ||
          loadBloom(fs, root, f.rel, pk)
            .forall(bf => keys.exists(BloomSidecars.hit(bf, _)))
      }
    })
    val (kept, skipped) = probed.partition(_._2)
    (kept.map(_._1), envSkipped ++ skipped.map(_._1))
  }

  private[sinks] def toDoubleStat(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case other => throw new IllegalArgumentException(
      s"pruneKey stats domain must be numeric, got $other")
  }

  /** DELETE rows matching `predicate`, with the same file-level pruning
    * discipline as [[merge]] done from the predicate itself: only files
    * whose `pruneBox` envelope overlaps (or that lack stats) are read and
    * rewritten without the matching rows; every other file survives by
    * identity — a GDPR-scale delete touches the files that CAN contain
    * the subject, not the lake. Pass the tightest `pruneBox` implied by
    * the predicate (callers know; an empty box rewrites everything that
    * the predicate might touch = all files). Returns
    * (newVersion, rowsDeleted, filesRewritten, filesUntouched).
    */
  def delete(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      pruneBox: Map[String, (Double, Double)] = Map.empty,
      partitionCols: Seq[String] = Nil,
      lockExpiryMs: Long = DefaultLockExpiryMs): (Long, Long, Int, Int) =
    retryOnConflict(spark, root, "delete") { () =>
      val base = manifest(spark, root, None)
      val (rewrite, untouched) = base.files
        .partition(f => ManifestFileIndex.surviving(f.stats, pruneBox))
      if (rewrite.isEmpty) (base.version, 0L, 0, untouched.size)
      else {
        val fns = org.apache.spark.sql.functions
        val touched = readEntries(spark, root, base, rewrite)
        val hit = fns.coalesce(predicate, fns.lit(false)) // NULL pred = keep
        // the matched-row count is OBSERVED on the rewrite's own stage
        // write instead of a separate count pass over the touched files
        // (one job per delete instead of two). A no-op delete (nothing
        // matched) is only known after staging — its identical staged
        // files are swept here and no version is published, preserving
        // the no-empty-diff contract at the price of one wasted write on
        // the rare no-op, in exchange for halving every real delete.
        val obs = org.apache.spark.sql.Observation(s"delete-${newToken()}")
        val keep = touched
          .observe(obs, fns.count(fns.when(hit, fns.lit(1))).as("deleted"))
          .filter(!hit)
        val (statsCols, bloomCols) = indexCols(base, partitionCols)
        val newFiles = stageFiles(spark, root,
          attachFieldIds(keep, base.schema), partitionCols, statsCols,
          bloomCols)
        val deleted = obs.get("deleted").asInstanceOf[Long]
        if (deleted == 0) {
          reclaim(spark, root, newFiles)
          (base.version, 0L, 0, untouched.size)
        } else {
          val v = commitRewrite(spark, root, "delete", base,
            replaced = rewrite, guarded = Nil, added = newFiles,
            lockExpiryMs = lockExpiryMs)
          (v, deleted, rewrite.size, untouched.size)
        }
      }
    }

  /** Hive partition values of a lake-relative file path, unescaped the
    * way Spark escapes them at write time (`sym=a%2Fb/part-...`).
    */
  private[sinks] def partitionValuesOf(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).takeWhile(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      seg.take(i) -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.drop(i + 1))
    }.toMap

  /** ATOMIC filtered overwrite — Delta's `replaceWhere`, and the landing
    * for SQL static-partition / filtered `INSERT OVERWRITE`: in ONE
    * commit, every current row matching `predicate` is removed and `df`'s
    * rows are added; a crash leaves either the old or the new state,
    * never a deleted-but-not-yet-inserted window (the two-commit
    * delete+append shape this replaces). File-level pruning composes two
    * SOUND skips: files whose `pruneBox` envelope misses the predicate's
    * range cannot contain matches, and files whose hive partition values
    * are excluded by `partitionValues` (column → admitted values, e.g.
    * from a static `PARTITION (sym='a')` clause) cannot either — every
    * skipped file survives by IDENTITY, unread and unwritten.
    *
    * `validate = true` (one extra job) refuses a frame carrying rows the
    * predicate does NOT match — such rows would land OUTSIDE the
    * overwritten region, the classic silent replaceWhere corruption
    * Delta also refuses. Returns (version, rowsDeleted, filesRewritten,
    * filesUntouched).
    */
  def replaceWhere(spark: SparkSession, root: String, df: DataFrame,
      predicate: org.apache.spark.sql.Column,
      pruneBox: Map[String, (Double, Double)] = Map.empty,
      partitionValues: Map[String, Set[String]] = Map.empty,
      partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      validate: Boolean = true,
      lockExpiryMs: Long = DefaultLockExpiryMs): (Long, Long, Int, Int) =
    retryOnConflict(spark, root, "replacewhere") { () =>
      val base = manifest(spark, root, None)
      require(schemasCompatible(base.schema, df.schema),
        s"replaceWhere schema drift: lake has ${base.schema.simpleString}, " +
          s"frame has ${df.schema.simpleString}")
      val fns = org.apache.spark.sql.functions
      val hit = fns.coalesce(predicate, fns.lit(false)) // NULL pred = keep
      if (validate) {
        val stray = df.filter(!hit).limit(1).count()
        require(stray == 0,
          "replaceWhere: the incoming frame has rows the overwrite " +
            "predicate does not match — they would land OUTSIDE the " +
            "overwritten region; fix the predicate or the frame " +
            "(validate=false to override)")
      }
      val (rewrite, untouched) = base.files.partition(f =>
        ManifestFileIndex.surviving(f, pruneBox, partitionValues))
      val (keep, deleted) =
        if (rewrite.isEmpty)
          (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], base.schema), 0L)
        else {
          val touched = readEntries(spark, root, base, rewrite)
          (touched.filter(!hit), touched.filter(hit).count())
        }
      val (indexStats, bloomCols) = indexCols(base, partitionCols)
      val newFiles = stageFiles(spark, root,
        attachFieldIds(
          keep.unionByName(df.select(base.schema.fieldNames.map(col): _*)),
          base.schema),
        partitionCols, indexStats ++ statsCols, bloomCols)
      val v = commitRewrite(spark, root, "replacewhere", base,
        replaced = rewrite, guarded = Nil, added = newFiles,
        lockExpiryMs = lockExpiryMs)
      (v, deleted, rewrite.size, untouched.size)
    }

  /** Roll the lake back: commit a new version whose file list is exactly
    * `toVersion`'s — history is preserved (nothing rewritten, nothing
    * deleted; the bad versions stay inspectable until vacuum), readers
    * simply resume at the restored content. The snapshot-store answer to
    * "the last three ingests were poison".
    */
  def restore(spark: SparkSession, root: String, toVersion: Long,
      lockExpiryMs: Long = DefaultLockExpiryMs): Long = {
    val target = manifest(spark, root, Some(toVersion))
    commit(spark, root, s"restore:v$toVersion", target.schema,
      build = _ => target.files, lockExpiryMs)
  }

  /** Delete data files unreferenced by the newest `retainLast` manifests,
    * drop older manifests, and sweep dead stage dirs. After vacuum,
    * reads pinned at dropped versions fail LOUDLY in [[manifest]]
    * ("vacuumed?") — the retention contract every snapshot store has.
    * Returns (dataFilesDeleted, manifestsDropped).
    */
  def vacuum(spark: SparkSession, root: String, retainLast: Int = 2,
      staleStageMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val fs = fsOf(spark, root)
    val all = versions(spark, root)
    require(all.nonEmpty, s"nothing to vacuum under $root")
    val (drop, keep) = all.splitAt(math.max(0, all.size - retainLast))
    val referenced = keep.flatMap(v =>
      manifest(spark, root, Some(v)).files.map(_.rel)).toSet
    // files referenced by NO manifest at all (vs merely by a dropped
    // one) may belong to an IN-FLIGHT commit: a racing writer moves its
    // staged data / delete sidecars into place BEFORE publishing its
    // manifest, so never-referenced-but-recent files get the same
    // staleStageMs age grace as stage dirs — deleting them would make
    // the racing commit publish references to missing files
    val known = all.map(v => manifest(spark, root, Some(v)))
    val knownData = known.flatMap(_.files.map(_.rel)).toSet
    val now = System.currentTimeMillis
    def sweepable(inSomeManifest: Boolean,
        st: org.apache.hadoop.fs.FileStatus): Boolean =
      inSomeManifest || now - st.getModificationTime > staleStageMs
    val dd = dataDir(root)
    var deleted = 0
    def sweep(dir: Path, rel: String): Boolean = { // returns "now empty"
      var empty = true
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (sweep(st.getPath, s"$rel$name/")) fs.delete(st.getPath, false)
          else empty = false
        } else if (!referenced.contains(s"$rel$name") &&
            sweepable(knownData.contains(s"$rel$name"), st)) {
          fs.delete(st.getPath, false); deleted += 1
        } else empty = false
      }
      empty
    }
    if (fs.exists(dd)) sweep(dd, "")
    // bloom sidecars live exactly as long as some retained manifest
    // references (file, column); everything else — dead files' sidecars,
    // crashed writers' tmp litter — goes with them
    val liveBlooms = keep.flatMap(v =>
      manifest(spark, root, Some(v)).files.flatMap(f =>
        f.bloomCols.map(c => s"${f.rel}.$c.bloom"))).toSet
    val knownBlooms = known.flatMap(_.files.flatMap(f =>
      f.bloomCols.map(c => s"${f.rel}.$c.bloom"))).toSet
    val bd = bloomsDir(root)
    def sweepBlooms(dir: Path, rel: String): Boolean = {
      var empty = true
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (sweepBlooms(st.getPath, s"$rel$name/")) fs.delete(st.getPath, false)
          else empty = false
        } else if (!liveBlooms.contains(s"$rel$name") &&
            sweepable(knownBlooms.contains(s"$rel$name"), st)) {
          fs.delete(st.getPath, false)
        } else empty = false
      }
      empty
    }
    if (fs.exists(bd)) sweepBlooms(bd, "")
    // position-delete sidecars live exactly as long as some retained
    // manifest entry references them; a compact/rewrite that absorbed
    // them leaves them unreferenced — swept here with their manifests.
    // Never-referenced sidecars get the age grace: a racing MOR commit
    // moves its sidecars under _deletes/ BEFORE publishing its manifest
    val liveDeletes = keep.flatMap(v =>
      manifest(spark, root, Some(v)).files.flatMap(_.deletes)).toSet
    val knownDeletes = known.flatMap(_.files.flatMap(_.deletes)).toSet
    val deld = deletesDir(root)
    def sweepDeletes(dir: Path, rel: String): Boolean = {
      var empty = true
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (sweepDeletes(st.getPath, s"$rel$name/")) fs.delete(st.getPath, false)
          else empty = false
        } else if (!liveDeletes.contains(s"$rel$name") &&
            sweepable(knownDeletes.contains(s"$rel$name"), st)) {
          fs.delete(st.getPath, false)
        } else empty = false
      }
      empty
    }
    if (fs.exists(deld)) sweepDeletes(deld, "")
    drop.foreach(v =>
      fs.delete(new Path(manifestDir(root), manifestName(v)), false))
    // cached parses of the dropped versions must go with them so pinned
    // reads keep failing loudly ("vacuumed?") instead of silently serving
    // a manifest whose data files are gone
    invalidateManifestCache(root)
    // stage dirs old enough to be crashed writers (a LIVE append's stage
    // is younger than staleStageMs — never touched), manifest tmp litter,
    // and locks whose version already published or can never publish
    // (<= head: density means that number is consumed)
    fs.listStatus(new Path(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage-") &&
        System.currentTimeMillis - s.getModificationTime > staleStageMs)
      .foreach(s => fs.delete(s.getPath, true))
    val headV = keep.last
    fs.listStatus(manifestDir(root)).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(".tmp-")) fs.delete(s.getPath, false)
      else if (n.endsWith(".lock") &&
          n.stripPrefix("v").stripSuffix(".lock").toLong <= headV)
        fs.delete(s.getPath, false)
    }
    (deleted, drop.size)
  }

  /** Incremental read: exactly the rows appended after `sinceVersion` —
    * the manifest diff of each append against its parent, unioned. The
    * feed a training pipeline tails ("process only the new documents")
    * without any change-tracking column or full-lake diff: file lists ARE
    * the change log for append-only lakes. Refuses loudly if a
    * non-append op (compact/merge/delete/restore) intervened — those
    * rewrite or remove rows, so file provenance no longer equals row
    * provenance and the caller must fall back to a full read (or diff
    * two pinned versions). A vacuumed `sinceVersion` also fails loudly
    * in [[manifest]] — retention must cover the consumer's lag, the same
    * contract every changelog store has.
    *
    * `toVersion` bounds the diff at a PINNED head (inclusive): a consumer
    * that resolved the head version before computing the diff passes it so
    * appends racing the read are excluded — they belong to the NEXT
    * increment. Defaults to the current latest.
    */
  def appendsSince(spark: SparkSession, root: String,
      sinceVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val w = appendWindow(spark, root, sinceVersion, toVersion)
    readEntries(spark, root, w, w.files)
  }

  /** The manifest-shaped window behind [[appendsSince]] and the SQL
    * `startingVersion`/`endingVersion` read options: a SYNTHETIC
    * manifest whose file list is exactly the files appended in
    * (sinceVersion, toVersion], with the window's newest schema and the
    * TO manifest's props (partition columns, column-mapping flags).
    * Validation is the changelog contract: the window must contain only
    * append / metadata-only versions — anything that rewrites or removes
    * rows breaks file-provenance-equals-row-provenance and refuses
    * loudly, exactly like the library call.
    */
  private[graft] def appendWindow(spark: SparkSession, root: String,
      sinceVersion: Long, toVersion: Option[Long] = None): Manifest = {
    val head = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $root"))
    val hi = toVersion.getOrElse(head)
    require(hi <= head,
      s"toVersion $hi is ahead of the lake (latest $head)")
    require(sinceVersion >= 0 && sinceVersion <= hi,
      s"sinceVersion $sinceVersion must be in [0, $hi] (0 = genesis: " +
        "every version from the first commit)")
    val newer = versions(spark, root).filter(v => v > sinceVersion && v <= hi)
      .map(v => manifest(spark, root, Some(v)))
    // restat/evolve/upgradefieldids are metadata-only (identical file
    // set; enriched entries / widened or id-stamped schema) and create
    // adds no files: file provenance still equals row provenance
    val nonAppend = newer.filterNot(m =>
      m.op.startsWith("append") || m.op == "restat" || m.op == "evolve" ||
        m.op == "create" || m.op == "upgradefieldids")
    require(nonAppend.isEmpty,
      s"appendsSince($sinceVersion) crosses non-append versions " +
        s"${nonAppend.map(m => s"v${m.version}=${m.op}").mkString(", ")} — " +
        "file provenance no longer equals row provenance; read a pinned " +
        "version instead")
    // sinceVersion 0 = genesis: the base file set is empty by definition
    // (version numbers start at 1), so every file of every append in the
    // window is "added" — the SQL startingVersion=1 read lands here
    val baseFiles =
      if (sinceVersion == 0L) Nil
      else manifest(spark, root, Some(sinceVersion)).files
    val since = baseFiles.map(_.rel).toSet
    val addedRels = newer.flatMap(_.files.map(_.rel)).toSet -- since
    val last = newer.lastOption.getOrElse(manifest(spark, root,
      Some(sinceVersion)))
    // entries come from the WINDOW-NEWEST manifest (append-only windows
    // accumulate, so every added file is in it): they carry the current
    // metadata — in particular the idless flag a mid-window
    // upgradeFieldIds stamped, without which pre-migration files would
    // be read by ids they do not carry
    val added = last.files.filter(f => addedRels(f.rel))
    Manifest(hi, sinceVersion, "changes", last.schema, added, last.props)
  }

  /** Row-level change feed between two pinned versions — CDC from the
    * manifest, not from the data: files common to both manifests are
    * IDENTICAL bytes on both sides, so only the files removed since
    * `fromVersion` (old side) and added by `toVersion` (new side) are read
    * and key-joined; a compact that rewrote 10 TB into the same rows still
    * diffs as zero changes by reading just the rewritten slice, and an
    * incremental merge diffs in time ∝ files it touched. This is the diff
    * path [[appendsSince]] points non-append histories at.
    *
    * Soundness contract: `keyCols` must be unique per version (the
    * [[merge]]/[[delete]] key discipline). Then a key living in a common
    * file is bit-identical in both versions (no CDC row), and every other
    * key appears on exactly the sides that changed it — the join of the
    * two non-common slices classifies completely:
    *
    *   - `insert`: key only on the new side (row = new values)
    *   - `delete`: key only on the old side (row = last values it had)
    *   - `update`: key on both sides with any non-key difference
    *     (row = new values); bit-identical rows produce NO change row
    *     (they were merely rewritten into different files).
    *
    * Schema evolution is handled by reading the old side with the TO
    * version's (widened) schema — added columns read as NULL on the old
    * side, so a backfill shows up as updates, which it is.
    */
  def diff(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame = {
    require(fromVersion <= toVersion,
      s"diff wants fromVersion <= toVersion, got $fromVersion > $toVersion")
    val mF = manifest(spark, root, Some(fromVersion))
    val mT = manifest(spark, root, Some(toVersion))
    requireFieldIdReads(spark, mT)
    val fTypes = mF.schema.fields.map(f => f.name -> f.dataType).toMap
    val tTypes = mT.schema.fields.map(f => f.name -> f.dataType).toMap
    fTypes.foreach { case (n, t) =>
      require(tTypes.get(n).contains(t),
        s"diff across a non-widening schema change: $n is $t at v$fromVersion, " +
          s"${tTypes.get(n).getOrElse("absent")} at v$toVersion")
    }
    keyCols.foreach(k => require(tTypes.contains(k),
      s"key column $k not in snapshot schema ${mT.schema.simpleString}"))
    // a file is "common" (identical on both sides, no CDC rows possible)
    // only when its rel AND its position-delete set match: a delta DML
    // that added deletes to a shared file changes its VISIBLE rows while
    // the rel stays put — such a file must be read on both sides, each
    // with its own delete set, so the removed rows classify as deletes
    def key(f: FileEntry): (String, Seq[String]) = (f.rel, f.deletes.sorted)
    val common = mF.files.map(key).toSet intersect mT.files.map(key).toSet
    def side(files: Seq[FileEntry]): DataFrame =
      readEntries(spark, root, mT, files)
    // a window CROSSING upgradeFieldIds: the FROM manifest predates the
    // idless flags, but an id-less mF.schema proves every old-side file
    // predates the migration — stamp the flag so the read resolves them
    // by the name mapping instead of ids they do not carry
    val crossesMigration =
      !schemaHasFieldIds(mF.schema) && schemaHasFieldIds(mT.schema)
    def flagged(files: Seq[FileEntry]): Seq[FileEntry] =
      if (!crossesMigration) files else files.map(_.copy(idless = true))
    val oldSide = side(flagged(mF.files.filterNot(f => common(key(f)))))
    val newSide = side(mT.files.filterNot(f => common(key(f))))
    val dataCols = mT.schema.fieldNames.filterNot(keyCols.contains).toSeq
    val fns = org.apache.spark.sql.functions
    val oldR = oldSide.select(keyCols.map(col) ++
      dataCols.map(c => col(c).as(s"__old_$c")) :+
      fns.lit(1).as("__in_old"): _*)
    val newR = newSide.withColumn("__in_new", fns.lit(1))
    val joined = newR.join(oldR, keyCols, "full_outer")
    val changed = dataCols.map(c => !(col(c) <=> col(s"__old_$c")))
      .reduceOption(_ || _).getOrElse(fns.lit(false))
    val change = fns.when(col("__in_old").isNull, "insert")
      .when(col("__in_new").isNull, "delete")
      .when(changed, "update")
    joined.withColumn("change", change).filter(col("change").isNotNull)
      .select(col("change") +: keyCols.map(col) ++: dataCols.map(c =>
        fns.when(col("change") === "delete", col(s"__old_$c"))
          .otherwise(col(c)).as(c)): _*)
  }

  // ------------------------------------------------------------- streaming

  private val StreamOpRe = raw"(?:append|merge):stream=([^,]*),batch=(\d+)".r

  /** Highest micro-batch id `streamId` has committed (scans manifests
    * newest-first, stops at the first match — replays only ever re-deliver
    * the tail, so this is O(1) manifests in steady state).
    */
  def lastCommittedBatch(spark: SparkSession, root: String,
      streamId: String): Option[Long] =
    versions(spark, root).reverseIterator.map(v =>
      manifest(spark, root, Some(v)).op).collectFirst {
      case StreamOpRe(sid, bid) if sid == streamId => bid.toLong
    }

  /** Exactly-once streaming ingest: a `foreachBatch` handler that appends
    * each micro-batch as a snapshot version with the (streamId, batchId)
    * recorded in the manifest op. foreachBatch is at-least-once — after a
    * crash between lake commit and checkpoint commit, Spark re-delivers
    * the batch — so the handler SKIPS any batchId at or below the stream's
    * last committed one, making lake contents exactly-once. Batch ids are
    * consumed monotonically per stream (Structured Streaming's contract).
    *
    * Usage: `ds.writeStream.foreachBatch(SnapshotLake.appendStream(root)).
    * ...start()`. Retention caveat: `vacuum` must retain at least the
    * versions committed since the last checkpoint (retainLast >= 2 covers
    * the standard one-batch replay window).
    */
  def appendStream(root: String, partitionCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, streamId: String = "s0",
      lockExpiryMs: Long = DefaultLockExpiryMs,
      bloomCols: Seq[String] = Nil)
      : (DataFrame, Long) => Unit = { (df, batchId) =>
    val spark = df.sparkSession
    val replay = lastCommittedBatch(spark, root, streamId).exists(_ >= batchId)
    if (!replay) {
      appendOp(spark, root, df, partitionCols, statsCols, evolve = false,
        op = s"append:stream=$streamId,batch=$batchId", lockExpiryMs, bloomCols)
    }
  }

  /** Exactly-once streaming UPSERT: a `foreachBatch` handler that MERGEs
    * each micro-batch into the snapshot lake (keep-latest on `versionCol`
    * over `keyCols`, file-level envelope pruning on `pruneKey` — the full
    * [[merge]] semantics), idempotent across foreachBatch's at-least-once
    * replays by the same (streamId, batchId) manifest-op discipline as
    * [[appendStream]]. This is the CDC-consumer shape: a change stream
    * (e.g. [[graft.streaming.StreamSnapshotSource]] tailing another lake,
    * or a dedup'd kline feed) maintains a keyed MATERIALIZED table with
    * exactly-once effects, while pinned readers of the target never see a
    * torn batch.
    *
    * Each micro-batch is one merge commit: rows whose keys exist are
    * replaced when the batch carries a >= `versionCol` (updates beat the
    * lake at equal version), new keys insert, untouched files survive by
    * identity. Late/duplicate rows WITHIN a batch collapse through
    * merge's deterministic tie-break. Batch ids are consumed monotonically
    * per stream; a replayed batch id is skipped whole.
    */
  def mergeStream(root: String, keyCols: Seq[String], versionCol: String,
      pruneKey: String, partitionCols: Seq[String] = Nil,
      streamId: String = "s0",
      lockExpiryMs: Long = DefaultLockExpiryMs,
      evolve: Boolean = false)
      : (DataFrame, Long) => Unit =
    mergeStreamComposite(root, keyCols, versionCol, Seq(pruneKey),
      partitionCols, streamId, lockExpiryMs, evolve)

  /** [[mergeStream]] with [[mergeComposite]]'s multi-column pruning —
    * the (symbol, ts)-keyed CDC-feed shape — and an optional
    * MAINTENANCE POLICY (round 16, the streaming analog of the
    * reference's TimescaleDB compression policy): with
    * `autoCompactSidecars = N > 0`, a merge-on-read lake compacts
    * itself right after any batch that leaves a file with >= N stacked
    * delete sidecars, bounding the read tax a long-running mirror
    * accrues without an operator in the loop. The compact is its own
    * commit AFTER the batch-marked merge, so exactly-once is untouched:
    * a replayed batch skips both; a crash between merge and compact
    * just defers the compaction to the next threshold crossing.
    */
  def mergeStreamComposite(root: String, keyCols: Seq[String],
      versionCol: String, pruneKeys: Seq[String],
      partitionCols: Seq[String] = Nil,
      streamId: String = "s0",
      lockExpiryMs: Long = DefaultLockExpiryMs,
      evolve: Boolean = false,
      autoCompactSidecars: Int = 0)
      : (DataFrame, Long) => Unit = { (df, batchId) =>
    val spark = df.sparkSession
    val replay = lastCommittedBatch(spark, root, streamId).exists(_ >= batchId)
    if (!replay) {
      // first batch on a fresh root: commit an empty base version so the
      // batch lands THROUGH merge (whose keep-latest window also collapses
      // duplicate keys within the batch itself). Crash between the two
      // commits re-runs both — the extra empty append is a harmless no-op
      // version; only the merge commit carries the batch marker.
      if (latestVersion(spark, root).isEmpty) {
        appendOp(spark, root, df.limit(0), partitionCols,
          statsCols = pruneKeys, evolve = false, op = "append",
          lockExpiryMs)
      }
      mergeOp(spark, root, df, keyCols, versionCol, pruneKeys, partitionCols,
        lockExpiryMs, op = s"merge:stream=$streamId,batch=$batchId",
        evolve = evolve)
      if (autoCompactSidecars > 0 &&
          manifest(spark, root, None).files
            .exists(_.deletes.size >= autoCompactSidecars)) {
        compact(spark, root, partitionCols, lockExpiryMs = lockExpiryMs)
      }
    }
  }
}
