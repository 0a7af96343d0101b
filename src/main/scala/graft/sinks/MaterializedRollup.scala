package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Incrementally-maintained rollup over a [[SnapshotLake]] — the
  * reference's TimescaleDB continuous aggregate (timescaledb_schema.sql:
  * 49-66, hourly OHLCV refreshed with a lag) re-expressed at lake scale:
  * the aggregate TABLE is itself a snapshot lake, and each refresh folds in
  * ONLY the rows appended to the base lake since the last refresh, touching
  * only the aggregate files whose key envelopes overlap the delta.
  *
  * Why this shape at 100 TB: a full `GROUP BY` recompute re-reads the
  * corpus every refresh (cost ∝ lake size); this refresh costs
  * ∝ delta size + overlapping aggregate files. The two pieces that make it
  * sound:
  *
  *  - **Associative state, not finals.** The aggregate lake stores
  *    combinable partials — DECIMAL(38,10) sums (exact, order-independent —
  *    the `exactSum` discipline), min/max, counts, and arg-extremes as
  *    (order, value) pairs — so `combine(state ∪ lift(delta))` equals
  *    `lift(base ∪ delta)` EXACTLY, not approximately. Finals (double sums,
  *    averages) are derived at read time by [[finals]].
  *  - **Provenance from the manifest log.** The delta is the
  *    [[SnapshotLake.appendWindow]] bounded at a pinned base head: file
  *    lists are the change log (and their envelopes and row counts size
  *    the refresh), appends racing the refresh fall into the
  *    next increment, and a non-append base op (compact/merge/delete)
  *    fails the incremental path LOUDLY — [[fullRefresh]] is the documented
  *    fallback (and re-anchors the incremental chain).
  *
  * Refresh bookkeeping rides the aggregate lake's own manifests (op field
  * `mv:base=<v>`), so the MV needs no side-channel state and time travel /
  * restore / vacuum apply to it unchanged. Concurrent refreshers are
  * serialized by the commit lock; the loser detects the winner's newer
  * base anchor under the lock and aborts instead of double-applying the
  * delta.
  */
object MaterializedRollup {

  /** Declarative aggregate spec. All state columns are combinable:
    *
    *  - `n_rows`             count(*)
    *  - `sum_<c>`            DECIMAL(38,10) sum per `sumCols` (exact)
    *  - `min_<c>` / `max_<c>` per `minCols` / `maxCols`
    *  - `ord_min` / `first_<c>` and `ord_max` / `last_<c>` per
    *    `firstCols` / `lastCols` — value at the extreme of `orderCol`
    *    (epoch micros for timestamp orders). Deterministic when
    *    (keyCols, orderCol) is unique in the base, the same contract the
    *    A1 rollup's `min_by`/`max_by` rests on.
    *
    * `pruneKey` must be one of `keyCols` with a numeric/timestamp stats
    * domain: refreshes prune aggregate files by its footer envelope, the
    * same file-level discipline as [[SnapshotLake.merge]].
    */
  final case class Spec(
      keyCols: Seq[String],
      pruneKey: String,
      sumCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      orderCol: Option[String] = None,
      firstCols: Seq[String] = Nil,
      lastCols: Seq[String] = Nil,
      targetRowsPerFile: Long = 4L * 1000 * 1000,
      distinctCols: Seq[String] = Nil,
      hllP: Int = 12,
      // register-lake files are kept SMALLER than rollup files: register
      // rows ≈ min(per-group distinct, 2^p) per group, so the lake can
      // rival the data in row count, and a refresh whose delta overlaps
      // one boundary bucket still reads a whole file — finer files keep
      // that boundary read proportional to the boundary, not the slice
      regRowsPerFile: Long = 1L * 1000 * 1000) {
    require(keyCols.contains(pruneKey),
      s"pruneKey $pruneKey must be one of keyCols ${keyCols.mkString(",")}")
    require(orderCol.nonEmpty || (firstCols.isEmpty && lastCols.isEmpty),
      "firstCols/lastCols need an orderCol")
  }

  private val Dec = "decimal(38,10)"

  private def ordExpr(df: DataFrame, c: String): Column =
    df.schema.fields.find(_.name == c).map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        unix_micros(col(c).cast(TimestampType))
      case _ => col(c).cast("long")
    }

  /** State-grain column names, in output order. */
  def stateCols(spec: Spec): Seq[String] =
    spec.keyCols ++ Seq("n_rows") ++
      spec.sumCols.map(c => s"sum_$c") ++
      spec.minCols.map(c => s"min_$c") ++ spec.maxCols.map(c => s"max_$c") ++
      (if (spec.firstCols.nonEmpty) Seq("ord_min") else Nil) ++
      spec.firstCols.map(c => s"first_$c") ++
      (if (spec.lastCols.nonEmpty) Seq("ord_max") else Nil) ++
      spec.lastCols.map(c => s"last_$c")

  /** Raw base rows → aggregate state at the key grain: the [[combine]]
    * of one state row per base row, so a refresh can fold the delta's
    * rows and the overlapped MV state in ONE aggregate.
    */
  def lift(df: DataFrame, spec: Spec): DataFrame = combine(rowStates(df, spec), spec)

  /** One state row per raw row (`n_rows` = 1). */
  private def rowStates(df: DataFrame, spec: Spec): DataFrame = {
    val ord = spec.orderCol.map(ordExpr(df, _))
    df.select(spec.keyCols.map(col) ++ Seq(lit(1L).as("n_rows")) ++
      spec.sumCols.map(c => col(c).cast(Dec).as(s"sum_$c")) ++
      spec.minCols.map(c => col(c).as(s"min_$c")) ++
      spec.maxCols.map(c => col(c).as(s"max_$c")) ++
      (if (spec.firstCols.nonEmpty) Seq(ord.get.as("ord_min")) else Nil) ++
      spec.firstCols.map(c => col(c).as(s"first_$c")) ++
      (if (spec.lastCols.nonEmpty) Seq(ord.get.as("ord_max")) else Nil) ++
      spec.lastCols.map(c => col(c).as(s"last_$c")): _*)
  }

  /** State rows → state rows at the same grain (associative fold: partials
    * for the same key merge exactly — decimal sums add, extremes compare,
    * arg-extremes ride their recorded order).
    */
  def combine(states: DataFrame, spec: Spec): DataFrame = {
    val aggs: Seq[Column] =
      Seq(sum(col("n_rows")).as("n_rows")) ++
        spec.sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")) ++
        spec.minCols.map(c => min(col(s"min_$c")).as(s"min_$c")) ++
        spec.maxCols.map(c => max(col(s"max_$c")).as(s"max_$c")) ++
        (if (spec.firstCols.nonEmpty) Seq(min(col("ord_min")).as("ord_min")) else Nil) ++
        spec.firstCols.map(c =>
          min_by(col(s"first_$c"), col("ord_min")).as(s"first_$c")) ++
        (if (spec.lastCols.nonEmpty) Seq(max(col("ord_max")).as("ord_max")) else Nil) ++
        spec.lastCols.map(c =>
          max_by(col(s"last_$c"), col("ord_max")).as(s"last_$c"))
    states.groupBy(spec.keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(stateCols(spec).map(col): _*)
  }

  /** User-facing finals: decimal sums cast back to double, bookkeeping
    * order columns dropped, `first_`/`last_` prefixes kept (callers alias).
    */
  def finals(state: DataFrame, spec: Spec): DataFrame = {
    val out: Seq[Column] =
      spec.keyCols.map(col) ++ Seq(col("n_rows")) ++
        spec.sumCols.map(c => col(s"sum_$c").cast("double").as(s"sum_$c")) ++
        spec.minCols.map(c => col(s"min_$c")) ++
        spec.maxCols.map(c => col(s"max_$c")) ++
        spec.firstCols.map(c => col(s"first_$c")) ++
        spec.lastCols.map(c => col(s"last_$c"))
    state.select(out: _*)
  }

  // ------------------------------------------------- distinct (HLL) state

  /** Per-group APPROX DISTINCT state — the TimescaleDB continuous
    * aggregate's hyperloglog column at lake scale. ONE companion register
    * lake under the MV root holds ALL `distinctCols`, keyed by
    * (`__col`, keyCols..., slot): registers fold by elementwise max,
    * which is idempotent AND associative, so incremental folds equal the
    * one-shot sketch EXACTLY and at-least-once replays converge with
    * zero bookkeeping. The fold runs BEFORE the anchor-advancing rollup
    * commit: a crash between the two re-folds the same delta (a no-op)
    * on retry, so the register lake can never end up permanently behind
    * a committed anchor.
    *
    * Two scale properties the combined lake buys over the earlier
    * one-lake-per-column layout:
    *  - ONE lock commit per refresh regardless of how many distinct
    *    columns the spec carries (commit constants stop multiplying);
    *  - register files are range-clustered on the MV's own `pruneKey`
    *    (a keyCol the registers carry through), so a time-local delta
    *    folds into ONLY the register files whose envelopes overlap it —
    *    the same file discipline as the rollup itself. The old layout
    *    merged on `slot`, whose [0, 2^p) envelope spans every file by
    *    construction, so every refresh rewrote the WHOLE register lake —
    *    that rewrite was the measured superlinearity at sf10.
    */
  private def hllRegsRoot(mvRoot: String): String = s"$mvRoot/_hll_regs"
  private def legacyHllRoot(mvRoot: String, c: String): String =
    s"$mvRoot/_hll/$c"

  /** Lifted registers for every distinct column, tagged by `__col`. */
  private def registersAll(rows: DataFrame, spec: Spec): DataFrame =
    spec.distinctCols.map { c =>
      graft.operators.Hll.registers(rows, spec.keyCols, col(c), spec.hllP)
        .select(lit(c).as("__col") +:
          (spec.keyCols :+ "slot" :+ "r").map(col): _*)
    }.reduce(_ unionByName _)

  private val CanonicalDistinctTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, ByteType, ShortType, IntegerType, LongType, BooleanType)
  }

  private def checkDistinctCols(df: DataFrame, spec: Spec): Unit =
    spec.distinctCols.foreach { c =>
      require(c != "__col" && !spec.keyCols.contains("__col"),
        "__col is the register lake's own tag column — rename yours")
      require(df.columns.contains(c),
        s"distinct column $c not in ${df.columns.mkString(",")}")
      require(CanonicalDistinctTypes(df.schema(c).dataType),
        s"distinct column $c (${df.schema(c).dataType.simpleString}) has " +
          "no canonical cross-engine string form — cast or bucket it " +
          "first (same discipline as the profiler's HLL metric)")
    }

  /** Fail loudly unless the combined register lake exists, naming the
    * legacy one-lake-per-column layout when that is what the MV carries.
    */
  private def requireRegisterLake(spark: SparkSession, mvRoot: String,
      spec: Spec): Unit =
    if (SnapshotLake.latestVersion(spark, hllRegsRoot(mvRoot)).isEmpty) {
      spec.distinctCols.find(c =>
        SnapshotLake.latestVersion(spark, legacyHllRoot(mvRoot, c)).nonEmpty)
        .foreach(c => throw new IllegalStateException(
          s"$mvRoot carries the legacy one-lake-per-column register " +
            s"layout (_hll/$c) — run fullRefresh to rebuild the combined " +
            "_hll_regs lake"))
      throw new IllegalStateException(
        s"no register lake under $mvRoot — init/fullRefresh creates it")
    }

  /** Fold `rows`' registers (all distinct columns) into the combined
    * register lake in ONE commit: read only the register files whose
    * `pruneKey` envelope survives the delta's `box` (sound — a
    * register row's group key is the delta row's group key, so a
    * non-overlapping file cannot hold any folded-into group), max-merge
    * against the delta registers, publish through the rewrite-commit
    * core ([[SnapshotLake.commitRewrite]]), whose read-set guard keeps
    * racing refreshers from resurrecting superseded register files
    * (duplicate (group, slot) rows would double-count in the harmonic
    * sum). Idempotent: re-folding the same rows is a no-op state change.
    * A delta row yields at most one register row per distinct column,
    * so `deltaFiles`' manifest row counts size the output with no count.
    */
  private def foldDistinct(spark: SparkSession, mvRoot: String,
      rows: DataFrame, deltaFiles: Seq[SnapshotLake.FileEntry], spec: Spec,
      box: Map[String, (Double, Double)]): Unit = {
    val root = hllRegsRoot(mvRoot)
    val delta = registersAll(rows, spec)
    SnapshotLake.retryOnConflict(spark, root, "hll-fold") { () =>
      val m = SnapshotLake.manifest(spark, root, None)
      val overlap = m.files.filter(f =>
        ManifestFileIndex.surviving(f.stats, box))
      val folded = graft.operators.Hll.mergeRegisters(
        SnapshotLake.readEntries(spark, root, m, overlap), delta,
        "__col" +: spec.keyCols)
      val bound = rowsOf(overlap, spec.regRowsPerFile) +
        rowsOf(deltaFiles, spec.regRowsPerFile) * spec.distinctCols.size
      val newFiles = stageClustered(folded, spec, bound, spec.regRowsPerFile)(
        SnapshotLake.stageFiles(spark, root, _, Nil, Set(spec.pruneKey)))
      SnapshotLake.commitRewrite(spark, root, "merge:hll-fold", m,
        replaced = overlap, guarded = Nil, added = newFiles)
    }
  }

  /** REPLACE the combined register lake from a full base read
    * (init/fullRefresh), sized from the base's manifest row counts like
    * [[foldDistinct]]. A legacy per-column `_hll/<c>` tree, if present,
    * is simply orphaned (the new layout reads only `_hll_regs`).
    */
  private def replaceDistinct(spark: SparkSession, mvRoot: String,
      base: DataFrame, baseFiles: Seq[SnapshotLake.FileEntry],
      spec: Spec): Unit =
    stageClustered(registersAll(base, spec), spec,
      rowsOf(baseFiles, spec.regRowsPerFile) * spec.distinctCols.size,
      spec.regRowsPerFile)(SnapshotLake.replace(spark, hllRegsRoot(mvRoot),
        _, statsCols = Seq(spec.pruneKey)))

  private val AnchorRe = raw"mv:base=(\d+).*".r

  /** Base version the MV head reflects (None before [[init]]). */
  def lastRefreshedBase(spark: SparkSession, mvRoot: String): Option[Long] =
    SnapshotLake.latestVersion(spark, mvRoot).map { _ =>
      SnapshotLake.manifest(spark, mvRoot, None).op match {
        case AnchorRe(v) => v.toLong
        case other => throw new IllegalStateException(
          s"$mvRoot head is not a materialized-rollup commit (op=$other)")
      }
    }

  final case class Refresh(mvVersion: Long, baseVersion: Long,
      deltaRows: Long, filesCombined: Int, filesUntouched: Int)

  /** Build the MV from the full base snapshot (first call), anchored at the
    * base's current head. Also the fallback when the incremental chain is
    * broken by a non-append base op — pass `replace=true` to rebuild over
    * an existing MV (publishes one new version; history preserved).
    *
    * Sized from the manifest, not counted: the base head's row counts
    * bound the MV's groups (and, per distinct column, its register rows),
    * so nothing is cached and the rollup is the lift's aggregate and its
    * staged write — two Spark jobs when the MV fits one file. A file
    * without a row count follows [[refresh]]'s rule.
    */
  def init(spark: SparkSession, baseRoot: String, mvRoot: String, spec: Spec,
      replace: Boolean = false,
      lockExpiryMs: Long = SnapshotLake.DefaultLockExpiryMs): Refresh = {
    require(replace || SnapshotLake.latestVersion(spark, mvRoot).isEmpty,
      s"$mvRoot already has a materialized rollup — use refresh, or " +
        "init(replace=true) to rebuild")
    val baseHead = SnapshotLake.latestVersion(spark, baseRoot).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $baseRoot"))
    val baseFiles = SnapshotLake.manifest(spark, baseRoot, Some(baseHead)).files
    val baseRead = SnapshotLake.read(spark, baseRoot, Some(baseHead))
    checkDistinctCols(baseRead, spec)
    val state = lift(baseRead, spec)
    // distinct registers BEFORE the anchor-advancing rollup commit
    // (atomic replace; a crash in between just re-replaces on retry).
    // The register build and the rollup staging are independent jobs
    // over different lakes, so they overlap ([[graft.Concurrent]]); the
    // scope joins the register build before the commit below.
    val files = graft.Concurrent.scope(spark) { s =>
      if (spec.distinctCols.nonEmpty)
        s.fork(replaceDistinct(spark, mvRoot, baseRead, baseFiles, spec))
      stageClustered(state, spec, rowsOf(baseFiles, spec.targetRowsPerFile),
        spec.targetRowsPerFile)(
        SnapshotLake.stageFiles(spark, mvRoot, _, Nil, Set(spec.pruneKey)))
    }
    val v = SnapshotLake.commit(spark, mvRoot, s"mv:base=$baseHead,init",
      state.schema, build = _ => files, lockExpiryMs)
    Refresh(v, baseHead, -1L, files.size, 0)
  }

  def fullRefresh(spark: SparkSession, baseRoot: String, mvRoot: String,
      spec: Spec): Refresh = init(spark, baseRoot, mvRoot, spec, replace = true)

  /** Fold appends since the last refresh into the MV. Reads ONLY the delta
    * rows plus the MV files whose `pruneKey` envelope overlaps the delta's
    * key range; every other MV file survives by identity. No-op (publishes
    * nothing) when the base head is unchanged. Fails loudly — with
    * [[fullRefresh]] named — when a non-append base op intervened.
    *
    * The key range and the sizes come from the manifest, not from Spark
    * jobs: the appended files' `pruneKey` envelopes
    * ([[SnapshotLake.appendWindow]]) give the delta's range, their `rows`
    * bound its groups, and the overlapped MV files' `rows` bound the rest.
    * The refresh is then ONE aggregate (overlapped state ∪ one state row
    * per delta row) and its staged write: two Spark jobs when the output
    * fits one file ([[stageClustered]]). A window whose files hold zero
    * rows publishes an anchor-only bump.
    *
    * What the manifest does not record is taken at its widest. A file
    * with no `pruneKey` envelope — a base without `statsCols` on the key,
    * an INT96 (LTZ timestamp) key, a file whose keys are all NULL — spans
    * every key, so every MV file overlaps (the MV is rewritten whole,
    * still exactly). A file with no row count (a legacy `rows = -1`
    * entry) counts as one full output file of rows. Both only widen the
    * overlap set or over-split the output; [[SnapshotLake.addStats]] on
    * the base records them wherever the footer can.
    *
    * A NULL `pruneKey` in the delta is refused: the write fails with a
    * message naming [[fullRefresh]], checked inside the delta's own read
    * (no extra job). Envelopes do not record NULLs, so no manifest entry
    * says which MV file holds a NULL key's group, and folding it blind
    * could leave two rows for one group. [[init]]/[[fullRefresh]] fold
    * NULL keys like any other.
    *
    * Distinct-register lead window: the register fold runs BEFORE the
    * anchor-advancing rollup commit (crash-safety: a retry re-folds the
    * same delta, a no-op under max-merge). The asymmetric consequence is
    * that when the rollup commit then ABORTS — `guardAnchor` losing to a
    * rival refresh anchored at an older baseHead, or any later failure —
    * the registers keep the fold and permanently run AHEAD of the MV
    * anchor: until the next successful refresh, [[readFinal]]'s
    * `approx_distinct_*` columns may already include delta rows the
    * `n_rows`/`sum_*` columns do not. Registers can lead the anchor,
    * never trail it; both sides converge at the next refresh that
    * commits (max-merge idempotence makes the early fold harmless).
    */
  def refresh(spark: SparkSession, baseRoot: String, mvRoot: String,
      spec: Spec, lockExpiryMs: Long = SnapshotLake.DefaultLockExpiryMs): Refresh = {
    val anchor = lastRefreshedBase(spark, mvRoot).getOrElse(
      throw new IllegalStateException(s"no materialized rollup under $mvRoot — init first"))
    val baseHead = SnapshotLake.latestVersion(spark, baseRoot).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $baseRoot"))
    val mvHead = SnapshotLake.manifest(spark, mvRoot, None)
    if (baseHead == anchor)
      return Refresh(mvHead.version, anchor, 0L, 0, mvHead.files.size)
    val window =
      try SnapshotLake.appendWindow(spark, baseRoot, anchor, Some(baseHead))
      catch {
        case e: IllegalArgumentException => throw new IllegalStateException(
          s"incremental refresh broken (${e.getMessage}) — run fullRefresh " +
            "to re-anchor", e)
      }
    val pk = spec.pruneKey
    // zero-row appends: anchor-only bump, so steady-state refreshes take
    // the baseHead==anchor fast path instead of re-walking the empty
    // versions forever
    val (newFiles, overlap) =
      if (window.files.forall(_.rows == 0)) (Nil, Nil)
      else {
        val envs = window.files.map(_.stats.get(pk))
        val box = Map(pk ->
          (if (envs.forall(_.isDefined))
            (envs.flatten.map(_._1).min, envs.flatten.map(_._2).max)
          else (Double.NegativeInfinity, Double.PositiveInfinity)))
        val delta = SnapshotLake.readEntries(spark, baseRoot, window,
          window.files).withColumn(pk, coalesce(col(pk), raise_error(lit(
            s"refresh cannot fold a NULL $pk: no manifest envelope says " +
              "which MV file holds its group — run fullRefresh"))))
        checkDistinctCols(delta, spec)
        if (spec.distinctCols.nonEmpty) requireRegisterLake(spark, mvRoot, spec)
        val overlap = mvHead.files.filter(f =>
          ManifestFileIndex.surviving(f.stats, box))
        // distinct registers BEFORE the anchor-advancing commit
        // (idempotent max-merge: a crash in between re-folds the same
        // delta on retry). The register fold and the rollup staging are
        // independent jobs over different lakes, so they overlap
        // ([[graft.Concurrent]]); an abort after the fold leaves
        // registers LEADING the anchor, which the lead-window contract
        // above already allows. The scope joins the fold before the
        // commit below.
        val newFiles = graft.Concurrent.scope(spark) { s =>
          if (spec.distinctCols.nonEmpty)
            s.fork(foldDistinct(spark, mvRoot, delta, window.files, spec, box))
          val combined = combine(
            SnapshotLake.readEntries(spark, mvRoot, mvHead, overlap)
              .unionByName(rowStates(delta, spec)), spec)
          // keys on both sides merge, so overlap rows + delta rows only
          // ever OVER-size the output
          stageClustered(combined, spec,
            rowsOf(overlap ++ window.files, spec.targetRowsPerFile),
            spec.targetRowsPerFile)(
            SnapshotLake.stageFiles(spark, mvRoot, _, Nil, Set(pk)))
        }
        (newFiles, overlap)
      }
    val overlapSet = overlap.map(_.rel).toSet
    val v = SnapshotLake.commit(spark, mvRoot, s"mv:base=$baseHead",
      mvHead.schema, build = head => {
        guardAnchor(head, anchor, mvRoot)
        newFiles ++ head.map(_.files).getOrElse(Nil)
          .filterNot(f => overlapSet.contains(f.rel))
      }, lockExpiryMs)
    val deltaRows =
      if (window.files.exists(_.rows < 0)) -1L else window.files.map(_.rows).sum
    Refresh(v, baseHead, deltaRows, overlap.size, mvHead.files.size - overlap.size)
  }

  /** Stage MV state through `write`, range-clustered on the prune key so
    * each data file carries a TIGHT pruneKey footer envelope — that
    * clustering is what lets a time-local delta refresh skip the rest of
    * the aggregate lake entirely (the MV analog of Z-ordering the fact
    * lake). The file count is sized from `rows`, an upper bound from
    * manifest row counts ([[rowsOf]]), at `perFile` rows per file, not
    * left to AQE, which would happily coalesce a small-but-growing MV
    * into one file and erase the envelope index; an upper bound merely
    * over-splits (empty ranges write nothing).
    *
    * One file needs no split: the state is coalesced into the write's
    * single task, with no exchange, no boundary sample and no cache. More
    * files keep `repartitionByRange`, whose boundary sample runs the
    * state once before the write runs it again, so the state is persisted
    * for the two (measured +~16 s at sf10 for an uncached register fold)
    * and released after the write.
    */
  private def stageClustered[A](state: DataFrame, spec: Spec, rows: Long,
      perFile: Long)(write: DataFrame => A): A = {
    val n = math.max(1L, (rows + perFile - 1) / perFile)
    if (n == 1) write(state.coalesce(1))
    else {
      val p = state.persist()
      try write(p.repartitionByRange(n.toInt, col(spec.pruneKey)))
      finally p.unpersist()
    }
  }

  /** Manifest row counts of `files`; a legacy entry without one
    * (`rows = -1`) counts as `perFile` rows, one full output file.
    */
  private def rowsOf(files: Seq[SnapshotLake.FileEntry], perFile: Long): Long =
    files.map(f => if (f.rows >= 0) f.rows else perFile).sum

  /** Under the commit lock: abort if a rival refresh advanced the anchor
    * past ours — folding our delta over ITS files would double-count.
    */
  private def guardAnchor(head: Option[SnapshotLake.Manifest], anchor: Long,
      mvRoot: String): Unit =
    head.map(_.op).foreach {
      case AnchorRe(v) => require(v.toLong == anchor,
        s"concurrent refresh of $mvRoot won (anchor $v, ours $anchor) — retry")
      case other => throw new IllegalStateException(
        s"$mvRoot head is not a materialized-rollup commit (op=$other)")
    }

  /** The MV's finals at its current (or a pinned) version, with one
    * `approx_distinct_<c>` DOUBLE column per `distinctCols` entry —
    * estimated from the companion register lakes ([[graft.operators.Hll
    * .estimate]]); groups the registers never saw read NULL. Note the
    * distinct columns always reflect the register lakes' CURRENT state
    * (registers are monotone; pinning them to an MV version would need a
    * version map the monotone merge makes unnecessary for the
    * grows-by-append use) — and that state may LEAD the MV anchor after
    * an aborted refresh (see [[refresh]]'s lead-window note), so a
    * distinct estimate can briefly cover rows the row/sum columns don't.
    */
  def readFinal(spark: SparkSession, mvRoot: String, spec: Spec,
      version: Option[Long] = None): DataFrame = {
    val base = finals(SnapshotLake.read(spark, mvRoot, version), spec)
    if (spec.distinctCols.isEmpty) base
    else {
      val regs = SnapshotLake.read(spark, hllRegsRoot(mvRoot))
      spec.distinctCols.foldLeft(base) { (acc, c) =>
        val est = graft.operators.Hll.estimate(
          regs.filter(col("__col") === c).drop("__col"),
          spec.keyCols, spec.hllP)
          .withColumnRenamed("approx_distinct", s"approx_distinct_$c")
        acc.join(est, spec.keyCols, "left")
      }
    }
  }
}
