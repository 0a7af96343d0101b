package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Train/val/test splits + sliding-window tensorization (SURVEY §2.7
  * P1-P5) — the reference's `data_splitter.py`.
  *
  * Scale notes: the chronological splits label rows with ONE pass — a global
  * `row_number` over the time order vs the total count (both from the same
  * window sort). A single-`orderBy` window is a one-partition sort in Spark;
  * fine to the ~100M-row scale the reference targets, but at 100 TB use
  * [[splitByDate]] (pure filters, embarrassingly parallel — compute the
  * cutoff timestamps once via quantile first) which is why it's first-class
  * here. The hash split replaces sklearn's seeded shuffle with a splittable
  * multiplicative hash: same statistical properties, deterministic at any
  * parallelism, no shuffle at all.
  */
object Split {

  /** P1/P3 — chronological split: rows in `order` get labels by fractional
    * position: cuts=(0.8) → train/test at ⌊n·0.8⌋ (data_splitter.py:32-64);
    * cuts=(0.7,0.85) → train/val/test (data_splitter.py:158-189).
    */
  def chronological(df: DataFrame, order: Seq[Column], cuts: Seq[Double],
      labels: Seq[String]): DataFrame = {
    require(labels.size == cuts.size + 1)
    val w = Window.orderBy(order: _*)
    val n = count(lit(1)).over(Window.partitionBy())
    val rn = row_number().over(w)
    // fold right-to-left so the earliest matching cut wins in the when-chain
    val expr0 = cuts.zip(labels.init).reverse.foldLeft(lit(labels.last): Column) {
      case (rest, (cut, lbl)) => when(rn <= floor(n * lit(cut)), lit(lbl)).otherwise(rest)
    }
    df.withColumn("split", expr0)
  }

  /** P4 — split by explicit date boundaries: label = train if ts <= c1,
    * val if ts <= c2, else test (data_splitter.py:82-110,191-228). Pure
    * filter predicates — the 100 TB-safe split.
    */
  def splitByDate(df: DataFrame, ts: Column, cuts: Seq[String],
      labels: Seq[String]): DataFrame = {
    require(labels.size == cuts.size + 1)
    val expr0 = cuts.zip(labels.init).reverse.foldLeft(lit(labels.last): Column) {
      case (rest, (cut, lbl)) =>
        when(ts <= lit(cut).cast("timestamp_ntz"), lit(lbl)).otherwise(rest)
    }
    df.withColumn("split", expr0)
  }

  /** P1 at scale — the global row_number sort above is a single-partition
    * window over EVERY row; this variant derives cut TIMESTAMPS and labels
    * with pure filters — embarrassingly parallel over the data.
    *
    *   - exact = false (default): approximate quantiles of the time column
    *     (one parallel aggregate; EXACT interpolating percentile buffers
    *     every value and is itself a bottleneck — measured 42 s exact vs
    *     2 s approx vs 11 s for the row_number variant on 10 M rows in
    *     the retired 2026-08 scale smoke, BASELINE.md). Fractions are
    *     approximate.
    *   - exact = true: rank-based cutoffs — cut_i is the ⌊cut·n⌋-th
    *     smallest timestamp, from cumulative counts over DISTINCT
    *     timestamps (a year of 1-minute bars is ~526 k distinct values, so
    *     the one ordered window here is over a tiny frame regardless of row
    *     count). On tie-free timestamps this reproduces [[chronological]]'s
    *     row counts exactly; ties all land on the train side of the cut.
    *     Integer-rank arithmetic only — no float interpolation, so the
    *     cutoff is reproducible bit-for-bit across engines.
    */
  def chronologicalAtScale(df: DataFrame, ts: Column, cuts: Seq[Double],
      labels: Seq[String], exact: Boolean = false): DataFrame = {
    require(labels.size == cuts.size + 1)
    val tsUs = unix_micros(ts.cast("timestamp"))
    val cutUs: Seq[Long] =
      if (exact) {
        val n = df.count()
        val ks = cuts.map(c => math.floor(c * n).toLong)
        val cum = df.groupBy(tsUs.as("__ts_us")).agg(count(lit(1)).as("__c"))
          .withColumn("__cum",
            sum(col("__c")).over(Window.orderBy(col("__ts_us"))))
        val aggs = ks.zipWithIndex.map { case (k, i) =>
          min(when(col("__cum") >= k, col("__ts_us"))).as(s"q$i")
        }
        val bounds = cum.agg(aggs.head, aggs.tail: _*).collect().head
        // k <= 0 (or empty frame) ⇒ an empty first label, not "first ts"
        ks.indices.map(i =>
          if (ks(i) <= 0 || bounds.isNullAt(i)) Long.MinValue
          else bounds.getLong(i))
      } else {
        val aggs = cuts.zipWithIndex.map { case (c, i) =>
          approx_percentile(tsUs, lit(c), lit(1000)).as(s"q$i")
        }
        val bounds = df.agg(aggs.head, aggs.tail: _*).collect().head
        cuts.indices.map(i => bounds.getLong(i))
      }
    val expr0 = cutUs.zip(labels.init).reverse.foldLeft(lit(labels.last): Column) {
      case (rest, (cut, lbl)) =>
        when(tsUs <= lit(cut), lit(lbl)).otherwise(rest)
    }
    df.withColumn("split", expr0)
  }

  /** P2 analog — deterministic hash split. sklearn's seeded shuffle is
    * order-dependent and not reproducible under distributed execution; a
    * splittable multiplicative hash on a stable key gives the same
    * statistical behavior with exact reproducibility at any parallelism
    * (Knuth multiplicative hashing; 2654435761 = ⌊2³²/φ⌋).
    */
  def hashSplit(df: DataFrame, key: Column, trainFrac: Double): DataFrame = {
    val h = pmod(key.cast("long") * lit(2654435761L), lit(4294967296L))
    df.withColumn("split",
      when(h < lit((trainFrac * 4294967296.0).toLong), lit("train"))
        .otherwise(lit("test")))
  }

  /** P5 — sliding windows: per series, length-`w` input window + length-`t`
    * target window, stride `s` (data_splitter.py:230-263). Emits
    * `x: array[double]` (w values) and `y: array[double]` (t values); rows
    * without a full w+t lookahead are dropped, stride applies to the window
    * start index.
    */
  def slidingWindows(df: DataFrame, partition: Seq[Column], order: Seq[Column],
      valueCol: Column, window: Int, target: Int, stride: Int): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    val frame = w.rowsBetween(0, window + target - 1)
    val rn = row_number().over(w)
    df.withColumn("__vals", collect_list(valueCol).over(frame))
      .withColumn("__rn", rn)
      .filter(size(col("__vals")) === window + target)
      .filter((col("__rn") - 1) % stride === 0)
      .withColumn("x", slice(col("__vals"), 1, window))
      .withColumn("y", slice(col("__vals"), window + 1, target))
      .drop("__vals")
      .withColumnRenamed("__rn", "window_start_rn")
  }

  /** P5, multi-feature — the reference tensorizes 2-D input to
    * `(n_samples, window, features)` / `(n_samples, target, features)`
    * (data_splitter.py:251-252 `data.shape[1:]` ride-along). Spark has no
    * tensor type; the faithful relational shape is ONE per-feature array
    * pair per window row: `x_<f>: array[T]` (window values) and
    * `y_<f>: array[T]` (target values) for every feature — a consumer
    * zips them positionally to recover the (window, features) matrix.
    *
    * One `collect_list(struct(features))` over the shared frame buffers
    * the rows ONCE regardless of feature count (k separate collect_lists
    * would be k frame passes — and collect_list drops NULL elements,
    * silently misaligning positions; a struct is never null, so null
    * feature values keep their slot, matching numpy's NaN-preserving
    * slices). Feature arrays are then free `transform`/`slice` projections.
    */
  def slidingWindowsMulti(df: DataFrame, partition: Seq[Column], order: Seq[Column],
      features: Seq[String], window: Int, target: Int, stride: Int): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    val frame = w.rowsBetween(0, window + target - 1)
    val base = df
      .withColumn("__vals", collect_list(struct(features.map(col): _*)).over(frame))
      .withColumn("__rn", row_number().over(w))
      .filter(size(col("__vals")) === window + target)
      .filter((col("__rn") - 1) % stride === 0)
    val withParts = features.foldLeft(base) { (d, f) =>
      d.withColumn(s"x_$f",
          transform(slice(col("__vals"), 1, window), v => v.getField(f)))
        .withColumn(s"y_$f",
          transform(slice(col("__vals"), window + 1, target), v => v.getField(f)))
    }
    withParts.drop("__vals").withColumnRenamed("__rn", "window_start_rn")
  }

  /** Token-budget sequence packing — assign each document to a fixed
    * token-budget bin, the shard/context-window assignment step of an LLM
    * training-data pipeline (beyond-reference; the reference stops at
    * window tensorization, data_splitter.py:230-263).
    *
    * Semantics: contiguous PREFIX packing. Within each `partition` group
    * (order by `order`), a document goes to the bin its FIRST token lands
    * in: `bin_id = ⌊prefix_before / budget⌋`, `bin_offset = prefix_before
    * mod budget` where `prefix_before` is the running token total of all
    * prior documents in the group. A document straddling a boundary stays
    * in its starting bin, so a bin can overflow `budget` by at most
    * (doc_tokens − 1); consumers that truncate at the boundary instead
    * have `bin_offset` to split on. Exact greedy packing (reset the
    * accumulator when a doc would overflow) is a sequential recurrence —
    * it cannot be expressed as a window aggregate and would serialize the
    * whole group; prefix packing is the standard distributed
    * approximation and is pure integer window arithmetic: one hash
    * exchange on the partition keys, O(1)/row, reproducible bit-for-bit
    * at any parallelism.
    *
    * `prefix_before` is computed ONCE in a staging projection and the two
    * derived columns read the alias — Spark does not CSE across
    * expression-tree references, so repeating the window sum would run the
    * frame twice (same alias-once discipline as Indicators.withRsi).
    */
  def packByTokenBudget(df: DataFrame, partition: Seq[Column], order: Seq[Column],
      nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"pack budget must be positive, got $budget")
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__pack_before", coalesce(sum(nTokens.cast("long")).over(w), lit(0L)))
      .withColumn("bin_id", binId(budget))
      .withColumn("bin_offset", col("__pack_before") % lit(budget))
      .drop("__pack_before")
  }

  /** `⌊prefix / budget⌋` in EXACT integer arithmetic. Spark's `/` on
    * longs is double division — `floor(pb / budget)` rounds through a
    * 53-bit mantissa, so once a group's prefix sum approaches ~2^52 the
    * quotient can cross an integer boundary and disagree with the exact
    * `%` next to it. `DIV` is the SQL integer division the oracle's `//`
    * mirrors, correct over the full long range. (Takes the staged column
    * by NAME: there is no integral-divide Column operator, and `expr`
    * resolves against the frame it lands on.)
    */
  private def binId(budget: Long): Column =
    expr(s"__pack_before DIV ${budget}L")

  /** [[packByTokenBudget]] at scale — the SAME bin labels from a
    * two-phase chunked prefix sum, bit-identical output (oracle-gated as
    * p6b against p6's SQL).
    *
    * WHY: the plain form's prefix sum is one window per `partition`
    * group — a 90%-hot source serializes its whole corpus through one
    * task, exactly the ceiling [[Skew.chunkedSeries]] lifts for
    * indicator windows. A running total is associative, so it
    * distributes without any halo machinery:
    *
    *   1. repartition by (partition, chunk) — EXPLICIT, for the same
    *      subset-distribution trap documented in [[Skew.chunkedSeries]]:
    *      an upstream hash on `partition` alone satisfies the clustered
    *      distribution and would silently keep the hot group serial —
    *      and compute each chunk's LOCAL prefix-before in parallel;
    *   2. aggregate one (partition, chunk) → Σtokens census
    *      (dimension-sized), run the cumulative offset over the census'
    *      tiny ordered window, and broadcast-join the offsets back;
    *   3. prefix_before = chunk_offset + local_prefix_before; bin id and
    *      offset are then row-local integer arithmetic.
    *
    * `chunk` must be monotone non-decreasing in `order` within each
    * group (e.g. `doc_id DIV chunkRows` when ordering by doc_id, or a
    * month index of a time order) — that is what makes local order +
    * chunk order compose to the global order. Choose the granularity so
    * a hot group spans many chunks; tasks are then bounded by the chunk
    * size, not the group size.
    */
  def packByTokenBudgetChunked(df: DataFrame, partition: Seq[Column],
      order: Seq[Column], chunk: Column, nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"pack budget must be positive, got $budget")
    val base = df.withColumn("__chunk", chunk.cast("long"))
      .withColumn("__tok", nTokens.cast("long"))
      .repartition(partition :+ col("__chunk"): _*)
    val localW = Window.partitionBy(partition :+ col("__chunk"): _*)
      .orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
    val local = base.withColumn("__local_before",
      coalesce(sum(col("__tok")).over(localW), lit(0L)))
    val censusW = Window.partitionBy(partition: _*).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // join on ONE struct key: struct equality is null-safe field-wise, so
    // rows with a NULL partition value or NULL chunk keep their labels —
    // a using-columns join would silently drop them where the plain
    // window form labels them (NULL is its own window partition group)
    val jk = struct(partition :+ col("__chunk"): _*)
    val offsets = base.groupBy(partition :+ col("__chunk"): _*)
      .agg(sum(col("__tok")).as("__chunk_tokens"))
      .withColumn("__chunk_offset",
        coalesce(sum(col("__chunk_tokens")).over(censusW), lit(0L)))
      .select(jk.as("__jk"), col("__chunk_offset"))
    local.withColumn("__jk", jk)
      .join(broadcast(offsets), "__jk")
      .withColumn("__pack_before", col("__chunk_offset") + col("__local_before"))
      .withColumn("bin_id", binId(budget))
      .withColumn("bin_offset", col("__pack_before") % lit(budget))
      .drop("__jk", "__chunk", "__tok", "__local_before", "__chunk_offset",
        "__pack_before")
  }

  /** Deterministic stratified sampling — per-stratum keep rates, the
    * domain-mixture reweighting step of a training-data pipeline
    * (beyond-reference): keep a row iff its key's multiplicative hash
    * falls below the stratum's rate threshold. Deliberately a DIFFERENT
    * multiplier (xxhash PRIME32_2) than [[hashSplit]]'s Knuth constant:
    * with the SAME hash, a rate-r stratum's survivors are exactly the
    * rows with h < r·2³² — a prefix of the split hash's range — so a
    * subsequent hashSplit would label a 0.1-rate stratum 100% train.
    * Independent multipliers decorrelate the two, and sample-then-split
    * preserves the split fractions within every stratum.
    *
    * A pure row-local filter: no shuffle, no window, no state — the
    * trivially-100 TB-safe shape. Rates are folded into one `when` chain
    * (sorted for a deterministic plan); unlisted strata get
    * `defaultRate`. Rate 1.0 keeps everything (threshold = 2³² > every
    * hash), 0.0 drops the stratum.
    */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rates must be in [0,1], got $r"))
    def thresh(r: Double) = lit(math.round(r * 4294967296.0))
    val h = pmod(key.cast("long") * lit(2246822519L), lit(4294967296L))
    val cutoff = rates.toSeq.sortBy(_._1).foldRight(thresh(defaultRate): Column) {
      case ((s, r), rest) => when(stratum === lit(s), thresh(r)).otherwise(rest)
    }
    df.filter(h < cutoff)
  }

  /** Deterministic shuffled-shard export — the training-order step of an
    * LLM data pipeline (beyond-reference): every row gets a shard and a
    * position within it, pseudo-randomly via a multiplicative hash of its
    * key, so the training order is (a) globally shuffled, (b) bit-for-bit
    * reproducible at any parallelism — `rand()`-based shuffles are
    * partition-order-dependent and unresumable — and (c) resumable: a
    * restarted export recomputes the exact same (shard, pos) labels.
    *
    * Third independent multiplier (xxhash PRIME32_3): shard residues and
    * within-shard hash order must correlate with neither [[hashSplit]]'s
    * train cut nor [[stratifiedHashSample]]'s keep cut, or a shard's
    * leading rows would be systematically train/sampled rows. Hash
    * collisions across distinct keys tie-break on the key itself, keeping
    * the order total and deterministic.
    *
    * Scale: one hash exchange on `shard_id` and a per-shard sort — shards
    * are uniform by construction (no skew), and `nShards` is the writer's
    * file-count dial. The window form here is the oracle-checkable
    * witness; a writer wanting files skips the row_number and does
    * `repartition(shard)` + `sortWithinPartitions(hash)` for the same
    * order without materializing positions.
    */
  def shuffledShards(df: DataFrame, key: Column, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val h = pmod(key.cast("long") * lit(3266489917L), lit(4294967296L))
    val w = Window.partitionBy(col("shard_id")).orderBy(col("__h"), key)
    df.withColumn("__h", h)
      .withColumn("shard_id", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("__h")
  }

  /** Temperature-scaled source-mixture weights — the sampling-rate table a
    * multi-source training run is driven by (beyond-reference): weight each
    * source ∝ tokens^α, α < 1 flattening the natural distribution so
    * small high-quality sources are not drowned by the biggest crawl
    * (α = 1 → proportional, α = 0 → uniform). Emits, per source: doc/token
    * counts, the normalized mixture weight, the token draw expected under
    * `budgetTokens`, and the implied epochs over that source (> 1 ⇒ the
    * schedule repeats it).
    *
    * Determinism discipline (hash-match oracle over doubles): tokens^α is
    * quantized to a 1e-6 fixed-point BIGINT immediately — `sqrt` is
    * IEEE-correctly-rounded and `double × 2^k`-free truncation agrees
    * between engines, whereas SUMMING raw doubles would be
    * accumulation-order-dependent. The normalizing total is then an exact
    * integer sum, and every emitted double is a SINGLE IEEE op on exact
    * integers (one divide / one multiply), identical on any engine and any
    * partitioning. α is restricted to 0.5 on the declared-query path for
    * exactly this reason (`sqrt`, not `pow`, which libm does not promise
    * correctly rounded).
    *
    * Scale: one partial-agg exchange on `source` (sources number in the
    * tens), then a broadcast of the single total row — the corpus is
    * touched once, map-side.
    */
  /** Apply [[mixtureWeights]] as an actual sampling pass: each source's
    * keep RATE is its expected token draw over its token mass, capped at 1
    * (a source the schedule would repeat keeps everything — repetition is
    * the shard-writer's job, not the sampler's), and rows are kept by the
    * same deterministic multiplicative-hash threshold as
    * [[stratifiedHashSample]] — a pure row-local filter, so the corpus
    * pass is shuffle-free. The per-source rate table rides a BROADCAST
    * join (sources number in the tens); nothing is collected to the
    * driver. Fourth independent multiplier (xxhash PRIME32_4): the keep
    * decision must correlate with neither the train/test cut, the
    * stratified sampler, nor the shard order.
    *
    * The cap and threshold are single IEEE ops on exact integers
    * (`w_fixed / total`, `× budget`, `/ tokens`, floor to a 2^32 grid),
    * so the kept SET is bit-reproducible on any engine and partitioning.
    */
  def sampleToMixture(docs: DataFrame, key: Column, source: Column,
      nTokens: Column, budgetTokens: Long): DataFrame = {
    val rates = mixtureWeights(docs, source, nTokens, budgetTokens)
      .select(col("source").as("__mix_src"),
        floor(least(lit(1.0), col("epochs")) * lit(4294967296.0))
          .cast("long").as("__keep_thresh"))
    val h = pmod(key.cast("long") * lit(668265263L), lit(4294967296L))
    docs.join(broadcast(rates), source === col("__mix_src"))
      .filter(h < col("__keep_thresh"))
      .drop("__mix_src", "__keep_thresh")
  }

  def mixtureWeights(docs: DataFrame, source: Column, nTokens: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val perSource = docs
      .groupBy(source.as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(nTokens.cast("long")).as("n_tokens"))
      .withColumn("w_fixed",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0)).cast("long"))
    val total = perSource.agg(sum(col("w_fixed")).as("__w_total"))
    perSource.crossJoin(broadcast(total))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("w_fixed"),
        (col("w_fixed").cast("double") / col("__w_total").cast("double"))
          .as("weight"),
        ((col("w_fixed").cast("double") / col("__w_total").cast("double"))
          * lit(budgetTokens.toDouble)).as("expected_tokens"),
        (((col("w_fixed").cast("double") / col("__w_total").cast("double"))
          * lit(budgetTokens.toDouble)) / col("n_tokens").cast("double"))
          .as("epochs"))
  }
}
