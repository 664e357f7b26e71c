package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between corpus snapshots — the
  * accounting a daily 100 TB pipeline alarms on: yesterday's corpus
  * is the BASE distribution, today's batch is CURRENT, and a large
  * population-stability index (PSI) on a signal (token count,
  * quality score, LM log-prob) means the incoming data no longer
  * looks like what the models/thresholds were tuned on.
  *
  * Scale shape: one narrow scan per snapshot folding to BUCKET grain
  * (map-side combinable counts over literal cut points — a pure row
  * function, so both sides bucket identically regardless of
  * partitioning), then a buckets-sized join. Nothing row-grained is
  * ever joined or windowed; cost is two corpus scans, full stop.
  */
object DriftOps {

  /** Robust per-key outlier gate: flag rows whose `valueCol` deviates
    * from the key's LOWER MEDIAN by more than `k` × MAD (median
    * absolute deviation) — the monitoring gate that survives the
    * heavy-tailed signals mean/stddev gates drown in (one 10⁸-token
    * document moves a mean; it cannot move a median). Returns the
    * input plus `__med`/`__mad`/`is_outlier` (every gate here names
    * its flag `is_outlier`; no caller needs another name).
    *
    * Both medians are RANK-based (value at rank ⌈n/2⌉ — the lower
    * median): no interpolation rule for engines to disagree over,
    * and each runs through
    * [[graft.ops.Relational.keyedOrderStatistic]], which folds
    * per-(key, bucket) counts combinably and sorts ONLY the single
    * bucket holding the median rank — a key holding 90 % of the
    * corpus never sorts in one task, and ~(buckets−1)/buckets of its
    * rows never sort at all. The value at the median rank is
    * invariant to tie order, so no unique tiebreak is needed. The
    * per-key (median, MAD) frames are key-cardinality-sized and
    * broadcast back — nothing row-grained joins on a hot key. */
  def madOutlierGate(df: DataFrame, keys: Seq[String], valueCol: Column,
                     k: Double): DataFrame = {
    gateGuard(df)
    applyRobustStats(df, robustStats(df, keys, valueCol), keys,
      valueCol, k)
  }

  /** [[robustStatsDiscrete]] for CONTINUOUS signals — the same
    * (keys…, __med, __mad) model frame, each median located by
    * [[graft.ops.Relational.keyedOrderStatistic]]'s single-bucket
    * rank instead of a value histogram (no per-key distinct-value
    * bound). Two dependent passes by nature: the MAD is the median
    * of deviations FROM the median. */
  def robustStats(df: DataFrame, keys: Seq[String],
                  valueCol: Column): DataFrame = {
    import graft.ops.Relational
    // lower-median rank ⌈n/2⌉, cast so the row_number equality inside
    // keyedOrderStatistic compares long-to-long, not long-to-double
    val lowerMedianRank: Column => Column =
      n => ceil(n / 2.0).cast("long")
    val withVal = df.withColumn("__val", valueCol)
    val med = Relational.keyedOrderStatistic(
      withVal, keys, col("__val"), lowerMedianRank, "__med")
    val withMed = keyedBroadcastJoin(withVal, med, keys)
      .withColumn("__dev", abs(col("__val") - col("__med")))
    // both one-row-per-key frames; null-safe so a null-key group's
    // model row survives assembly
    keyedBroadcastJoin(
        Relational.keyedOrderStatistic(
          withMed, keys, col("__dev"), lowerMedianRank, "__mad"),
        med, keys)
      .select((keys.map(col) :+ col("__med") :+ col("__mad")): _*)
  }

  /** The gates' working/output columns must not clobber caller data
    * (the [[graft.ops.Relational.keyedRanks]] discipline — silent
    * replacement would drop caller columns, and chaining two gates
    * would produce ambiguous `__med`/`__mad`). */
  private def gateGuard(df: DataFrame): Unit =
    for (c <- Seq("__val", "__med", "__mad", "__dev", "__devr",
        "is_outlier"))
      require(!df.columns.contains(c),
        s"madOutlierGate: input already has a '$c' column — rename it")

  /** Broadcast equi-join on `keys` with NULL-SAFE equality: a plain
    * USING join drops every null-key row (null never equals null),
    * which in a gate whose contract is "returns the input plus …"
    * is silent row loss — a NULL language is a GROUP (grouping and
    * windows already treat it as one), not a discard. */
  private def keyedBroadcastJoin(left: DataFrame, right: DataFrame,
                                 keys: Seq[String],
                                 joinType: String = "inner"): DataFrame = {
    val renamed = keys.foldLeft(right)((r, k) =>
      r.withColumnRenamed(k, s"__rk_$k"))
    val cond = keys.map(k => col(k) <=> col(s"__rk_$k")).reduce(_ && _)
    left.join(broadcast(renamed), cond, joinType)
      .drop(keys.map(k => s"__rk_$k"): _*)
  }

  /** [[madOutlierGate]] for DISCRETE signals (token counts, integer
    * scores, anything on a grid) — bit-identical output, strictly
    * cheaper plan: ONE map-side-combinable (key, value) histogram
    * fold is the only corpus-grain aggregation, and both medians are
    * then read off the histogram. The lower median is the first
    * value whose cumulative count reaches ⌈n/2⌉, and the DEVIATION
    * histogram is just the value histogram folded around the median
    * (|v−med| re-keyed, counts summed) — so the MAD costs nothing
    * row-grained at all, where the generic gate's second phase
    * re-scans the data. Total corpus passes: the fold and the final
    * gate join — 2, vs the generic form's 3.
    *
    * Contract: per-key DISTINCT-value cardinality must be
    * task-bounded — each key's histogram rows cumsum in one window
    * task (fine for discrete signals: a 10¹⁰-row language with token
    * counts < 10⁶ folds to < 10⁶ histogram rows). For continuous
    * values use [[madOutlierGate]], whose bucketed order statistic
    * carries no per-key distinct bound. */
  def madOutlierGateDiscrete(df: DataFrame, keys: Seq[String],
                             valueCol: Column, k: Double): DataFrame = {
    gateGuard(df)
    applyRobustStats(df, robustStatsDiscrete(df, keys, valueCol),
      keys, valueCol, k)
  }

  /** Flag `df` against an EXISTING per-key robust model — the
    * production monitoring split: the (key, __med, __mad) frame is
    * yesterday's frozen model ([[robustStatsDiscrete]] on the closed
    * snapshot, persisted beside it), today's batch is gated against
    * it, and today's data CANNOT move its own gate — a poisoned or
    * drifted batch is flagged, not absorbed. One broadcast join, one
    * batch scan; keys present in the batch but absent from the model
    * (a brand-new language) come back with NULL med/mad and a NULL
    * flag — surfaced for model refresh, not silently dropped or
    * silently passed. */
  def applyRobustStats(df: DataFrame, stats: DataFrame,
                       keys: Seq[String], valueCol: Column,
                       k: Double): DataFrame = {
    gateGuard(df)
    keyedBroadcastJoin(df.withColumn("__val", valueCol), stats, keys,
        joinType = "left")
      .withColumn("__devr", abs(col("__val") - col("__med")))
      .withColumn("is_outlier", col("__devr") > lit(k) * col("__mad"))
      .drop("__val", "__devr")
  }

  /** The per-key robust model behind [[madOutlierGateDiscrete]] —
    * one row per key, `(keys…, __med, __mad)`, lower median and
    * lower-median absolute deviation read off a single combinable
    * (key, value) histogram fold (the discrete-signal contract and
    * the linear-chain plan rationale are documented on the gate).
    * Persist this frame beside a closed snapshot and gate later
    * batches with [[applyRobustStats]]. */
  def robustStatsDiscrete(df: DataFrame, keys: Seq[String],
                          valueCol: Column): DataFrame =
    statsFromValueHistogram(
      df.withColumn("__val", valueCol)
        .groupBy((keys.map(col) :+ col("__val")): _*)
        .agg(count(lit(1)).as("__cnt")),
      keys)

  /** The (keys…, __med, __mad) model read off an EXISTING
    * (keys…, __val, __cnt) value histogram — the tail of
    * [[robustStatsDiscrete]], exposed so a persisted histogram store
    * ([[updateKeyedValueHistogram]]) can re-fit the model in
    * O(histogram) without ever re-scanning a snapshot (the
    * [[rollingMadGate]] path). */
  def statsFromValueHistogram(hist: DataFrame,
                              keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    val wKey = Window.partitionBy(keyCols: _*)
    // lower median of a (key, …, count) histogram, read off a cumsum
    // in value order: rank ⌈n/2⌉ falls in the single row whose
    // cumulative interval (__start, __start+__cnt] contains it
    def medianMark(h: DataFrame, vCol: String): DataFrame =
      h.withColumn("__start",
          coalesce(sum(col("__cnt")).over(
            wKey.orderBy(col(vCol))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("__t",
          ceil(sum(col("__cnt")).over(wKey) / 2.0).cast("long"))
        .withColumn("__hit", col("__t") > col("__start") &&
          col("__t") <= col("__start") + col("__cnt"))
    // the stats chain is deliberately LINEAR — hist → med annotation
    // → dev re-key → mad — so the histogram is planned (and its fold
    // paid) exactly once; a join-back formulation re-plans the hist
    // subtree under every broadcast branch
    // med rides the SAME key-partitioned window as the cumsum (max of
    // the one marked row) — every histogram row learns its key's
    // median with no join and no extra exchange
    val withMed = medianMark(hist, "__val")
      .withColumn("__med",
        max(when(col("__hit"), col("__val"))).over(wKey))
      .drop("__start", "__t", "__hit")
    val devHist = withMed
      .withColumn("__dev", abs(col("__val") - col("__med")))
      .groupBy((keyCols :+ col("__med") :+ col("__dev")): _*)
      .agg(sum(col("__cnt")).as("__cnt"))
    // exactly one marked row per key survives → (key, med, mad)
    medianMark(devHist, "__dev")
      .filter(col("__hit"))
      .select((keyCols :+ col("__med") :+
        col("__dev").as("__mad")): _*)
  }

  /** O(batch) maintenance of the per-KEY discrete value histogram —
    * the rolling MAD gate's model substrate as a STORE: each day's
    * batch appends its (key, value)-grain count delta (one
    * map-side-combinable fold over the batch; ≤ Σ per-key distinct
    * values rows) under its batch id. The
    * [[updateValueHistogram]] posture exactly: append-only, nothing
    * read back on the write path, replay-safe because duplicate
    * (batch, key, value) delta rows collapse before summing on
    * serve. Discrete-signal contract as [[robustStatsDiscrete]]:
    * per-key distinct-value cardinality must be task-bounded.
    * Returns the batch's row count, observed on the write job
    * itself. */
  def updateKeyedValueHistogram(batch: DataFrame, keys: Seq[String],
                                valueCol: Column, storeDir: String,
                                batchId: Long): Long = {
    val delta = batch
      .groupBy((keys.map(col) :+ valueCol.as("__val")): _*)
      .agg(sum(lit(1L)).as("__cnt"))
      .withColumn("__batch", lit(batchId))
    val obs = new org.apache.spark.sql.Observation()
    graft.io.CountLog.append(
      delta.observe(obs, coalesce(sum(col("__cnt")), lit(0L)).as("n")),
      storeDir, "keyed_value_hist")
    obs.get("n").asInstanceOf[Long]
  }

  /** Compact an [[updateKeyedValueHistogram]] store through the
    * shared [[graft.io.CountLog]] marker protocol (r15 — this log
    * previously had no compaction at all). NOTE the interaction with
    * the FROZEN-fold contract: batches at or before the compaction
    * watermark lose their individual identity, so a
    * [[keyedHistogramFromStore]] freeze point must stay strictly
    * beyond the watermark — the serve fold fails loudly otherwise.
    * Size `keepBatches` ≥ the gate's deepest look-back (for the
    * daily [[rollingMadGate]] protocol: the freeze point is always
    * the NEXT batch id, so any `keepBatches` ≥ 1 works). */
  def compactKeyedValueHistogram(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      keys: Seq[String], keepBatches: Int = 2): Unit =
    graft.io.CountLog.compact(spark, storeDir, "keyed_value_hist",
      keys :+ "__val", Seq("__cnt"), keepBatches)

  /** The per-key value histogram folded from an
    * [[updateKeyedValueHistogram]] store, restricted to batches
    * STRICTLY BEFORE `beforeBatch` — replay-safe (duplicate
    * (batch, key, value) rows collapse) and frozen by construction:
    * however late the fold is evaluated, deltas appended at or after
    * `beforeBatch` cannot leak into it. With batches partitioning a
    * snapshot this EQUALS the one-shot histogram — incremental ≡
    * one-shot. */
  def keyedHistogramFromStore(spark: org.apache.spark.sql.SparkSession,
                              storeDir: String, keys: Seq[String],
                              beforeBatch: Long = Long.MaxValue)
      : DataFrame = {
    // the freeze point must lie strictly beyond the compaction
    // watermark: a snapshot folds batches ≤ ft into one row-set, so
    // a cut at or before ft cannot be served — failing loudly here
    // beats silently including folded later batches (the assertCuts
    // fail-don't-guess posture)
    graft.io.CountLog.foldedThrough(spark, storeDir,
        "keyed_value_hist")
      .foreach(ft => require(beforeBatch > ft,
        s"keyedHistogramFromStore: freeze point $beforeBatch is at " +
          s"or before the compaction watermark $ft — batches up to " +
          s"$ft have been folded and can no longer be sliced; gate " +
          "with a later freeze point or compact less aggressively"))
    graft.io.CountLog.read(spark, storeDir, "keyed_value_hist")
      .filter(col("__batch") < beforeBatch)
      .dropDuplicates("__batch" +: keys :+ "__val")
      .groupBy((keys.map(col) :+ col("__val")): _*)
      .agg(sum(col("__cnt")).as("__cnt"))
  }

  /** Multi-day FROZEN-gate chaining without snapshot re-scans: gate
    * day `batchId`'s batch against the robust model re-fit from the
    * histogram STORE over days < `batchId` — so N days of
    * [[applyRobustStats]] chain at O(delta log) model cost per day
    * instead of O(corpus), and today's data still cannot move its
    * own gate (the fold's strict `__batch < batchId` bound holds
    * even for a gate replayed AFTER its own delta was appended).
    *
    * `maxStaleness` is the EXPLICIT staleness bound: the freshest
    * model day must be within `maxStaleness` batches of the gated
    * batch, or the call fails — a gate silently chained off a store
    * whose maintenance stalled a month ago would pass drifted data
    * against an antique model, the monitoring failure this exists to
    * alarm on. The probe reads only the column-pruned `__batch`
    * column of the delta log (the [[assertCuts]] tiny-job
    * discipline).
    *
    * Daily protocol: `rollingMadGate(day k)` THEN
    * `updateKeyedValueHistogram(day k, batchId = k)` — gate first,
    * append after, so day k+1's model includes day k. Keys unseen by
    * the model surface with NULL med/mad/flag, as
    * [[applyRobustStats]]. */
  def rollingMadGate(batch: DataFrame, keys: Seq[String],
                     valueCol: Column, k: Double, storeDir: String,
                     batchId: Long, maxStaleness: Long): DataFrame = {
    require(maxStaleness >= 1, s"maxStaleness=$maxStaleness")
    gateGuard(batch)
    val spark = batch.sparkSession
    val modelMax = graft.io.CountLog
      .read(spark, storeDir, "keyed_value_hist")
      .filter(col("__batch") < batchId)
      .agg(max(col("__batch"))).head()
    require(!modelMax.isNullAt(0),
      s"rollingMadGate: no batch earlier than $batchId in histogram " +
        s"store $storeDir — seed the store before gating")
    val freshest = modelMax.getLong(0)
    require(batchId - freshest <= maxStaleness,
      s"rollingMadGate: model is stale — freshest store batch " +
        s"$freshest is ${batchId - freshest} behind gated batch " +
        s"$batchId (bound $maxStaleness); resume histogram " +
        "maintenance before trusting the gate")
    // model is key-cardinality-sized; materialize it once so the
    // broadcast join does not re-read/re-fold the delta log per action
    val model = statsFromValueHistogram(
        keyedHistogramFromStore(spark, storeDir, keys, batchId), keys)
      .localCheckpoint(true)
    applyRobustStats(batch, model, keys, valueCol, k)
  }

  /** Per-bucket PSI report between `base` and `current` over literal
    * `cuts` (bucket i = values in (cuts(i-1), cuts(i)], open-ended at
    * both extremes — `B = cuts.length + 1` buckets). Shares are
    * Laplace-smoothed — `p_i = (c_i + 1) / (N + B)` — so empty
    * buckets on either side contribute finitely instead of ±∞ (the
    * standard guard; with B fixed and N large the smoothing is
    * negligible). Output per bucket: both counts, both smoothed
    * shares (rounded 6), the PSI contribution
    * `(p−q)·ln(p/q)` (rounded 6), and `psi_total` (the contribution
    * sum, same on every row — the alarm scalar). Conventional read:
    * < 0.1 stable, 0.1–0.25 moderate drift, > 0.25 retune/rebuild —
    * the same thresholds credit-scoring monitoring uses.
    *
    * Cut points are LITERALS by design (derive them once from the
    * base snapshot — e.g. [[graft.ops.Relational.sampleCuts]] — and
    * freeze them): re-deriving cuts per comparison would make drift
    * partially self-masking, and literals keep the report a pure
    * function of the two snapshots (oracle-checkable). Every bucket
    * gets a row even when empty on both sides. */
  def psiReport(base: DataFrame, current: DataFrame, valueCol: Column,
                cuts: Seq[Double]): DataFrame = {
    val bucket = psiBucket(valueCol, cuts)
    def sideCounts(df: DataFrame, name: String): DataFrame =
      df.select(bucket.as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(name))
    psiFromCounts(base.sparkSession,
      sideCounts(base, "n_base"), sideCounts(current, "n_cur"),
      cuts.length + 1)
  }

  /** The literal-cut bucket id [[psiReport]] and the histogram store
    * share — a pure row function, so every writer buckets
    * identically regardless of partitioning or engine. */
  def psiBucket(valueCol: Column, cuts: Seq[Double]): Column = {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.distinct == cuts,
      "cuts must be non-empty, ascending, distinct")
    cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(valueCol > lit(c), 1).otherwise(0) }
  }

  /** O(batch) maintenance of a per-bucket value histogram — the
    * PSI's count side as a STORE: a daily 100 TB pipeline cannot
    * re-scan the whole corpus to re-bucket it, so each batch appends
    * its own bucket-grain count DELTA (≤ nBuckets rows, from one
    * combinable fold over the batch) to a delta log, and the serve
    * side folds the log. The [[graft.ext.TextOps.updateBigramCounts]]
    * posture exactly: append-only, nothing read back on the write
    * path, replay-safe because duplicate (batch, bucket) delta rows
    * collapse before summing. Returns the batch's row count,
    * observed on the write job itself (no second pass). */
  def updateValueHistogram(batch: DataFrame, valueCol: Column,
                           cuts: Seq[Double], storeDir: String,
                           batchId: Long): Long = {
    // every delta row carries the cut-set tag, and serving REQUIRES
    // a single tag matching the reader's cuts: a store silently
    // accumulating deltas bucketed under two different cut sets
    // would still produce a plausible-looking PSI — the
    // bigramCountStream posture, enforced rather than documented
    val delta = batch.select(psiBucket(valueCol, cuts).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("__n"))
      .withColumn("__batch", lit(batchId))
      .withColumn("__cuts", lit(cutsTag(cuts)))
    val obs = new org.apache.spark.sql.Observation()
    graft.io.CountLog.append(
      delta.observe(obs, coalesce(sum(col("__n")), lit(0L)).as("n")),
      storeDir, "value_hist")
    obs.get("n").asInstanceOf[Long]
  }

  /** Compact an [[updateValueHistogram]] store through the shared
    * [[graft.io.CountLog]] marker protocol (r15). The `__cuts` tag
    * rides as a key column, so the folded snapshot keeps one tag per
    * bucket row and [[assertCuts]]'s mixed-cut-set detection works
    * unchanged across compaction. */
  def compactValueHistogram(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String,
                            keepBatches: Int = 2): Unit =
    graft.io.CountLog.compact(spark, storeDir, "value_hist",
      Seq("bucket", "__cuts"), Seq("__n"), keepBatches)

  private def cutsTag(cuts: Seq[Double]): String = cuts.mkString(",")

  /** Require every delta in `hist` to carry `expected`'s cut tag —
    * the frame is delta-log-sized, so the probe is a tiny job. */
  private def assertCuts(hist: DataFrame, expected: Seq[Double],
                         what: String): Unit = {
    val tags = hist.select("__cuts").distinct()
      .collect().map(_.getString(0))
    require(tags.forall(_ == cutsTag(expected)),
      s"$what holds deltas bucketed under cut set(s) " +
        s"[${tags.mkString(" | ")}], but the report asked for " +
        s"[${cutsTag(expected)}] — rebuild the store, the bucket " +
        "ids are not comparable")
  }

  /** The bucket histogram folded from a [[updateValueHistogram]]
    * store — replay-safe (duplicate (batch, bucket) rows collapse),
    * ≤ nBuckets × batches rows read. With batches partitioning a
    * snapshot this EQUALS the one-shot bucketing — incremental ≡
    * one-shot by construction. */
  def histogramFromStore(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String,
                         cuts: Seq[Double]): DataFrame = {
    // the cut set is REQUIRED: an optional check made it possible to
    // serve a histogram silently mixing deltas bucketed under
    // different cut sets — the exact plausible-looking-PSI failure
    // the __cuts tag enforces against in psiReportFromStores
    val raw = graft.io.CountLog.read(spark, storeDir, "value_hist")
    assertCuts(raw, cuts, s"histogram store $storeDir")
    raw.dropDuplicates("__batch", "bucket")
      .groupBy("bucket").agg(sum(col("__n")).as("__n"))
  }

  /** [[psiReport]] served from two [[updateValueHistogram]] stores —
    * the daily drift alarm without re-scanning either snapshot:
    * freeze the BASE store when its snapshot closes, keep appending
    * batch deltas to the CURRENT store, and this report costs two
    * histogram-log reads, full stop. Same output, same thresholds.
    * Both logs fold in ONE side-tagged pass (dedupe + pivot to the
    * two count columns), so the plan carries a single dedupe/fold
    * pair however many batches the logs hold. */
  def psiReportFromStores(spark: org.apache.spark.sql.SparkSession,
                          baseStoreDir: String, curStoreDir: String,
                          cuts: Seq[Double]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.distinct == cuts,
      "cuts must be non-empty, ascending, distinct")
    val nBuckets = cuts.length + 1
    def read(dir: String, side: String): DataFrame = {
      val raw = graft.io.CountLog.read(spark, dir, "value_hist")
      assertCuts(raw, cuts, s"histogram store $dir")
      raw.withColumn("__side", lit(side))
    }
    val folded = read(baseStoreDir, "b")
      .unionByName(read(curStoreDir, "c"))
      .dropDuplicates("__side", "__batch", "bucket")
      .groupBy("bucket")
      .agg(sum(when(col("__side") === "b", col("__n"))
          .otherwise(0L)).as("n_base"),
        sum(when(col("__side") === "c", col("__n"))
          .otherwise(0L)).as("n_cur"))
    psiFinish(allBuckets(spark, nBuckets)
      .join(folded, Seq("bucket"), "left")
      .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L))), nBuckets)
  }

  private def allBuckets(spark: org.apache.spark.sql.SparkSession,
                         nBuckets: Int): DataFrame =
    spark.range(nBuckets.toLong)
      .select(col("id").cast("int").as("bucket"))

  /** The PSI report tail shared by the inline and store-backed
    * forms: complete the bucket axis, Laplace-smooth, contributions
    * + total (see [[psiReport]] for the semantics). */
  private def psiFromCounts(spark: org.apache.spark.sql.SparkSession,
                            baseCounts: DataFrame, curCounts: DataFrame,
                            nBuckets: Int): DataFrame = {
    val joined = allBuckets(spark, nBuckets)
      .join(baseCounts, Seq("bucket"), "left")
      .join(curCounts, Seq("bucket"), "left")
      .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
    psiFinish(joined, nBuckets)
  }

  private def psiFinish(joined: DataFrame, nBuckets: Int): DataFrame = {
    // totals ride a window over the SAME buckets-sized frame (one
    // tiny single-partition exchange serves them and psi_total) —
    // a separate agg + join would re-plan the two side folds under
    // its own subtree (the duplication shows when the inputs are
    // cached frames, where exchange reuse does not collapse it)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    // contributions come from the UNROUNDED smoothed shares: a
    // low-count bucket on a multi-million-row snapshot has share
    // ~(c+1)/(N+B) < 5e-7, which round(…,6) flattens to 0.0 and the
    // log then turns into NaN/±inf — the exact case the smoothing
    // exists to guard. round(…,6) is display-only, applied last.
    joined
      .withColumn("__pb", (col("n_base") + 1).cast("double")
        / (sum(col("n_base")).over(wAll) + nBuckets))
      .withColumn("__pc", (col("n_cur") + 1).cast("double")
        / (sum(col("n_cur")).over(wAll) + nBuckets))
      .withColumn("__contrib",
        (col("__pb") - col("__pc")) * log(col("__pb") / col("__pc")))
      .withColumn("p_base", round(col("__pb"), 6))
      .withColumn("p_cur", round(col("__pc"), 6))
      .withColumn("psi_contrib", round(col("__contrib"), 6))
      .withColumn("psi_total", round(sum(col("__contrib")).over(wAll), 6))
      .select("bucket", "n_base", "n_cur", "p_base", "p_cur",
        "psi_contrib", "psi_total")
  }
}
