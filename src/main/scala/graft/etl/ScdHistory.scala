package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.VersionedStore

/** Slowly-changing-dimension (type 2) history: versioned dimension
  * rows with `valid_from` / `valid_to` / `is_current`, the standard
  * answer to "what did this customer's attributes look like when the
  * fact happened?". The reference's mart truncate-loads its
  * dimensions (transformation_dw.py:154-156) and so keeps only the
  * latest attribute values; SCD2 is what that layer grows into when
  * history starts to matter.
  *
  * Scale shapes:
  *   - [[buildHistory]] is one window per key (change-point
  *     detection via lag) — a single shuffle on the key, no
  *     self-join; per-key runs are event-count bounded, and a hot
  *     entity is bounded by its own change count, not the corpus;
  *   - [[applyBatch]] touches only keys present in the batch: the
  *     anti-join + union shape of `loadIfNew`, so a daily batch
  *     costs O(batch + matched keys), never a dimension rescan.
  *
  * The history store is a [[graft.io.VersionedStore]] table: each
  * batch commits the folded history as the next immutable version,
  * so a batch that dies mid-write leaves nothing a reader sees and
  * nothing that makes the next batch refuse. Read it with
  * [[VersionedStore.readTable]]; a history written in the plain
  * parquet layout (files directly under `<storeDir>/<table>`) has no
  * committed version and is not read.
  */
object ScdHistory {

  /** Collapse an attribute-event stream into SCD2 version rows: one
    * row per (key, consecutive run of identical tracked attributes),
    * `valid_from` = first event of the run, `valid_to` = start of the
    * next run (null while current). Events that repeat the previous
    * attribute value extend the run instead of opening a version —
    * the dedup-against-latest rule of SCD maintenance. */
  def buildHistory(events: DataFrame, keyCol: String,
                   attrCols: Seq[String], tsCol: String): DataFrame = {
    val byTs = Window.partitionBy(keyCol).orderBy(tsCol)
    val attrs = attrCols.map(col)
    // change flag: first event of a key, or any tracked attr differs
    // from the previous event (null-safe: <=> treats NULL = NULL)
    val changed = attrCols.map(c =>
      !(col(c) <=> lag(col(c), 1).over(byTs)))
      .reduce(_ || _) || lag(col(tsCol), 1).over(byTs).isNull
    val versions = events
      .withColumn("__chg", changed)
      .filter(col("__chg"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(
        Window.partitionBy(keyCol).orderBy(tsCol)))
      .withColumn("is_current", col("valid_to").isNull)
    versions.select((col(keyCol) +: attrs) ++
      Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }

  /** Fold a batch of attribute updates into a persisted SCD2 store:
    * keys whose CURRENT attributes differ get their current version
    * closed (`valid_to` = batch ts) and a new open version appended;
    * unchanged keys and untouched keys are not rewritten logically
    * (the store is small — dimension-sized — so the physical rewrite
    * is a whole new version, the same commit as [[RollupMaintain]]'s
    * stores). A rejected batch commits nothing. Returns version-row
    * count. */
  def applyBatch(spark: SparkSession, storeDir: String, table: String,
                 batch: DataFrame, keyCol: String,
                 attrCols: Seq[String], tsCol: String): Long =
    if (!VersionedStore.tableExists(spark, storeDir, table))
      VersionedStore.commit(spark,
        buildHistory(batch, keyCol, attrCols, tsCol), storeDir, table)
    else VersionedStore.commitTransform(spark, storeDir, table) { store =>
      val current = store.filter(col("is_current"))
      val history = store.filter(!col("is_current"))
      // LATE-EVENT GUARD: a batch event at or before its key's
      // current valid_from would be replayed BEFORE the seed row,
      // emitting a version that overlaps the already-closed history
      // (an asOf fact in the overlap would then match two versions
      // and silently duplicate). SCD2 maintenance is forward-only;
      // late data must be quarantined or the history rebuilt from
      // the full event log — so reject loudly, never corrupt.
      val late = batch.join(current.select(col(keyCol),
          col("valid_from").as("__cur_from")), Seq(keyCol))
        .filter(col(tsCol) <= col("__cur_from")).count()
      require(late == 0L,
        s"$late batch event(s) at or before their key's current " +
          s"valid_from — out-of-order SCD input would overlap closed " +
          "history; quarantine the late events or rebuild from the " +
          "full log")
      // one version event per (key, ts) from the batch, replayed
      // over the key's current attributes via buildHistory: the
      // current open row becomes the seed event so unchanged
      // attributes extend it and changed ones close it
      val seed = current.select((col(keyCol) +:
        attrCols.map(col) :+ col("valid_from").as(tsCol)): _*)
      val replay = buildHistory(
        seed.unionByName(
          batch.select((col(keyCol) +: attrCols.map(col) :+
            col(tsCol)): _*)),
        keyCol, attrCols, tsCol)
      history.unionByName(replay)
    }

  /** Point-in-time join: enrich facts with the dimension version that
    * was valid AT the fact's timestamp — the query SCD2 exists for.
    * Range-predicate join on the key: Spark plans it as a broadcast
    * or sort-merge join on the key with the validity window as a
    * post-join filter, never a cross product. */
  def asOf(facts: DataFrame, dim: DataFrame, keyCol: String,
           factTs: String): DataFrame =
    facts.join(dim,
      facts(keyCol) === dim(keyCol) &&
        facts(factTs) >= dim("valid_from") &&
        (dim("valid_to").isNull || facts(factTs) < dim("valid_to")),
      "left")
      .drop(dim(keyCol))
}
