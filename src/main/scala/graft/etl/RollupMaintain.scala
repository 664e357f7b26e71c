package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Staging

/** Incrementally-maintained rollup: a persisted PARTIAL-aggregate
  * table (per group: count + per-measure sum, the classic mergeable
  * state) updated batch-by-batch, so the standing aggregate over a
  * growing 100 TB fact table costs O(batch + affected groups) per
  * load instead of a full rescan. `readFinal` derives the
  * user-facing aggregate (sum/count/avg) from the partials at read
  * time — exactly the partial/final split Spark's own HashAggregate
  * uses across the shuffle, lifted to cross-batch persistence.
  *
  * Only DISTRIBUTIVE/ALGEBRAIC aggregates (sum, count, min, max, avg
  * via sum+count) maintain this way; holistic ones (exact percentile,
  * count-distinct) need sketches instead — that scope is stated, not
  * hidden.
  *
  * The partials table is group-cardinality-sized — typically orders
  * of magnitude smaller than the fact table — so the read-merge-write
  * of the update is a small-table operation even when the fact table
  * is not; it stages through a temp directory before touching the
  * store (its lineage reads the store): the whole-table
  * [[graft.io.Staging.stageAndSwap]].
  *
  * Invariant (RollupSpec): after any batch sequence, `readFinal` ==
  * the direct aggregate over the concatenation of all batches; the
  * `incremental_rollup` registry query proves the same equality
  * against the DuckDB oracle.
  */
object RollupMaintain {

  /** Fold one batch into the partial-aggregate store: per group key,
    * add the batch's (sum, count) into the stored partials. Returns
    * the number of groups in the store after the update. */
  def updateRollup(spark: SparkSession, storeDir: String, table: String,
                   batch: DataFrame, groupCols: Seq[String],
                   measureCol: String): Long = {
    val bp = batch.groupBy(groupCols.map(col): _*)
      .agg(sum(col(measureCol).cast("decimal(25,6)")).as("psum"),
        count(col(measureCol)).as("pcnt"))
    // union + re-aggregate, NOT a join: groupBy places NULL group
    // keys in one group like any aggregate, whereas a full-outer join
    // on the keys is null-UNSAFE — a NULL-keyed store row and a
    // NULL-keyed batch row would both pass through unmatched and the
    // null group would duplicate forever. The decimal re-cast keeps
    // the stored schema stable (sum widens decimal(25,6) to (35,6)).
    val merged =
      if (!Staging.tableExists(spark, storeDir, table)) bp
      else Staging.readTable(spark, storeDir, table)
        .unionByName(bp)
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("psum")).cast("decimal(25,6)").as("psum"),
          sum(col("pcnt")).as("pcnt"))
    // merged reads the store it replaces → shared stage-and-swap
    Staging.stageAndSwap(spark, merged, storeDir, table, "rollup")
  }

  /** COUNT-DISTINCT maintained incrementally via mergeable HLL
    * sketches (Apache DataSketches through Spark's `hll_sketch_agg` /
    * `hll_union_agg`): exact count-distinct is holistic — partials
    * cannot merge — so the standing form persists a per-group sketch
    * (~KB regardless of cardinality) and unions new batches in. This
    * is the documented sketch path for the aggregates [[updateRollup]]
    * cannot maintain; estimate error is the standard HLL ~1-2% at the
    * default lgConfigK=12. The sketch union is associative and
    * commutative, so the maintained ESTIMATE equals a one-shot
    * sketch's estimate over all data (asserted in RollupSpec); the
    * sketch BYTES are not guaranteed identical — union-built sketches
    * can differ in mode/HIP state from directly-built ones. */
  def updateDistinctRollup(spark: SparkSession, storeDir: String,
                           table: String, batch: DataFrame,
                           groupCols: Seq[String],
                           keyCol: String): Long = {
    val bp = batch.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(keyCol)).as("sketch"))
    val merged =
      if (!Staging.tableExists(spark, storeDir, table)) bp
      else Staging.readTable(spark, storeDir, table)
        .unionByName(bp)
        .groupBy(groupCols.map(col): _*)
        .agg(hll_union_agg(col("sketch")).as("sketch"))
    Staging.stageAndSwap(spark, merged, storeDir, table, "hll")
  }

  /** Estimated distinct count per group from the persisted sketches. */
  def readDistinct(spark: SparkSession, storeDir: String,
                   table: String): DataFrame =
    Staging.readTable(spark, storeDir, table)
      .withColumn("approx_distinct",
        hll_sketch_estimate(col("sketch")))
      .drop("sketch")

  /** The user-facing aggregate derived from the partials: exact
    * decimal total (cast to double at the edge, the engine's
    * bit-determinism discipline), row count, and mean. */
  def readFinal(spark: SparkSession, storeDir: String,
                table: String): DataFrame =
    Staging.readTable(spark, storeDir, table)
      .select(col("*"),
        col("psum").cast("double").as("total"),
        // divide as double: decimal division would round the mean to
        // the partial's scale (6 dp) before the cast
        (col("psum").cast("double") / col("pcnt")).as("mean"))
      .drop("psum")
      .withColumnRenamed("pcnt", "n_rows")

  /** FREQUENCY sketch maintained incrementally: a single persisted
    * count-min sketch (plus the total row count) folded batch-by-
    * batch via [[graft.functions.CmsUnion]]. Unlike the HLL path,
    * CMS union is EXACT counter addition — the maintained sketch's
    * estimates are bit-identical to a one-shot sketch over all data
    * (asserted in RollupSpec) — so per-key frequency questions over
    * an unbounded key space cost KBs of state at any cardinality.
    * Same stage-and-swap discipline as the other stores. */
  def updateCms(spark: SparkSession, storeDir: String, table: String,
                batch: DataFrame, keyCol: String,
                eps: Double = 0.001, confidence: Double = 0.99,
                seed: Int = 42): Long = {
    val bp = batch.agg(
      count_min_sketch(col(keyCol), lit(eps), lit(confidence),
        lit(seed)).as("sketch"),
      count(lit(1)).as("n_total"))
    val merged =
      if (!Staging.tableExists(spark, storeDir, table)) bp
      else Staging.readTable(spark, storeDir, table)
        .unionByName(bp)
        .agg(graft.functions.CmsUnion.column(col("sketch")).as("sketch"),
          sum(col("n_total")).as("n_total"))
    Staging.stageAndSwap(spark, merged, storeDir, table, "cms")
  }

  /** The persisted sketch row (sketch binary + total count). */
  def readCms(spark: SparkSession, storeDir: String,
              table: String): DataFrame =
    Staging.readTable(spark, storeDir, table)
}
