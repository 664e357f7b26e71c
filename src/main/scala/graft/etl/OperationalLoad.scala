package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType
import graft.IndependentJobs
import graft.io.{JdbcStore, Staging}
import graft.ops.Relational
import graft.schema.Schemas

/** Entry-point C (SURVEY.md §3): staging CSVs → operational store with
  * incremental anti-join loads. Reference
  * `transform_and_load_to_operational_db` + `load_data_if_new`
  * (`data/transformation_db.py:91-162`).
  *
  * The load is idempotent: running twice loads 0 new rows the second
  * time (reference behavior at transformation_db.py:113-119). Unlike
  * the reference — which materializes every existing key into a
  * driver-side Python set — the "is it new" check here is a
  * distributed left-anti join against the store's key column only
  * (column-pruned parquet scan, broadcastable when small).
  *
  * A load starts no job it does not use. The store's key column is
  * read with a requested one-column schema (the batch's own key
  * field), so no schema-inference job runs on the store. Emptiness is
  * decided by [[Staging.readCsvPrefix]]'s file probe: a prefix with
  * no CSV reads as an empty local relation, which [[load]] recognises
  * from the plan alone, and no CSV scan runs just to ask.
  */
object OperationalLoad {

  /** Reference `load_data_if_new` (transformation_db.py:91-121):
    * dedupe by key → rename → project → anti-join existing → append.
    * Returns the number of new rows loaded. */
  def loadIfNew(spark: SparkSession, df: DataFrame, storeDir: String,
                table: String, idColumn: String,
                columnMapping: Map[String, String] = Map.empty,
                selectColumns: Seq[String] = Nil): Long =
    load(df, idColumn, columnMapping, selectColumns,
      Option.when(Staging.tableExists(spark, storeDir, table))(
        spark.read.schema(StructType(Seq(
            df.schema(idColumn).copy(nullable = true))))
          .parquet(s"$storeDir/$table")))(
      Staging.appendParquet(_, storeDir, table))

  /** [[loadIfNew]] against a JDBC operational store — the fidelity
    * path: the reference's store is genuinely a SQL database
    * (`pd.read_sql_table` / `to_sql(if_exists='append')`,
    * transformation_db.py:109-116). Same pipeline; the "existing
    * keys" side is [[graft.io.JdbcStore.keyScan]] (F3) — a
    * server-side single-column SELECT that arrives distributed, never
    * a driver-side key set — and the append is batched INSERTs (F5).
    * Idempotent: a second identical run loads 0. */
  def loadIfNewJdbc(spark: SparkSession, df: DataFrame, url: String,
                    table: String, idColumn: String,
                    columnMapping: Map[String, String] = Map.empty,
                    selectColumns: Seq[String] = Nil): Long =
    load(df, idColumn, columnMapping, selectColumns,
      Option.when(JdbcStore.tableExists(url, table))(
        JdbcStore.keyScan(spark, url, table, idColumn)))(
      JdbcStore.append(_, url, table))

  /** The one load pipeline behind both sinks. `existing` (the store's
    * keys, None when the table is absent) is by-name so an empty batch
    * never probes the store. */
  private def load(df: DataFrame, idColumn: String,
                   columnMapping: Map[String, String],
                   selectColumns: Seq[String],
                   existing: => Option[DataFrame])
                  (append: DataFrame => Unit): Long = {
    if (provablyEmpty(df)) return 0L
    var d = Relational.dedupeByKey(df, idColumn)
    if (columnMapping.nonEmpty) d = Relational.renameAll(d, columnMapping)
    if (selectColumns.nonEmpty) d = Relational.selectExisting(d, selectColumns)
    val fresh = existing.fold(d)(Relational.antiJoinNewKeys(d, _, idColumn))
    // Load accounting (reference transformation_db.py:117) via the
    // Observation API: the row count is collected from the SAME job
    // that writes the append — one pass over the data instead of the
    // cache + count + write double-execution this used to do. A
    // nothing-new run appends an empty part file (vs the old skip) —
    // accepted litter at daily cadence; [[Staging.compactTable]]
    // reclaims it through the whole-table [[Staging.stageAndSwap]].
    val obs = new org.apache.spark.sql.Observation()
    append(fresh.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** True when the optimized plan is an empty local relation — an
    * answer from the plan alone, with no Spark job. A batch that only
    * turns out empty when scanned runs the load and appends 0 rows. */
  private def provablyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.isEmpty
      case _                => false
    }

  /** The five table loads (reference transformation_db.py:124-162),
    * run side by side ([[graft.IndependentJobs]]): no load reads
    * another's table. */
  def run(spark: SparkSession, stagingDir: String,
          storeDir: String): Map[String, Long] = {
    Schemas.operational.foreach { case (t, s) =>
      Staging.ensureTable(spark, storeDir, t, s)
    }
    def staged(t: String, schema: StructType) =
      Staging.readCsvPrefix(spark, s"$stagingDir/$t", schema)
    // The reference merges search + detail records before staging
    // (extraction.py:139-148, E5 coalesce). Our staging schema keeps
    // both; apply the coalesce here so the store sees final columns.
    val places = {
      import org.apache.spark.sql.functions.col
      import graft.ops.Scalars
      staged("places", Schemas.stagingPlaces)
        .withColumn("name",
          Scalars.coalesceNonEmpty(col("name_detail"), col("name")))
        .withColumn("types", col("types_detail"))
        .withColumn("lat", col("lat_detail"))
        .withColumn("lng", col("lng_detail"))
    }
    IndependentJobs.run(Seq(
      "places" -> (() => loadIfNew(spark, places, storeDir, "places",
        "place_id", selectColumns = Schemas.places.fieldNames.toSeq)),
      "reviews" -> (() => loadIfNew(spark,
        staged("reviews", Schemas.stagingReviews),
        storeDir, "reviews", "id_review")),
      "tweets" -> (() => loadIfNew(spark,
        staged("tweets", Schemas.stagingTweets),
        storeDir, "tweets", "id_tweet")),
      "pemasukan" -> (() => loadIfNew(spark,
        staged("pemasukan", Schemas.stagingPemasukan),
        storeDir, "pemasukan", "id_transaksi_original")),
      "pengeluaran" -> (() => loadIfNew(spark,
        staged("pengeluaran", Schemas.stagingPengeluaran),
        storeDir, "pengeluaran", "id_transaksi_original"))))
  }
}
