package graft.schema

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Catalog-table form of the D1/D2 DDL surface: the reference's
  * `CREATE TABLE IF NOT EXISTS` layers (`transformation_db.py:11-89`,
  * `transformation_dw.py:6-120`) expressed as Spark SQL DDL over the
  * session catalog, so the SQL-text interface can address the
  * operational store and the mart as NAMED tables
  * (`graft_ops.reviews`, `graft_mart.fact_maps`) exactly as the
  * reference's SQL layer does — complementing [[graft.io.Staging]]'s
  * path-based form of the same semantics.
  *
  * All tables are EXTERNAL (`USING parquet LOCATION`): the catalog
  * holds schema + location metadata only, the data files stay where
  * the store wrote them — dropping a catalog entry never deletes
  * data, and the path-based API keeps working unchanged against the
  * same files. At 100 TB the catalog is what makes governed SQL
  * access possible (predicate pushdown, column pruning, and partition
  * pruning all flow through the catalog schema to the same parquet
  * scans the DataFrame API plans).
  */
object CatalogDDL {

  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** Fully-qualified location URI of an existing catalog table, for
    * idempotence checks (the catalog stores qualified URIs like
    * `file:/data/t`; callers pass plain paths). */
  private def currentLocation(spark: SparkSession, db: String,
                              table: String): Option[String] =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        table, Some(db)))
      .storage.locationUri.map(_.toString)

  private def qualify(spark: SparkSession, location: String): String = {
    val p = new org.apache.hadoop.fs.Path(location)
    graft.io.Fs.get(spark, p).makeQualified(p).toUri.toString
  }

  /** True idempotence, not just `IF NOT EXISTS`: re-registering an
    * existing name whose catalog entry points at a DIFFERENT
    * directory drops and recreates it — a bare `IF NOT EXISTS` would
    * silently keep the stale location and serve old data with no
    * error (registering `store_v2` over a `store_v1` entry is the
    * textbook case). Same location → no-op. */
  private def dropIfRelocated(spark: SparkSession, db: String,
                              table: String, location: String): Unit =
    if (spark.catalog.tableExists(s"`$db`.`$table`") &&
      !currentLocation(spark, db, table)
        .contains(qualify(spark, location)))
      spark.sql(s"DROP TABLE `$db`.`$table`")

  /** `CREATE TABLE IF NOT EXISTS db.table (<declared schema>) USING
    * parquet LOCATION ...` — the declared StructType (not inference)
    * is the catalog schema, mirroring the reference DDL's explicit
    * column lists. */
  def ensureExternalTable(spark: SparkSession, db: String, table: String,
                          schema: StructType, location: String): Unit = {
    dropIfRelocated(spark, db, table, location)
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$table` " +
      s"(${schema.toDDL}) USING parquet LOCATION '$location'")
  }

  /** Schema-inferred variant for tables without a declared StructType
    * (e.g. registering existing parquet datasets for SQL access). */
  def ensureExternalTable(spark: SparkSession, db: String, table: String,
                          location: String): Unit = {
    dropIfRelocated(spark, db, table, location)
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$table` " +
      s"USING parquet LOCATION '$location'")
  }

  /** D1 catalog form: every operational table registered under `db`
    * with its declared schema (reference transformation_db.py:18-85). */
  def registerOperationalStore(spark: SparkSession, storeDir: String,
                               db: String = "graft_ops"): Unit = {
    ensureDatabase(spark, db)
    Schemas.operational.foreach { case (t, s) =>
      ensureExternalTable(spark, db, t, s, s"$storeDir/$t")
    }
  }

  /** D2 catalog form: the star schema registered under `db`
    * (reference transformation_dw.py:11-116). */
  def registerMart(spark: SparkSession, martDir: String,
                   db: String = "graft_mart"): Unit = {
    ensureDatabase(spark, db)
    Schemas.mart.foreach { case (t, s) =>
      ensureExternalTable(spark, db, t, s, s"$martDir/$t")
    }
  }
}
