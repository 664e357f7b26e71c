package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver-generated testdata
  * (TESTDATA.md: `region nation customer supplier part orders lineitem
  * events documents embeddings`, one parquet file per table under an
  * `sf{N}` directory).
  *
  * At cluster scale these would be partitioned-directory datasets; the
  * access path (`spark.read.parquet`) is identical — Spark globs,
  * prunes partitions, and pushes filters/projections into the scan
  * either way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every table, `events` included, is a plain parquet read. The
    * testdata and the perfbench generator write `events.ts` as a µs
    * `timestamp`, which Spark reads natively, so no read sets session
    * conf. A nanosecond `ts` file fails the read with
    * `[PARQUET_TYPE_ILLEGAL] Illegal Parquet type: INT64
    * (TIMESTAMP(NANOS,false))` rather than being silently reinterpreted. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, d: String): DataFrame = apply(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = apply(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = apply(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = apply(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = apply(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = apply(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = apply(spark, d, "lineitem")
  def events(spark: SparkSession, d: String): DataFrame = apply(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = apply(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = apply(spark, d, "embeddings")
}
