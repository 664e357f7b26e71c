package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.IndependentJobs
import graft.io.Staging
import graft.ops.{Relational, Scalars}
import graft.schema.Schemas

/** Entry-point D (SURVEY.md §3): operational store → star-schema mart,
  * 7 dimensions + 4 facts, truncate-load each. Reference
  * `transform_and_load_to_bigquery_data_mart`
  * (`data/transformation_dw.py:122-334`).
  *
  * Each build is a pure `DataFrame => DataFrame` (unit-testable); the
  * [[run]] driver wires the store reads and overwrite sinks. All
  * builds are single-shuffle (dedupe or distinct) or shuffle-free
  * (project+filter) — at 100 TB the facts stream through scan→project→
  * filter with no wide dependency at all.
  *
  * The store is read with the declared operational schemas
  * (`Schemas.operational`), so no read pays a schema-inference job:
  * the store holds what `OperationalLoad` appends, which is exactly
  * those columns and types.
  */
object MartBuild {

  /** dim_waktu (reference transformation_dw.py:129-157): union the 4
    * operational timestamp columns → distinct → derive time parts →
    * drop nulls. */
  def dimWaktu(reviews: DataFrame, tweets: DataFrame, pemasukan: DataFrame,
               pengeluaran: DataFrame): DataFrame = {
    val ts = Relational.unionAll(Seq(
      reviews.select(col("timestamp_review").as("timestamp_datetime")),
      tweets.select(col("created_at_tweet").as("timestamp_datetime")),
      pemasukan.select(col("timestamp").as("timestamp_datetime")),
      pengeluaran.select(col("timestamp").as("timestamp_datetime"))))
      .na.drop().distinct()
    ts.select(
      col("timestamp_datetime"),
      Scalars.timeOfDay(col("timestamp_datetime")).as("jam"),
      Scalars.dayName(col("timestamp_datetime")).as("hari"),
      Scalars.dateOf(col("timestamp_datetime")).as("tanggal"),
      Scalars.yearMonth(col("timestamp_datetime")).as("bulan"),
      Scalars.yearOf(col("timestamp_datetime")).as("tahun"))
  }

  /** dim_place (transformation_dw.py:160-183). */
  def dimPlace(places: DataFrame): DataFrame = {
    val d = Relational.renameAll(
      places.select("place_id", "name", "lat", "lng", "types",
        "phone_number", "opening_hours_text"),
      Map("name" -> "nama_tempat", "lat" -> "latitude",
        "lng" -> "longitude", "types" -> "tipe_tempat",
        "phone_number" -> "kontak",
        "opening_hours_text" -> "jam_operasional"))
    Relational.dedupeByKey(
      Relational.dropNullsIn(d, Seq("place_id", "nama_tempat", "latitude",
        "longitude", "tipe_tempat")),
      "place_id")
  }

  /** dim_user (transformation_dw.py:186-197). */
  def dimUser(tweets: DataFrame): DataFrame =
    Relational.dropNullsIn(
      Relational.dedupeByKey(
        Relational.renameAll(
          tweets.select("id_author_twitter", "author_location"),
          Map("id_author_twitter" -> "id_user",
            "author_location" -> "lokasi_user")),
        "id_user"),
      Seq("id_user"))

  /** dim_vendor (transformation_dw.py:200-208). */
  def dimVendor(pengeluaran: DataFrame): DataFrame =
    Relational.dropNullsIn(
      Relational.dedupeByKey(
        pengeluaran.select("id_vendor", "nama_vendor"), "id_vendor"),
      Seq("id_vendor", "nama_vendor"))

  /** dim_departemen (transformation_dw.py:211-219). */
  def dimDepartemen(pengeluaran: DataFrame): DataFrame =
    Relational.dropNullsIn(
      Relational.dedupeByKey(
        pengeluaran.select("id_departemen", "nama_departemen"),
        "id_departemen"),
      Seq("id_departemen", "nama_departemen"))

  /** dim_proyek (transformation_dw.py:222-233): union income+expense
    * project rows, dedupe on id_proyek, drop nulls. */
  def dimProyek(pemasukan: DataFrame, pengeluaran: DataFrame): DataFrame =
    Relational.dropNullsIn(
      Relational.unionDedupe(
        pemasukan.select("id_proyek", "nama_proyek", "sektor_pariwisata"),
        pengeluaran.select("id_proyek", "nama_proyek", "sektor_pariwisata"),
        "id_proyek"),
      Seq("id_proyek", "nama_proyek", "sektor_pariwisata"))

  /** dim_penyumbang (transformation_dw.py:236-244). */
  def dimPenyumbang(pemasukan: DataFrame): DataFrame =
    Relational.dropNullsIn(
      Relational.dedupeByKey(
        pemasukan.select("id_penyumbang", "nama_penyumbang",
          "jenis_penyumbang"),
        "id_penyumbang"),
      Seq("id_penyumbang", "nama_penyumbang", "jenis_penyumbang"))

  /** fact_maps (transformation_dw.py:248-262). */
  def factMaps(reviews: DataFrame): DataFrame =
    Relational.dropNullsIn(
      Relational.renameAll(
        reviews.select("id_review", "timestamp_review", "place_id",
          "author_url", "review_text", "rating"),
        Map("timestamp_review" -> "timestamp_datetime",
          "review_text" -> "review_longtext")),
      Seq("id_review", "timestamp_datetime", "place_id", "author_url",
        "review_longtext", "rating"))

  /** fact_twitter (transformation_dw.py:265-289): left-enrich tweets
    * with the place name — places is the small side, broadcast. */
  def factTwitter(tweets: DataFrame, places: DataFrame): DataFrame = {
    val enriched = Relational.leftEnrich(
      tweets, places, "place_id_source", "place_id", Seq("name"))
    Relational.dropNullsIn(
      Relational.renameAll(enriched,
        Map("created_at_tweet" -> "created_at_datetime",
          "name" -> "nama_lokasi", "id_author_twitter" -> "id_user"))
        .select("id_tweet", "created_at_datetime", "id_user",
          "nama_lokasi", "text_tweet"),
      Seq("id_tweet", "created_at_datetime", "id_user", "nama_lokasi",
        "text_tweet"))
  }

  /** fact_pengeluaran (transformation_dw.py:292-311). BIGNUMERIC
    * amounts → DecimalType(38,9) (SURVEY §1). */
  def factPengeluaran(pengeluaran: DataFrame): DataFrame =
    Relational.dropNullsIn(
      Relational.renameAll(
        pengeluaran.select("id_transaksi_original", "timestamp",
          "jenis_kebutuhan", "id_vendor", "id_departemen", "jumlah",
          "bukti", "id_proyek"),
        Map("id_transaksi_original" -> "id_transaksi",
          "timestamp" -> "timestamp_datetime",
          "jumlah" -> "jumlah_pengeluaran",
          "bukti" -> "bukti_pengeluaran"))
        .withColumn("jumlah_pengeluaran",
          col("jumlah_pengeluaran").cast(Schemas.money)),
      Seq("id_transaksi", "timestamp_datetime", "jenis_kebutuhan",
        "id_vendor", "id_departemen", "jumlah_pengeluaran", "id_proyek"))

  /** fact_pemasukan (transformation_dw.py:314-333). */
  def factPemasukan(pemasukan: DataFrame): DataFrame =
    Relational.dropNullsIn(
      Relational.renameAll(
        pemasukan.select("id_transaksi_original", "timestamp",
          "jenis_pemasukan", "id_penyumbang", "jumlah", "bukti",
          "id_proyek"),
        Map("id_transaksi_original" -> "id_transaksi_income",
          "timestamp" -> "timestamp_datetime",
          "jumlah" -> "jumlah_pemasukan",
          "bukti" -> "bukti_pemasukan"))
        .withColumn("jumlah_pemasukan",
          col("jumlah_pemasukan").cast(Schemas.money)),
      Seq("id_transaksi_income", "timestamp_datetime", "jenis_pemasukan",
        "id_penyumbang", "jumlah_pemasukan", "id_proyek"))

  /** Build all 11 mart tables from the operational store and
    * truncate-load each (reference WRITE_TRUNCATE), the 11 writes side
    * by side ([[graft.IndependentJobs]]): each reads only the store.
    * Returns loaded row counts. */
  def run(spark: SparkSession, storeDir: String,
          martDir: String): Map[String, Long] =
    IndependentJobs.run(builds(spark, storeDir).map { case (name, df) =>
      name -> { () =>
        Staging.overwriteParquet(df, martDir, name)
        graft.io.ParquetFooters.rowCount(spark, Seq(s"$martDir/$name"))
      }
    })

  /** Atomic form of [[run]]: build all 11 tables, publish them as ONE
    * mart commit ([[graft.io.MartStore.publishAll]]) — a reader
    * resolving a snapshot never observes a mix of pre- and
    * post-rebuild tables, the property the reference's 11 sequential
    * WRITE_TRUNCATEs (`transformation_dw.py:122-334`) cannot give.
    * Replay-idempotent on `batchId`. */
  def runVersioned(spark: SparkSession, storeDir: String,
                   martDir: String, batchId: Option[String] = None)
      : graft.io.MartStore.Snapshot =
    graft.io.MartStore.publishAll(spark, builds(spark, storeDir),
      martDir, batchId)

  /** An operational store table, read with its declared schema. */
  private def storeTable(spark: SparkSession, storeDir: String,
                         name: String): DataFrame =
    spark.read.schema(Schemas.operational(name))
      .parquet(s"$storeDir/$name")

  private def builds(spark: SparkSession,
                     storeDir: String): Seq[(String, DataFrame)] = {
    def t(name: String) = storeTable(spark, storeDir, name)
    val (places, reviews, tweets) = (t("places"), t("reviews"), t("tweets"))
    val (pemasukan, pengeluaran) = (t("pemasukan"), t("pengeluaran"))
    Seq(
      "dim_waktu" -> dimWaktu(reviews, tweets, pemasukan, pengeluaran),
      "dim_place" -> dimPlace(places),
      "dim_user" -> dimUser(tweets),
      "dim_vendor" -> dimVendor(pengeluaran),
      "dim_departemen" -> dimDepartemen(pengeluaran),
      "dim_proyek" -> dimProyek(pemasukan, pengeluaran),
      "dim_penyumbang" -> dimPenyumbang(pemasukan),
      "fact_maps" -> factMaps(reviews),
      "fact_twitter" -> factTwitter(tweets, places),
      "fact_pengeluaran" -> factPengeluaran(pengeluaran),
      "fact_pemasukan" -> factPemasukan(pemasukan))
  }
}
