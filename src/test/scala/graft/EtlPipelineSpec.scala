package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.etl.Pipeline
import graft.io.Staging
import graft.schema.Schemas

/** End-to-end golden test of the ETL topology (SURVEY.md §5.3):
  * fixture staging CSVs → operational load → mart build, run twice to
  * assert idempotency (second run loads 0 new rows — reference
  * behavior at transformation_db.py:113-119).
  */
class EtlPipelineSpec extends SparkSpec {

  private def write(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content.stripMargin.trim + "\n")
  }

  private def fixtures(root: Path): Unit = {
    write(root.resolve("places"), "places_1.csv",
      """place_id,name,rating_search,name_detail,phone_number,opening_hours_text,types_detail,lat_detail,lng_detail
        |p1,Beach Search,4.5,Beach Detail,081234,Mon: 9 | Tue: 9,"beach, tourist",-8.1,115.1
        |p2,Temple,4.8,,,,temple,-8.2,115.2
        |p2,Temple DUP,4.8,,,,temple,-8.2,115.2
        |p3,NoCoords,4.0,,,,park,,""")
    write(root.resolve("reviews"), "reviews_1.csv",
      """id_review,timestamp_review,place_id,author_url,review_text,rating
        |r1,2024-03-01 10:30:00,p1,http://a,Great!,5.0
        |r2,2024-03-02 11:00:00,p1,http://b,Nice,4.0
        |r3,2024-03-03 12:00:00,p2,http://c,,3.0""")
    write(root.resolve("tweets"), "tweets_1.csv",
      """id_tweet,place_id_source,keyword_search,created_at_tweet,text_tweet,id_author_twitter,author_location,tweet_geo_place_id
        |t1,p1,pantai,2024-03-01 09:00:00,indah sekali,u1,Bali,
        |t2,p9,candi,2024-03-02 09:30:00,bagus,u2,Jakarta,g1
        |t3,p2,candi,2024-03-03 10:00:00,mantap,u1,Bali,""")
    write(root.resolve("pemasukan"), "pemasukan_1.csv",
      """id_transaksi_original,timestamp,id_proyek,nama_proyek,sektor_pariwisata,id_penyumbang,nama_penyumbang,jenis_penyumbang,jenis_pemasukan,jumlah,bukti
        |in1,2024-03-01 08:00:00,pr1,Pantai Kuta,pantai,d1,Dinas,pemerintah,dana,1000000,b1
        |in2,2024-03-02 08:30:00,pr2,Candi,candi,d2,Swasta,swasta,dana,2000000,""")
    write(root.resolve("pengeluaran"), "pengeluaran_1.csv",
      """id_transaksi_original,timestamp,id_proyek,nama_proyek,sektor_pariwisata,id_vendor,nama_vendor,id_departemen,nama_departemen,jenis_kebutuhan,jumlah,bukti
        |out1,2024-03-01 14:00:00,pr1,Pantai Kuta,pantai,v1,CV Maju,dep1,Ops,alat,500000,b2
        |out2,2024-03-03 15:00:00,pr3,Museum,museum,v2,PT Jaya,dep2,Marketing,iklan,750000,""")
  }

  test("pipeline end-to-end: load, mart golden, idempotent re-run") {
    val root = Files.createTempDirectory("graft-etl")
    val (staging, store, mart) =
      (root.resolve("staging"), root.resolve("store"), root.resolve("mart"))
    fixtures(staging)

    val r1 = Pipeline.run(spark, staging.toString, store.toString,
      mart.toString)
    // places: 4 rows staged, 1 dup key → 3 loaded
    assert(r1.loaded == Map("places" -> 3, "reviews" -> 3, "tweets" -> 3,
      "pemasukan" -> 2, "pengeluaran" -> 2))
    // dim_place: p3 has null lat → dropped
    assert(r1.mart("dim_place") == 2)
    // dim_waktu: 10 distinct timestamps across 4 tables
    assert(r1.mart("dim_waktu") == 10)
    // dim_user: u1 (twice) + u2
    assert(r1.mart("dim_user") == 2)
    // dim_proyek: pr1 (both sides), pr2, pr3
    assert(r1.mart("dim_proyek") == 3)
    // fact_maps: r3 has empty review_text → dropped by NOT NULL
    assert(r1.mart("fact_maps") == 2)
    // fact_twitter: t2 joins no place (p9) → nama_lokasi null → dropped;
    // t1, t3 survive
    assert(r1.mart("fact_twitter") == 2)
    assert(r1.mart("fact_pemasukan") == 2)
    assert(r1.mart("fact_pengeluaran") == 2)

    // golden values: place p1 coalesces detail name over search name
    val p1 = Staging.readTable(spark, mart.toString, "dim_place")
      .filter(org.apache.spark.sql.functions.col("place_id") === "p1")
      .head()
    assert(p1.getAs[String]("nama_tempat") == "Beach Detail")
    assert(p1.getAs[String]("jam_operasional") == "Mon: 9 | Tue: 9")

    // dim_waktu derivations for a known timestamp
    val w = Staging.readTable(spark, mart.toString, "dim_waktu")
      .filter(org.apache.spark.sql.functions.col("jam") === "10:30:00")
      .head()
    assert(w.getAs[String]("hari") == "Friday")
    assert(w.getAs[String]("bulan") == "2024-03")
    assert(w.getAs[Long]("tahun") == 2024L)

    // second run: nothing new → 0 loads, mart identical, and the
    // store's files are exactly the ones the first run left (a
    // zero-row append leaves no empty part file behind)
    def storeFiles(): Set[String] = {
      val walk = Files.walk(store)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(store.relativize(_).toString).toSet
      finally walk.close()
    }
    val filesBefore = storeFiles()
    val r2 = Pipeline.run(spark, staging.toString, store.toString,
      mart.toString)
    assert(r2.loaded.values.forall(_ == 0L))
    assert(r2.mart == r1.mart)
    assert(storeFiles() == filesBefore)

    // incremental: add one new review file, only the new key loads
    write(staging.resolve("reviews"), "reviews_2.csv",
      """id_review,timestamp_review,place_id,author_url,review_text,rating
        |r1,2024-03-01 10:30:00,p1,http://a,Great!,5.0
        |r4,2024-03-04 13:00:00,p2,http://d,Wow,5.0""")
    val r3 = Pipeline.run(spark, staging.toString, store.toString,
      mart.toString)
    assert(r3.loaded("reviews") == 1)
    assert(r3.mart("fact_maps") == 3)
  }

  test("one batch: every job it starts carries the caller's local " +
    "properties, and it starts at most 34 jobs") {
    val root = Files.createTempDirectory("graft-etl-jobs")
    val staging = root.resolve("staging")
    fixtures(staging)
    def batch(name: String) = Pipeline.run(spark, staging.toString,
      root.resolve(s"$name-store").toString,
      root.resolve(s"$name-mart").toString)
    // a warm-up batch first, so a task pool kept across calls (whose
    // threads were born before the tag below was set) would exist
    batch("warm")
    jobsDuring(()) // drains the warm-up's events off the listener bus
    val sc = spark.sparkContext
    val all = new AtomicInteger(0)
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        all.incrementAndGet()
    }
    sc.addSparkListener(plain)
    val (r, tagged) =
      try jobsDuring(batch("measured")) finally sc.removeSparkListener(plain)
    assert(r.loaded("places") == 3 && r.mart("fact_twitter") == 2)
    // the plain listener also saw jobsDuring's own untagged sentinel
    assert(all.get == tagged + 1,
      s"${all.get - 1} jobs started, only $tagged carried the tag")
    assert(tagged <= 34, s"$tagged jobs")
  }

  test("a missing staging prefix loads 0 and adds no file to its " +
    "store table") {
    val root = Files.createTempDirectory("graft-etl-empty")
    val (staging, store, mart) =
      (root.resolve("staging"), root.resolve("store"), root.resolve("mart"))
    fixtures(staging)
    Files.delete(staging.resolve("tweets").resolve("tweets_1.csv"))
    Files.delete(staging.resolve("tweets"))
    Schemas.operational.foreach { case (t, s) =>
      Staging.ensureTable(spark, store.toString, t, s)
    }
    def tweetFiles = new java.io.File(store.resolve("tweets").toString)
      .list().toSet
    val before = tweetFiles
    val r = Pipeline.run(spark, staging.toString, store.toString,
      mart.toString)
    assert(r.loaded("tweets") == 0 && r.loaded("reviews") == 3)
    assert(tweetFiles == before)
    assert(r.mart("fact_twitter") == 0 && r.mart("dim_user") == 0)
  }

  test("catalog mode: store and mart addressable as named SQL tables " +
    "with declared schemas") {
    import graft.schema.{CatalogDDL, Schemas}
    val root = Files.createTempDirectory("graft-etl-cat")
    val (staging, store, mart) =
      (root.resolve("staging"), root.resolve("store"), root.resolve("mart"))
    fixtures(staging)
    Pipeline.run(spark, staging.toString, store.toString, mart.toString)

    // D1/D2 catalog form: CREATE DATABASE + CREATE TABLE ... USING
    // parquet LOCATION with the DECLARED StructTypes
    CatalogDDL.registerOperationalStore(spark, store.toString, "t_ops")
    CatalogDDL.registerMart(spark, mart.toString, "t_mart")
    assert(Schemas.operational.keySet.forall(t =>
      spark.catalog.tableExists(s"t_ops.$t")))
    assert(Schemas.mart.keySet.forall(t =>
      spark.catalog.tableExists(s"t_mart.$t")))
    // catalog schema is the declared one, not inference
    assert(spark.table("t_mart.fact_maps").schema == Schemas.factMaps)

    // entry-point-C data readable through named tables: same rows the
    // path API sees
    assert(spark.sql("SELECT count(*) AS n FROM t_ops.reviews")
      .head().getAs[Long]("n") ==
      Staging.readTable(spark, store.toString, "reviews").count())

    // a mart query in pure SQL over named tables — dim/fact join the
    // way the reference's DW SQL layer reads its mart
    val byDay = spark.sql(
      """SELECT w.hari, count(*) AS n_reviews
        |FROM t_mart.fact_maps f
        |JOIN t_mart.dim_waktu w
        |  ON f.timestamp_datetime = w.timestamp_datetime
        |GROUP BY w.hari ORDER BY w.hari""".stripMargin).collect()
    assert(byDay.map(_.getAs[Long]("n_reviews")).sum == 2) // r1, r2
    // idempotent re-registration (IF NOT EXISTS semantics)
    CatalogDDL.registerMart(spark, mart.toString, "t_mart")
    assert(spark.table("t_mart.dim_waktu").count() > 0)

    // re-registering the SAME name at a DIFFERENT location must not
    // serve stale data: the entry is dropped and recreated, not
    // silently kept (the store_v2-over-store_v1 hazard)
    val mart2 = root.resolve("mart2")
    Staging.overwriteParquet(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.factMaps),
      mart2.toString, "fact_maps")
    CatalogDDL.ensureExternalTable(spark, "t_mart", "fact_maps",
      Schemas.factMaps, s"$mart2/fact_maps")
    assert(spark.table("t_mart.fact_maps").count() == 0) // new location
    spark.sql("DROP DATABASE t_ops CASCADE")
    spark.sql("DROP DATABASE t_mart CASCADE")
    // external tables: dropping catalog entries never deletes data
    assert(Staging.readTable(spark, mart.toString, "fact_maps").count() == 2)
  }
}
