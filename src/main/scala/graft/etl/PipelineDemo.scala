package graft.etl

import java.nio.file.{Files, Path}

/** Runnable surface for the ETL topology: writes small fixture staging
  * CSVs (stand-ins for the reference's extractor outputs, SURVEY §7.1)
  * into a temp dir, runs the full pipeline twice, and prints load
  * accounting — demonstrating the incremental anti-join semantics
  * (second run loads 0 rows).
  *
  * Usage: runMain graft.etl.PipelineDemo [workDir]
  */
object PipelineDemo {

  private def write(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content.stripMargin.trim + "\n")
  }

  def fixtures(root: Path): Unit = {
    write(root.resolve("places"), "places_1.csv",
      """place_id,name,rating_search,name_detail,phone_number,opening_hours_text,types_detail,lat_detail,lng_detail
        |p1,Beach Search,4.5,Beach Detail,081234,Mon: 9 | Tue: 9,"beach, tourist",-8.1,115.1
        |p2,Temple,4.8,,,,temple,-8.2,115.2""")
    write(root.resolve("reviews"), "reviews_1.csv",
      """id_review,timestamp_review,place_id,author_url,review_text,rating
        |r1,2024-03-01 10:30:00,p1,http://a,Great!,5.0
        |r2,2024-03-02 11:00:00,p2,http://b,Nice,4.0""")
    write(root.resolve("tweets"), "tweets_1.csv",
      """id_tweet,place_id_source,keyword_search,created_at_tweet,text_tweet,id_author_twitter,author_location,tweet_geo_place_id
        |t1,p1,pantai,2024-03-01 09:00:00,indah sekali,u1,Bali,""")
    write(root.resolve("pemasukan"), "pemasukan_1.csv",
      """id_transaksi_original,timestamp,id_proyek,nama_proyek,sektor_pariwisata,id_penyumbang,nama_penyumbang,jenis_penyumbang,jenis_pemasukan,jumlah,bukti
        |in1,2024-03-01 08:00:00,pr1,Pantai Kuta,pantai,d1,Dinas,pemerintah,dana,1000000,b1""")
    write(root.resolve("pengeluaran"), "pengeluaran_1.csv",
      """id_transaksi_original,timestamp,id_proyek,nama_proyek,sektor_pariwisata,id_vendor,nama_vendor,id_departemen,nama_departemen,jenis_kebutuhan,jumlah,bukti
        |out1,2024-03-01 14:00:00,pr1,Pantai Kuta,pantai,v1,CV Maju,dep1,Ops,alat,500000,b2""")
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) java.nio.file.Paths.get(args(0))
      else Files.createTempDirectory("graft-demo")
    val spark = graft.Session.local()
    fixtures(root.resolve("staging"))
    val run1 = Pipeline.run(spark, s"$root/staging", s"$root/store",
      s"$root/mart")
    println(s"run1 loaded=${run1.loaded} mart=${run1.mart}")
    val run2 = Pipeline.run(spark, s"$root/staging", s"$root/store",
      s"$root/mart")
    println(s"run2 loaded=${run2.loaded} (expect all 0: idempotent)")
    println(s"workDir=$root")
    spark.stop()
  }
}
