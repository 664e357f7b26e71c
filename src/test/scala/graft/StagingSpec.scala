package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.io.{ParquetFooters, Staging}
import graft.schema.Schemas

class StagingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("qty", LongType),
    StructField("name", StringType)))

  test("readCsvPrefix unions all files; empty prefix yields empty frame") {
    val dir = Files.createTempDirectory("graft-staging")
    Files.writeString(dir.resolve("a_1.csv"), "id,qty,name\n1,10,x\n")
    Files.writeString(dir.resolve("a_2.csv"), "id,qty,name\n2,20,y\n")
    Files.writeString(dir.resolve("ignored.txt"), "not,a,csv\n")
    val df = Staging.readCsvPrefix(spark, dir.toString, schema)
    assert(df.count() == 2)
    val empty = Staging.readCsvPrefix(spark,
      Files.createTempDirectory("graft-empty").toString, schema)
    assert(empty.isEmpty && empty.schema == schema)
  }

  /** Messages logged while `body` ran. */
  private def logged(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("staging-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getRootLogger
    root.addAppender(app)
    try body finally {
      root.removeAppender(app)
      app.stop()
    }
    seen.asScala.toSeq
  }

  test("readCsvPrefix scans the prefix's *.csv entries, never the glob " +
    "pattern: exactly the CSV rows, the stamped-dir layout included") {
    val dir = Files.createTempDirectory("graft-staging-paths")
    Files.writeString(dir.resolve("a_1.csv"), "id,qty,name\n1,10,x\n")
    Files.writeString(dir.resolve("notes.txt"), "id,qty,name\n9,90,n\n")
    Staging.writeCsvStamped(Seq((2L, 20L, "y")).toDF("id", "qty", "name"),
      dir.toString, "b")
    val expected = Seq((1L, 10L, "x"), (2L, 20L, "y"))
    // a pattern handed to Spark as a path makes its sink-metadata
    // check stat it literally: a FileNotFoundException WARN per read
    val messages = logged {
      val df = Staging.readCsvPrefix(spark, dir.toString, schema)
      assert(df.as[(Long, Long, String)].collect().sorted.toSeq == expected)
      val (clean, _) = Staging.readCsvPrefixIsolated(spark, dir.toString,
        schema, cache = false)
      assert(clean.as[(Long, Long, String)].collect().sorted.toSeq ==
        expected)
    }
    assert(!messages.exists(_.contains("metadata directory")),
      messages.mkString("\n"))
  }

  test("readCsvPrefixIsolated skips malformed rows, keeps the rest " +
    "(reference per-record error isolation)") {
    val dir = Files.createTempDirectory("graft-isolated")
    Files.writeString(dir.resolve("b_1.csv"),
      """id,qty,name
        |1,10,ok
        |2,notanumber,bad
        |3,30,ok
        |""".stripMargin)
    val (clean, corrupt) = Staging.readCsvPrefixIsolated(spark,
      dir.toString, schema)
    assert(clean.select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))
    assert(corrupt.count() == 1)
    assert(corrupt.head().getString(0).contains("notanumber"))
    // the cache-free two-pass variant (100 TB staging batches: two
    // streaming scans instead of a full-input cache) must agree
    val (clean2, corrupt2) = Staging.readCsvPrefixIsolated(spark,
      dir.toString, schema, cache = false)
    assert(clean2.select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))
    assert(corrupt2.count() == 1)
    assert(corrupt2.head().getString(0).contains("notanumber"))
  }

  test("staging probes resolve non-local-scheme URIs via Hadoop FS") {
    // an explicit `file:` URI — the old java.io.File probe treated any
    // URI-schemed prefix as "not a directory" and silently returned an
    // empty frame (the object-store wrong-answer class, VERDICT r1 #1)
    val dir = Files.createTempDirectory("graft-scheme")
    Files.writeString(dir.resolve("c_1.csv"), "id,qty,name\n7,70,z\n")
    val uri = "file://" + dir.toString
    assert(Staging.readCsvPrefix(spark, uri, schema).count() == 1)
    val (clean, _) = Staging.readCsvPrefixIsolated(spark, uri, schema)
    assert(clean.count() == 1)
    // tableExists must see URI-schemed stores too, else loadIfNew
    // skips its anti-join and double-appends
    val store = Files.createTempDirectory("graft-store")
    Seq((1L, 10L, "x")).toDF("id", "qty", "name")
      .write.parquet(store.toString + "/t")
    assert(Staging.tableExists(spark, "file://" + store.toString, "t"))
    assert(!Staging.tableExists(spark, "file://" + store.toString, "missing"))
  }

  test("writeCsvStamped produces a timestamped readable file") {
    val dir = Files.createTempDirectory("graft-sink")
    val path = Staging.writeCsvStamped(
      Seq((1L, 10L, "x")).toDF("id", "qty", "name"),
      dir.toString, "recs")
    assert(path.matches(".*/recs_\\d{8}_\\d{6}\\.csv"))
    val back = spark.read.option("header", "true").schema(schema).csv(path)
    assert(back.count() == 1)
  }

  private def ensureAll(store: String,
                        schemas: Map[String, StructType]): Unit =
    schemas.foreach { case (t, s) => Staging.ensureTable(spark, store, t, s) }

  test("ensureTable creates the operational DDL with no Spark job; a " +
    "second call changes no listing and no hidden temp file stays") {
    val store = Files.createTempDirectory("graft-ddl").toString
    val (_, jobs) = jobsDuring(ensureAll(store, Schemas.operational))
    assert(jobs == 0, s"$jobs jobs")
    def listing = Schemas.operational.keys.map(t =>
      t -> new java.io.File(s"$store/$t").list().toSet).toMap
    val before = listing
    ensureAll(store, Schemas.operational)
    assert(listing == before)
    before.foreach { case (t, files) =>
      val (hidden, visible) = files.partition(_.startsWith("."))
      assert(visible.size == 1 && visible.head.startsWith("part-") &&
        visible.head.endsWith(".parquet"), s"$t: $files")
      // the local file system's checksum of the data file, nothing else
      assert(hidden == visible.map(f => s".$f.crc"), s"$t: $files")
    }
  }

  test("every declared schema round-trips through a zero-row table: " +
    "inference, requested-schema and mergeSchema reads, footer count; " +
    "then an appended row reads back") {
    val store = Files.createTempDirectory("graft-ddl-schemas").toString
    val declared = Schemas.operational ++ Schemas.mart
    assert(declared.size == 16)
    // a column comment has no parquet form: only the footer's Spark
    // row-metadata key carries it back
    val commented = StructType(Seq(
      StructField("id", StringType).withComment("primary key"),
      StructField("at", TimestampType)))
    val schemas = declared + ("commented" -> commented)
    ensureAll(store, schemas)
    schemas.foreach { case (t, s) =>
      val dir = s"$store/$t"
      val reads = Seq("inference" -> Staging.readTable(spark, store, t),
        "requested" -> spark.read.schema(s).parquet(dir),
        "mergeSchema" -> spark.read.option("mergeSchema", "true")
          .parquet(dir))
      reads.foreach { case (how, df) =>
        assert(df.schema == s, s"$t by $how: ${df.schema.treeString}")
      }
      assert(reads.map(_._2).reduce(_.union(_)).count() == 0, t)
      assert(ParquetFooters.rowCount(spark, Seq(dir)) == 0, t)
      Staging.appendParquet(spark.createDataFrame(
        java.util.List.of(Row.fromSeq(Seq.fill(s.length)(null))), s),
        store, t)
      val back = Staging.readTable(spark, store, t)
      assert(back.schema == s && back.count() == 1, t)
    }
  }
}
