package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader

import graft.io.{Fs, MartStore, Staging, VersionedStore}
import graft.schema.Schemas

/** [[Fs]]: graft's local writes set their mode bits without forking a
  * process. Forks are counted from JFR `jdk.ProcessStart` events whose
  * stack passes through Hadoop's `Shell`, the class that runs `chmod`
  * when `libhadoop` is absent. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** Processes Hadoop's `Shell` started while `body` ran. */
  private def shellForks(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.count { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      }
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The writes of one daily batch, on plain (default-FS `file:`)
    * paths under `store`. */
  private def batchWrites(store: String): Unit = {
    Schemas.operational.foreach { case (t, s) =>
      Staging.ensureTable(spark, store, t, s) }
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Staging.appendParquet(df, store, "appended")
    Staging.overwriteParquet(df, store, "overwritten")
    VersionedStore.commit(spark, df, store, "versioned")
    MartStore.publishAll(spark, Seq("a" -> df, "b" -> df), s"$store/mart")
  }

  test("graft's local writes fork no chmod: 5 ensureTable, an append, " +
    "an overwrite, a VersionedStore commit and a MartStore publish; " +
    "every dir made is 0755 and every file 0644") {
    assert(Schemas.operational.size == 5)
    // one pass first: Hadoop's Shell probes its platform (setsid,
    // bash) once per JVM, a set-up cost no write repeats
    batchWrites(Files.createTempDirectory("graft-fs-warm").toString)
    val root = Files.createTempDirectory("graft-fs")
    assert(shellForks(batchWrites(root.toString)) == 0)
    val made = Files.walk(root).iterator().asScala.filterNot(_ == root)
      .toSeq
    val (dirs, files) = made.partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString == "_SUCCESS"))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet.crc")))
    // the stock file system's modes: 0777 / 0666 under Hadoop's
    // default umask 022
    dirs.foreach(d => assert(mode(d) == "rwxr-xr-x", s"$d"))
    files.foreach(f => assert(mode(f) == "rw-r--r--", s"$f"))
  }

  test("Fs.Local sets the requested mode in-process where Hadoop's " +
    "stock raw layer forks; other schemes resolve as configured") {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = Files.createTempFile("graft-chmod", ".bin")
    val p = new Path(f.toUri)
    val fs = Fs.get(spark, p)
    assert(fs.isInstanceOf[Fs.Local])
    assert(shellForks(fs.setPermission(p, new FsPermission("640"))) == 0)
    assert(mode(f) == "rw-r-----")
    // the counter's control: where libhadoop is absent (the Spark
    // distribution), Hadoop's own raw layer forks for the same call
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      val stock = new RawLocalFileSystem()
      stock.initialize(java.net.URI.create("file:///"), conf)
      assert(shellForks(stock.setPermission(p, new FsPermission("600"))) > 0)
      assert(mode(f) == "rw-------")
    }
    conf.set("fs.objsim.impl", classOf[ObjectStoreSimFs].getName)
    assert(Fs.get(spark, new Path(s"objsim://$f")).getClass ==
      classOf[ObjectStoreSimFs])
  }
}
