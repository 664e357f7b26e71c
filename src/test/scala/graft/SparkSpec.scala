package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite base (sessions are cheap to reuse and
  * expensive to start; local[4] keeps specs fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sql = spark.sqlContext

  /** `body`'s result and the number of Spark jobs it started (on this
    * thread or a thread it spawned: the jobs are tagged through a
    * local property). Listener events arrive asynchronously, so a
    * sentinel job runs afterwards and the count is read once the
    * in-order listener bus has delivered the sentinel's start. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val sentinel = s"$tag/sentinel"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val result = try body finally sc.setLocalProperty(key, sentinel)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(sentinel), "listener bus did not drain")
      (result, seen.asScala.count(_ == tag))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    // RocksDB is the DEFAULT state store for every spec's streaming
    // twins (the 100 TB posture — state off the executor heap); the
    // kill-restart drills still exercise the HDFS-backed provider
    // explicitly via withStateStoreProvider
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.streaming.StreamingOps.RocksDBStateStoreProvider)
    // streaming checkpoint and state files go through FileContext;
    // the session's Hadoop conf resolves its `file:` scheme to the
    // fork-free InProcessLocalFs
    s.conf.set("fs.AbstractFileSystem.file.impl",
      classOf[InProcessLocalFs].getName)
    s
  }
}
