package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite base (sessions are cheap to reuse and
  * expensive to start; local[4] keeps specs fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sql = spark.sqlContext
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
    s
  }
}
