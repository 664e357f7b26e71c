package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.queries.FixtureStore

/** The shared run posture: the one session factory, the one
  * inter-query cache clear and its pin exemption, and the build-once
  * memo behind fixtures and pinned artifacts. */
class SessionSpec extends SparkSpec {

  test("the factory's session: UTC, one shuffle partition per core, " +
    "UI disabled") {
    val s = Session.local(4)
    assert(s eq spark, "a second call must return the running session")
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    // set by the factory itself, not inherited from a JVM default zone
    assert(s.sparkContext.getConf.getOption(
      "spark.sql.session.timeZone") == Some("UTC"))
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.sparkContext.uiWebUrl.isEmpty)
  }

  test("clearRddCaches drops a plain persist but keeps a pinArtifact " +
    "frame readable (the CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND class)") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val base = spark.range(0, 2000, 1, 4)
      .select(col("id"), (col("id") % 7).as("k"))
    val before = persisted
    val pinned = FixtureStore.artifact(spark, "sessionspec_pin", "/data/p")(
      base.groupBy("k").agg(count(lit(1)).as("n")))
    val pinIds = persisted -- before
    assert(pinIds.nonEmpty, "the pin holds no cached RDD")
    val expected = pinned.orderBy("k").collect().toSeq
    val plain = base.filter(col("k") === 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    assert(plain.count() > 0)
    val plainIds = persisted -- before -- pinIds
    assert(plainIds.nonEmpty, "the plain persist holds no cached RDD")

    FixtureStore.clearRddCaches(spark)

    val after = persisted
    assert(plainIds.intersect(after).isEmpty,
      s"plain persist survived the clear: $plainIds")
    // the catalog side of the clear: no CacheManager entry is left to
    // serve a later run the plain persist's plan
    assert(spark.sharedState.cacheManager.isEmpty,
      "the clear left a CacheManager entry")
    assert(pinIds.subsetOf(after), s"pin dropped by the clear: $pinIds")
    // the lineage-truncated pin still reads: its blocks are its only copy
    assert(pinned.orderBy("k").collect().toSeq == expected)
    plain.unpersist()
  }

  test("buildOnce runs its build once per (session, name, dir)") {
    val builds = new AtomicInteger(0)
    def fixture(name: String, d: String,
                s: org.apache.spark.sql.SparkSession = spark): String =
      FixtureStore.buildOnce(s, name, d) { dir =>
        builds.incrementAndGet()
        assert(dir == FixtureStore.scratchDirFor(name, d))
      }
    val a = fixture("sessionspec_a", "/data/x")
    assert(fixture("sessionspec_a", "/data/x") == a)
    assert(builds.get == 1)
    assert(a == FixtureStore.scratchDirFor("sessionspec_a", "/data/x"))
    fixture("sessionspec_b", "/data/x")
    assert(builds.get == 2)
    fixture("sessionspec_a", "/data/y")
    assert(builds.get == 3)
    fixture("sessionspec_b", "/data/x")
    fixture("sessionspec_a", "/data/y")
    assert(builds.get == 3)
    val other = spark.newSession()
    fixture("sessionspec_a", "/data/x", other)
    fixture("sessionspec_a", "/data/x", other)
    assert(builds.get == 4)
  }

  test("a scratch dir's name carries its JVM's pid, and the " +
    "bpe_token_count_store twin's SQL reads the dir that formula names") {
    val pid = ProcessHandle.current().pid()
    val tmp = System.getProperty("java.io.tmpdir")
    assert(FixtureStore.scratchDirFor("sessionspec_a", "/data/x") ==
      s"$tmp/graft_q_sessionspec_a_${Integer.toHexString(
        "/data/x".hashCode)}_$pid")
    val read = """read_parquet\('([^']*)/merges/\*\.parquet'\)""".r
    val dirs = read.findAllMatchIn(
      SparkEntry.oracleSql("bpe_token_count_store")).map(_.group(1)).toSeq
    assert(dirs.size == 1 &&
      dirs.head.startsWith(s"$tmp/graft_q_bpe_merges_") &&
      dirs.head.endsWith(s"_$pid"), s"$dirs")
  }

  test("artifact builds once per (session, name, dir), and its frame " +
    "survives clearRddCaches and still reads") {
    val builds = new AtomicInteger(0)
    def art(name: String, d: String,
            s: org.apache.spark.sql.SparkSession = spark) =
      FixtureStore.artifact(s, name, d) {
        builds.incrementAndGet()
        s.range(0, 100, 1, 2).select((col("id") % 10).as("k")).distinct()
      }
    val a = art("sessionspec_art_a", "/data/x")
    assert(art("sessionspec_art_a", "/data/x") eq a)
    assert(builds.get == 1)
    art("sessionspec_art_b", "/data/x")
    art("sessionspec_art_a", "/data/y")
    assert(builds.get == 3)
    val other = spark.newSession()
    art("sessionspec_art_a", "/data/x", other)
    art("sessionspec_art_a", "/data/x", other)
    assert(builds.get == 4)

    FixtureStore.clearRddCaches(spark)
    assert(art("sessionspec_art_a", "/data/x") eq a)
    assert(builds.get == 4)
    assert(a.orderBy("k").collect().map(_.getLong(0)).toSeq ==
      (0L until 10L))
  }

  test("artifact keeps an input that is already a local checkpoint: " +
    "no extra job, no extra persistent RDD") {
    val sc = spark.sparkContext
    val ckpt = spark.range(0, 1000, 1, 4)
      .select((col("id") % 13).as("k")).distinct()
      .localCheckpoint(true)
    val before = sc.getPersistentRDDs.keySet.toSet
    val (served, jobs) = jobsDuring(
      FixtureStore.artifact(spark, "sessionspec_ckpt", "/data/c")(ckpt))
    assert(jobs == 0, s"the pin of a local checkpoint ran $jobs job(s)")
    assert(served eq ckpt)
    assert(sc.getPersistentRDDs.keySet.toSet == before)
    FixtureStore.clearRddCaches(spark)
    assert(served.count() == 13)
  }
}
