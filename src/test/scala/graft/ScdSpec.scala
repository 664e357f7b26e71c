package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.etl.ScdHistory
import graft.io.VersionedStore

class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    (1L, "bronze", ts("2024-01-01 00:00:00")),
    (1L, "bronze", ts("2024-02-01 00:00:00")), // repeat → extends run
    (1L, "gold", ts("2024-03-01 00:00:00")),   // change → new version
    (2L, "silver", ts("2024-01-15 00:00:00"))
  ).toDF("user_id", "tier", "ts")

  test("buildHistory collapses runs into chained versions") {
    val h = ScdHistory.buildHistory(events, "user_id", Seq("tier"), "ts")
      .orderBy("user_id", "valid_from").collect()
    assert(h.length == 3) // user 1: bronze, gold; user 2: silver
    val u1 = h.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1(0).getAs[String]("tier") == "bronze")
    assert(u1(0).getAs[Timestamp]("valid_from") == ts("2024-01-01 00:00:00"))
    // bronze closes exactly when gold opens — a gapless chain
    assert(u1(0).getAs[Timestamp]("valid_to") == ts("2024-03-01 00:00:00"))
    assert(!u1(0).getAs[Boolean]("is_current"))
    assert(u1(1).getAs[String]("tier") == "gold" &&
      u1(1).getAs[Boolean]("is_current") &&
      u1(1).getAs[Timestamp]("valid_to") == null)
    val u2 = h.filter(_.getAs[Long]("user_id") == 2L)
    assert(u2.head.getAs[Boolean]("is_current"))
  }

  test("applyBatch incrementally equals buildHistory over all events") {
    val store = Files.createTempDirectory("graft-scd").toString
    val later = Seq(
      (1L, "gold", ts("2024-04-01 00:00:00")),     // unchanged → extends
      (1L, "platinum", ts("2024-05-01 00:00:00")), // change → version 3
      (2L, "silver", ts("2024-06-01 00:00:00")),   // unchanged
      (3L, "bronze", ts("2024-06-01 00:00:00"))    // brand-new key
  ).toDF("user_id", "tier", "ts")
    ScdHistory.applyBatch(spark, store, "tiers", events,
      "user_id", Seq("tier"), "ts")
    ScdHistory.applyBatch(spark, store, "tiers", later,
      "user_id", Seq("tier"), "ts")
    val got = VersionedStore.readTable(spark, store, "tiers")
      .select("user_id", "tier", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().toSet
    val direct = ScdHistory.buildHistory(
        events.unionByName(later), "user_id", Seq("tier"), "ts")
      .select("user_id", "tier", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().toSet
    assert(got == direct)
    assert(got.count(_._5) == 3) // exactly one current row per key
  }

  test("applyBatch rejects late events instead of overlapping closed " +
    "history") {
    val store = Files.createTempDirectory("graft-scd-late").toString
    ScdHistory.applyBatch(spark, store, "tiers", events,
      "user_id", Seq("tier"), "ts")
    // user 1 is currently gold since 2024-03-01; an event BEFORE that
    // would replay ahead of the seed and overlap the closed bronze row
    val late = Seq((1L, "silver", ts("2024-02-15 00:00:00")))
      .toDF("user_id", "tier", "ts")
    val e = intercept[IllegalArgumentException] {
      ScdHistory.applyBatch(spark, store, "tiers", late,
        "user_id", Seq("tier"), "ts")
    }
    assert(e.getMessage.contains("out-of-order"))
    // a ts EQUAL to the current valid_from is also a (tie-order) hazard
    val tie = Seq((1L, "silver", ts("2024-03-01 00:00:00")))
      .toDF("user_id", "tier", "ts")
    intercept[IllegalArgumentException] {
      ScdHistory.applyBatch(spark, store, "tiers", tie,
        "user_id", Seq("tier"), "ts")
    }
    // store untouched by the refused batches
    assert(VersionedStore.readTable(spark, store, "tiers").count() == 3)
  }

  test("asOf joins facts to the version valid at the fact timestamp") {
    val dim = ScdHistory.buildHistory(events, "user_id", Seq("tier"), "ts")
    val facts = Seq(
      (100L, 1L, ts("2024-02-15 00:00:00")), // bronze era
      (101L, 1L, ts("2024-07-01 00:00:00")), // gold era (open version)
      (102L, 9L, ts("2024-07-01 00:00:00"))  // unknown user → null
    ).toDF("fact_id", "user_id", "fact_ts")
    val out = ScdHistory.asOf(facts, dim, "user_id", "fact_ts")
      .select("fact_id", "tier").as[(Long, Option[String])]
      .collect().toMap
    assert(out(100L).contains("bronze"))
    assert(out(101L).contains("gold"))
    assert(out(102L).isEmpty)
  }
}
