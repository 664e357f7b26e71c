package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.RollupMaintain

class RollupSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, Double)*) =
    rows.toSeq.toDF("grp", "amount")

  test("incrementally maintained rollup equals the direct aggregate " +
    "after every batch") {
    val store = Files.createTempDirectory("graft-rollup").toString
    val b1 = batch(("a", 1.5), ("a", 2.5), ("b", 10.0))
    val b2 = batch(("a", 4.0), ("c", 7.25))
    val b3 = batch(("b", -10.0), ("c", 0.75))
    var all = b1
    for ((b, i) <- Seq(b1, b2, b3).zipWithIndex) {
      if (i > 0) all = all.unionByName(b)
      RollupMaintain.updateRollup(spark, store, "sales", b,
        Seq("grp"), "amount")
      val got = RollupMaintain.readFinal(spark, store, "sales")
        .select("grp", "total", "n_rows")
        .as[(String, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val direct = all.groupBy("grp")
        .agg(sum($"amount".cast("decimal(25,6)")).cast("double")
          .as("t"), count($"amount").as("n"))
        .as[(String, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == direct, s"after batch ${i + 1}")
    }
    // mean derived from partials
    val m = RollupMaintain.readFinal(spark, store, "sales")
      .filter($"grp" === "a").head().getAs[Double]("mean")
    assert(math.abs(m - (1.5 + 2.5 + 4.0) / 3) < 1e-9)
  }

  test("NULL group keys accumulate as ONE group, matching the direct " +
    "aggregate") {
    val store = Files.createTempDirectory("graft-rollup-null").toString
    val b1 = Seq((Option("a"), 1.0), (None, 10.0)).toDF("grp", "amount")
    val b2 = Seq((Option.empty[String], 5.0)).toDF("grp", "amount")
    RollupMaintain.updateRollup(spark, store, "t", b1, Seq("grp"), "amount")
    RollupMaintain.updateRollup(spark, store, "t", b2, Seq("grp"), "amount")
    val rows = RollupMaintain.readFinal(spark, store, "t")
      .select("grp", "total", "n_rows")
      .collect().map(r => Option(r.getString(0)) ->
        (r.getAs[Double]("total"), r.getAs[Long]("n_rows"))).toMap
    // a null-UNSAFE merge join would leave two (or more) NULL rows
    assert(rows.size == 2)
    assert(rows(None) == (15.0, 2L))
    assert(rows(Some("a")) == (1.0, 1L))
  }

  test("HLL distinct rollup: maintained sketch == one-shot sketch, " +
    "estimate near exact") {
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate}
    val store = Files.createTempDirectory("graft-hll").toString
    val b1 = (1 to 400).map(i => ("g", s"user_${i % 150}"))
      .toDF("grp", "uid")
    val b2 = (1 to 400).map(i => ("g", s"user_${100 + i % 200}"))
      .toDF("grp", "uid")
    RollupMaintain.updateDistinctRollup(spark, store, "d", b1,
      Seq("grp"), "uid")
    RollupMaintain.updateDistinctRollup(spark, store, "d", b2,
      Seq("grp"), "uid")
    val est = RollupMaintain.readDistinct(spark, store, "d")
      .head().getAs[Long]("approx_distinct")
    // maintained (union of 2 batch sketches) == one-shot sketch over
    // the concatenation: HLL union is associative/commutative
    val oneShot = b1.unionByName(b2).groupBy("grp")
      .agg(hll_sketch_estimate(hll_sketch_agg($"uid")).as("e"))
      .head().getAs[Long]("e")
    assert(est == oneShot)
    // and near the exact cardinality (user_0..149 + user_100..299 = 300 distinct)
    val exact = b1.unionByName(b2).select("uid").distinct().count()
    assert(math.abs(est - exact).toDouble / exact < 0.05,
      s"est=$est exact=$exact")
  }

  test("crash window: an uncommitted version is invisible and swept") {
    val store = Files.createTempDirectory("graft-rollup-crash").toString
    RollupMaintain.updateRollup(spark, store, "t",
      batch(("a", 1.0)), Seq("grp"), "amount")
    // an update that died during its write: a version dir holding
    // data but no _COMMIT marker
    val dead = new java.io.File(s"$store/t/_v_0000002")
    Seq(("a", BigDecimal(100), 1L)).toDF("grp", "psum", "pcnt")
      .write.parquet(s"$dead/data")
    assert(!new java.io.File(dead, "_COMMIT").exists())
    // readers see the last committed version only
    assert(RollupMaintain.readFinal(spark, store, "t")
      .head().getAs[Double]("total") == 1.0)
    // the next update neither refuses nor folds the dead data: it
    // commits above the dead dir and sweeps it
    RollupMaintain.updateRollup(spark, store, "t",
      batch(("a", 2.0)), Seq("grp"), "amount")
    assert(!dead.exists())
    assert(new java.io.File(s"$store/t/_v_0000003/_COMMIT").exists())
    assert(RollupMaintain.readFinal(spark, store, "t")
      .head().getAs[Double]("total") == 3.0)
  }

  test("jobs per updateRollup: 2 for a new table, 4 for an existing one") {
    val store = Files.createTempDirectory("graft-rollup-jobs").toString
    def update(b: org.apache.spark.sql.DataFrame) =
      jobsDuring(RollupMaintain.updateRollup(spark, store, "t", b,
        Seq("grp"), "amount"))
    val (n1, first) = update(batch(("a", 1.0), ("b", 2.0)))
    val (n2, later) = update(batch(("b", 3.0), ("c", 4.0)))
    assert((n1, n2) == (2L, 3L))
    assert((first, later) == ((2, 4)))
  }

  test("incremental_topk_cms: every job of a run carries that run's " +
    "local properties") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // the query's input: an events table of 300 rows over 23 users
    val sf = Files.createTempDirectory("graft-cms-events").toString
    (0L until 300L).map(i => (i, i % 23, i.toDouble))
      .toDF("event_id", "user_id", "value")
      .write.parquet(s"$sf/events.parquet")
    val sc = spark.sparkContext
    val all = new AtomicInteger(0)
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        all.incrementAndGet()
    }
    // two runs, each under its own tag (jobsDuring makes a fresh one
    // per call): a task pool kept across runs would start the second
    // run's folds under the first run's properties
    for (run <- 1 to 2) {
      jobsDuring(()) // drains earlier events off the listener bus
      all.set(0)
      sc.addSparkListener(plain)
      val (rows, tagged) =
        try jobsDuring(
          SparkEntry.queries("incremental_topk_cms")(spark, sf).collect())
        finally sc.removeSparkListener(plain)
      assert(rows.length == 10)
      // the plain listener also saw jobsDuring's own untagged sentinel
      assert(tagged > 0 && all.get == tagged + 1,
        s"run $run: ${all.get - 1} jobs, $tagged with the run's tag")
    }
  }

  test("maintained CMS sketch is bit-identical to a one-shot sketch " +
    "over all batches (union = exact counter addition)") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft-cms").toString
    val all = (1L to 300L).map(i => i % 17)
    val batches = all.grouped(100).toSeq
    batches.foreach { b =>
      RollupMaintain.updateCms(spark, store, "cms",
        b.toDF("k"), "k")
    }
    val maintained = RollupMaintain.readCms(spark, store, "cms")
      .select("sketch", "n_total").as[(Array[Byte], Long)].head()
    val oneShot = all.toDF("k")
      .agg(count_min_sketch(col("k"), lit(0.001), lit(0.99), lit(42)))
      .as[Array[Byte]].head()
    assert(maintained._2 == 300L)
    assert(java.util.Arrays.equals(maintained._1, oneShot))
    // and the estimate read path sees the exact count on this small
    // keyspace (CMS never underestimates; width >> 17 keys → exact)
    val est = Seq(3L).toDF("probe")
      .crossJoin(RollupMaintain.readCms(spark, store, "cms"))
      .select(graft.functions.native.cms_estimate(col("sketch"),
        col("probe")))
      .as[Long].head()
    assert(est == all.count(_ == 3L))
  }
}
