package graft.tools

import graft.queries.FixtureStore

/** Developer-side timing of registry queries: for each named query,
  * one untimed warm pass (JIT, codegen, memoized fixtures), then the
  * catalog and RDD caches are cleared and one measured pass runs with
  * its DataFrame build and its execution timed separately, followed
  * by every Spark job of that pass with its wall time and call site —
  * so multi-action queries (store-maintenance sequences, iterative
  * loops, fixture builds) can be attributed job by job before
  * optimizing. `--explain` also prints the formatted physical plan.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> [--explain] <query>...
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val explain = args.contains("--explain")
    val names = args.drop(1).filterNot(_ == "--explain")
    val spark = graft.Session.local()
    val meter = Meter.attach(spark)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try graft.Bench.forceFull(fn(spark, sfDir))
      catch { case e: Throwable => println(s"WARM FAIL $name: $e") }
      // the measured pass must not be served the warm pass's blocks
      FixtureStore.clearRddCaches(spark)
      meter.reset()
      // build and execute timed SEPARATELY: several registry queries
      // do eager work while the DataFrame is CONSTRUCTED (fixture
      // builds, persisted stage materialization, localCheckpoints,
      // the cluster loop) — graft.Bench times build + execution as
      // one unit, so an execution-only timing under-reads the query
      val tB = System.nanoTime()
      val df = fn(spark, sfDir)
      val buildSecs = (System.nanoTime() - tB) / 1e9
      if (explain) {
        println(s"=== plan: $name ===")
        df.explain("formatted")
      }
      val t0 = System.nanoTime()
      val n = graft.Bench.forceFull(df)
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let the last job-end events land
      println(f"TIMEQUERY $name rows=$n secs=${buildSecs + secs}%.2f " +
        f"(build=$buildSecs%.2f exec=$secs%.2f)")
      meter.jobs.foreach(println)
    }
    spark.stop()
  }
}
