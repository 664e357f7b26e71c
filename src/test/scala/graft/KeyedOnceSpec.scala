package graft

import graft.queries.FixtureStore

/** The build-once cache discipline behind every session artifact
  * ([[FixtureStore.memo]], which `buildOnce` and `artifact` share):
  * exactly-once per key, failure retry, and no cross-key blocking
  * (the monitor installs cells; builds run on the cell). Each test
  * uses its own names — the memo lives as long as the JVM. */
class KeyedOnceSpec extends SparkSpec {

  private def memo[V](name: String)(build: => V): V =
    FixtureStore.memo(spark, s"keyedoncespec_$name", "/data/k")(build)

  test("builds exactly once per key, even under concurrent callers") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val results =
      java.util.Collections.synchronizedSet(new java.util.HashSet[Int]())
    val threads = (0 until 16).map { i =>
      new Thread(() => {
        results.add(memo(s"concurrent_${i % 2}") {
          builds.incrementAndGet(); (i % 2) * 10
        })
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results === java.util.Set.of(0, 10))
    assert(builds.get() === 2)
  }

  test("a failed build does not poison the cell — the next caller " +
    "retries") {
    var attempts = 0
    def build: Int = {
      attempts += 1
      if (attempts == 1) sys.error("first build fails")
      42
    }
    intercept[RuntimeException] { memo("retry")(build) }
    assert(memo("retry")(build) === 42)
    assert(attempts === 2)
  }

  test("a slow build on one key does not block a different key") {
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      memo("slow") { slowStarted.countDown(); release.await(); 1 }
      ()
    })
    t.start()
    slowStarted.await()
    // another key must resolve while the slow build is still in flight
    val v = memo("fast") { 2 }
    assert(v === 2)
    release.countDown()
    t.join()
  }
}
