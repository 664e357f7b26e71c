package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

/** The concurrency helper behind the daily batch: results by name,
  * the caller's Spark local properties on every task, and a failure
  * surfaced only once every sibling has finished. */
class IndependentJobsSpec extends SparkSpec {

  test("results come back by name; every task sees the caller's " +
    "local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.probe", "caller")
    try {
      val out = IndependentJobs.run(Seq("a", "b", "c").map { n =>
        n -> { () =>
          s"$n:${sc.getLocalProperty("graft.spec.probe")}:" +
            spark.range(0, 10, 1, 2).count()
        }
      })
      assert(out == Map("a" -> "a:caller:10", "b" -> "b:caller:10",
        "c" -> "c:caller:10"))
    } finally sc.setLocalProperty("graft.spec.probe", null)
  }

  test("a failing task is rethrown as thrown, after its siblings " +
    "finish, and no task thread outlives the call") {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val slowDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    def task(body: => String): () => String = () => {
      threads.add(Thread.currentThread())
      body
    }
    val thrown = intercept[IllegalStateException] {
      IndependentJobs.run(Seq(
        "slow" -> task { Thread.sleep(300); slowDone.set(true); "slow" },
        "boom" -> task { throw boom },
        "ok" -> task("ok")))
    }
    assert(thrown eq boom)
    assert(slowDone.get, "rethrown before the slow sibling finished")
    assert(threads.size == 3)
    assert(threads.asScala.forall(!_.isAlive),
      "a task thread is still alive after the call")
  }
}
