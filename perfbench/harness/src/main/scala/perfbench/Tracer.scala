package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of one traced operation. [[attach]] resets and
  * registers the listeners; [[detach]] waits for the listener bus to
  * drain, unregisters, and returns the counters. Untraced operations
  * run with neither listener registered.
  *
  * Layers: Catalyst phases from each finished query execution's
  * `QueryExecution.tracker`; scheduler and executors from job, stage
  * and task events. Jobs are also counted per job group, which the
  * workloads set to tell DataFrame build from forced execution. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val sc = spark.sparkContext
  private val c = mutable.LinkedHashMap[String, Double]()
  private val groupJobs = mutable.Map[String, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("exec.jobs", 1)
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    groupJobs(g) = groupJobs.getOrElse(g, 0L) + 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("exec.stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    add("exec.tasks", 1)
    if (i.failed || i.killed) add("exec.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      // the Spark UI's per-task "scheduler delay"
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      add("exec.scheduler_wait_ms", math.max(0L, i.finishTime - i.launchTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        m.executorRunTime - gettingResult).toDouble)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_ms",
        "optimization" -> "catalyst.optimization_ms",
        "planning" -> "catalyst.planning_ms"))
      add(key, qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L).toDouble)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = phases(qe)

  def attach(): Unit = {
    synchronized {
      c.clear(); groupJobs.clear(); jobStart.clear(); jobSpans.clear()
      for (k <- Tracer.Keys) c(k) = 0.0
    }
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drains the bus, unregisters, and returns the counters, plus
    * `exec.wall_ms` (the time at least one job was running) and
    * `jobs.<group>` per job group. */
  def detach(): Map[String, Double] = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      var wall, end = 0L
      for ((s, e) <- jobSpans.sortBy(_._1)) {
        wall += math.max(0L, e - math.max(s, end))
        end = math.max(end, e)
      }
      c.toMap ++ Map("exec.wall_ms" -> wall.toDouble) ++
        groupJobs.map { case (g, n) => s"jobs.$g" -> n.toDouble }
    }
  }
}

object Tracer {
  val Keys: Seq[String] = Seq("catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.scheduler_wait_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes",
    "exec.task_failures")
}
