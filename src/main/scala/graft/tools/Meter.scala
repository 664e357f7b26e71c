package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one `SparkListener` the measurement tools share: shuffle bytes,
  * per-task durations with a per-stage detail line, and per-job wall
  * time with the job's call site — everything since the last
  * [[reset]]. Listener events arrive asynchronously, so a reading
  * taken right after an action can miss its last events; job lines
  * are stamped with the scheduler's own event times and keep only
  * jobs that started after the reset.
  *
  * Usage: `val m = Meter.attach(spark); m.reset(); <action>; m.…` */
private[tools] final class Meter extends SparkListener {
  private val shuffleRead = new AtomicLong(0)
  private val shuffleWrite = new AtomicLong(0)
  private val taskDurs = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stageDetail = new ConcurrentHashMap[Int, String]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobLines = new ConcurrentLinkedQueue[String]()
  @volatile private var sinceMs = System.currentTimeMillis()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    // an explicit setCallSite wins; otherwise the result stage (the
    // highest stage id) carries the short call site as its name
    val site = Option(js.properties)
      .flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
      .getOrElse("?")
    jobStarts.put(js.jobId, (js.time, site))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(je.jobId)
    if (s != null && s._1 >= sinceMs)
      jobLines.add(f"  job ${je.jobId}%4d ${(je.time - s._1) / 1e3}%7.3f s  ${s._2}")
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskInfo != null) taskDurs.add((t.stageId, t.taskInfo.duration))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val m = s.stageInfo.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      stageDetail.put(s.stageInfo.stageId,
        f"tasks=${s.stageInfo.numTasks} " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%.0fMB " +
          f"sread=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.0fMB " +
          f"swrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.0fMB")
    }
  }

  def reset(): Unit = {
    sinceMs = System.currentTimeMillis()
    shuffleRead.set(0); shuffleWrite.set(0)
    taskDurs.clear(); stageDetail.clear(); jobLines.clear()
  }

  def shuffleReadMB: Double = shuffleRead.get / 1e6
  def shuffleWriteMB: Double = shuffleWrite.get / 1e6
  /** shuffle read + write, MB */
  def shuffleMB: Double = shuffleReadMB + shuffleWriteMB

  /** (max, median) task duration ms. */
  def taskMaxMedMs: (Long, Long) = {
    val a = taskDurs.toArray(Array.empty[(Int, Long)]).map(_._2).sorted
    if (a.isEmpty) (0L, 0L) else (a.last, a(a.length / 2))
  }

  /** Top-k stages by max task duration, with each stage's detail. */
  def topStages(k: Int): Seq[String] =
    taskDurs.toArray(Array.empty[(Int, Long)])
      .groupBy(_._1)
      .map { case (sid, xs) => (sid, xs.map(_._2).max) }
      .toSeq.sortBy(-_._2).take(k)
      .map { case (sid, mx) =>
        f"stage $sid (${stageDetail.getOrDefault(sid, "?")}) " +
          f"max ${mx / 1000.0}%.1f s"
      }

  /** One line per finished job: id, wall seconds, call site. */
  def jobs: Seq[String] = jobLines.toArray(Array.empty[String]).toSeq
}

private[tools] object Meter {
  def attach(spark: SparkSession): Meter = {
    val m = new Meter
    spark.sparkContext.addSparkListener(m)
    m
  }
}
