package graft

/** Runs a fixed set of independent Spark actions side by side — the
  * daily batch's five table loads, then its eleven mart writes, and a
  * mart publish's version-dir writes. Each action alone is a few small
  * jobs that cannot fill the cores; submitted together they share the
  * one scheduler, so the batch costs about its slowest table instead
  * of the sum of all of them.
  *
  * One thread per task, created by the calling thread on every call
  * and never shared: a thread takes the Spark local properties of the
  * thread that creates it, so the caller's job group, job description
  * and any tag set around the call reach every job the tasks start. A
  * long-lived pool would carry whatever properties its threads were
  * born with. The width is the task count, which the callers fix at
  * the number of independent tables — not a tunable.
  *
  * Every task is waited for before anything is returned or thrown, so
  * no write is still running once [[run]] exits. A failure is
  * rethrown as the task threw it (the first in task order; later ones
  * ride along as suppressed). */
private[graft] object IndependentJobs {

  def run[A](tasks: Seq[(String, () => A)]): Map[String, A] = {
    val names = tasks.map(_._1)
    require(names.distinct.size == names.size,
      s"task names must be distinct: ${names.mkString(", ")}")
    val results = new Array[Either[Throwable, A]](tasks.size)
    val threads = tasks.zipWithIndex.map { case ((name, body), i) =>
      new Thread(() =>
        results(i) =
          try Right(body())
          catch { case t: Throwable => Left(t) },
        s"graft-independent-$name")
    }
    var started = 0
    try threads.foreach { t => t.start(); started += 1 }
    finally threads.take(started).foreach(joinUninterruptibly)
    val failures = results.iterator.collect { case Left(t) => t }.toSeq
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    names.zip(results.iterator.collect { case Right(a) => a }).toMap
  }

  /** An interrupt of the caller must not return it while a task is
    * still writing: keep waiting, then restore the interrupt flag. */
  private def joinUninterruptibly(t: Thread): Unit = {
    var interrupted = false
    while (t.isAlive)
      try t.join()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
