package graft
import graft.queries.FixtureStore

/** Benchmark main: times every SparkEntry query at the configured SF
  * and emits one JSON metric object — printed as the final stdout
  * line AND written to a file (`SPARK_GRAFT_BENCH_OUT` env var, else
  * `BENCH_METRIC.json` in the working directory) so the driver can
  * parse it without scraping sbt-decorated logs.
  *
  * METHODOLOGY (recorded in the JSON as "timing"): each query is
  * first run once, untimed, in a parallel warmup pass; the timed
  * sequential passes then measure STEADY-STATE execution. At bench SF
  * the one-time Janino/JIT compilation of each query's generated
  * stages (~0.3-0.5 s per query, ~25 s across the registry) would
  * otherwise dominate and scale-invert the signal — on the target
  * 100 TB runs the same compile cost is amortized over
  * minutes-to-hours of execution, so steady-state is the
  * scale-faithful throughput measure. Both sides of that trade are in
  * the JSON: "value" is the steady-state total (median per query over
  * `SPARK_GRAFT_BENCH_RUNS` passes, default 3, so one noisy pass
  * can't masquerade as a regression), "wall_total_sec" is the whole
  * process wall including warmup and every pass — the cold-cost
  * ceiling for a parser that wants warmup included. A warmup timeout
  * or failure is logged and the bench continues (partial warmup just
  * shifts some compile cost into pass 1, which the median absorbs);
  * the timed passes record per-query errors and exit non-zero on
  * any. */
object Bench {

  /** Force FULL evaluation of every output column (r14): `count()`
    * lets Catalyst column-prune a terminal projection to nothing, so
    * a pure-map query's expressions were never executed — the bench
    * read "0.1 s" for work that takes minutes on long-doc corpora
    * (the repetition_metrics stall that only Verify, which writes
    * real rows, could see). `queryExecution.toRdd` executes the
    * query's OWN physical plan verbatim — every output column is
    * materialized into each UnsafeRow — and the RDD count just
    * drains the iterators. Queries whose cost lives under
    * aggregates/joins are unaffected (count() never pruned through
    * those); narrow-map queries now pay their true cost. */
  private[graft] def forceFull(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val procT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_METRIC.json")
    val spark = Session.local()
    // absorb first-job session warmup (codegen, broadcast infra)
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // parallel warmup: compile + execute each query once so the timed
    // passes below measure steady state (see scaladoc). Failures and
    // timeouts are non-fatal by design — a partially-warmed registry
    // still benches, just with some compile cost in pass 1.
    var warmupIncomplete = 0
    val warmupSec = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val t0 = System.nanoTime()
      // warmup concurrency: 8 is right at the driver's sf0.1 (queries
      // are seconds each; 8-way overlap hides compile latency), but 8
      // CONCURRENT heavy queries at a big-SF leg can exceed the heap
      // together where each alone is fine (measured: the first full
      // sf4 leg OOM'd in warmup and took the local SparkContext with
      // it) — scale legs dial it down via SPARK_GRAFT_WARMUP_PAR
      // malformed values fall back to the default instead of
      // crashing warmup with an uncaught NumberFormatException
      val warmupPar = scala.util.Try(
        sys.env.getOrElse("SPARK_GRAFT_WARMUP_PAR", "8").trim.toInt)
        .getOrElse {
          System.err.println("[bench] unparseable SPARK_GRAFT_WARMUP_PAR=" +
            s"'${sys.env("SPARK_GRAFT_WARMUP_PAR")}' — using 8")
          8
        }.max(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(warmupPar)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      val fs = SparkEntry.queries.toSeq.map { case (_, fn) =>
        Future { try forceFull(fn(spark, sfDir))
          catch { case _: Throwable => } }
      }
      // scale legs can exceed the default ceiling (the zipf4 leg hit
      // 15 min with one query unfinished) — tunable, same fallback
      // posture as SPARK_GRAFT_WARMUP_PAR
      val warmupMin = scala.util.Try(
        sys.env.getOrElse("SPARK_GRAFT_WARMUP_TIMEOUT_MIN", "15")
          .trim.toInt).getOrElse(15).max(1)
      try { Await.ready(Future.sequence(fs), warmupMin.minutes); pool.shutdown() }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          warmupIncomplete = fs.count(!_.isCompleted)
          // HARD-stop the stragglers: shutdown() alone would let
          // queued/running warmup queries keep submitting Spark jobs
          // CONCURRENTLY with every timed pass — sustained contention
          // that inflates all passes the same way, which a per-query
          // median cannot absorb. shutdownNow() discards the queue and
          // interrupts workers; cancelAllJobs() kills their in-flight
          // Spark stages before timing starts.
          pool.shutdownNow()
          spark.sparkContext.cancelAllJobs()
          System.err.println(
            s"[bench] warmup timed out with $warmupIncomplete queries " +
              "unfinished; their stragglers were cancelled — pass-1 " +
              "times for those include compile cost")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // warmup's parallel executions pinned one round of caches — drop
    // them before timing starts (see FixtureStore.clearRddCaches)
    FixtureStore.clearRddCaches(spark)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // nRuns timed sequential passes; per-query stats over the passes
    val passes: Seq[Map[String, Double]] = (1 to nRuns).map { _ =>
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { forceFull(fn(spark, sfDir)) } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.next().take(200)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        FixtureStore.clearRddCaches(spark)
        name -> dt
      }.toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val names = SparkEntry.queries.keys.toSeq
    val med = names.map(n => n -> median(passes.map(_(n)))).toMap
    val mn = names.map(n => n -> passes.map(_(n)).min).toMap
    val mx = names.map(n => n -> passes.map(_(n)).max).toMap
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def f(v: Double) = BigDecimal(v).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toString
    // "queries" stays a flat name->seconds map (driver compatibility);
    // the per-query median/min/max detail rides in "query_stats"
    val qs = names.map(n => s"\"${esc(n)}\":${f(med(n))}")
      .mkString("{", ",", "}")
    val stats = names.map { n =>
      s"\"${esc(n)}\":{\"median\":${f(med(n))},\"min\":${f(mn(n))},\"max\":${f(mx(n))}}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"${esc(k)}\":\"${esc(v)}\"" }
      .mkString("{", ",", "}")
    val total = med.values.sum
    spark.stop()
    val wallTotal = (System.nanoTime() - procT0) / 1e9
    val json =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","timing":"steady_state_median_of_${nRuns}_runs_after_warmup_full_output_eval","warmup_wall_sec":${f(warmupSec)},"warmup_incomplete":$warmupIncomplete,"wall_total_sec":${f(wallTotal)},"runs":$nRuns,"queries":$qs,"query_stats":$stats,"errors":$errJson,"sf":"${esc(sfDir)}"}"""
    // file first — the durable, parseable delivery channel (the
    // driver's stdout capture is sbt-decorated and has repeatedly
    // failed to yield a parseable line)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] metric written to $outPath")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: $e")
    }
    // stdout channel, ordered for a byte-bounded TAIL capture (the
    // r5 driver kept only the end of stdout, beheading the single
    // long line mid-query_stats): the full JSON goes out first, and
    // the FINAL line is a compact totals-only variant (~300 bytes, no
    // per-query maps) whose "metric":"total" head survives any
    // plausible tail window. Parsers that take the last line get the
    // compact object; the per-query detail rides in the file and the
    // earlier full line.
    Console.out.flush()
    println(json)
    val errCompact =
      if (errors.size <= 5) errJson
      else errors.take(5).map { case (k, v) => s"\"${esc(k)}\":\"${esc(v)}\"" }
        .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","timing":"steady_state_median_of_${nRuns}_runs_after_warmup_full_output_eval","warmup_wall_sec":${f(warmupSec)},"warmup_incomplete":$warmupIncomplete,"wall_total_sec":${f(wallTotal)},"runs":$nRuns,"n_queries":${names.size},"n_errors":${errors.size},"errors":$errCompact,"detail":"$outPath","sf":"${esc(sfDir)}"}"""
    println(compact)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath + ".compact"),
      (compact + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    if (errors.nonEmpty) sys.exit(1)
  }
}
