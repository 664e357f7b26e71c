package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation: a daily batch, a registry query or a curate
  * call. `trace` holds the [[Tracer]] counters when the operation ran
  * traced; `extra` holds what the output checks and the per-layer
  * report need. */
final case class Op(kind: String, name: String, unit: Int, ms: Double,
                    ok: Boolean, err: String, traced: Boolean,
                    extra: Map[String, Any], trace: Map[String, Double])

/** What every workload gets: the session, the tracer, and the run's
  * parameters. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val data: String, val work: String) {
  val tracer = new Tracer(spark)

  /** Runs `unit(0)`, `unit(1)`, ... as many as take `seconds` at
    * `nominal` seconds each, at least one; traced runs run each unit
    * twice (see [[schedule]]), so they run half as many. The count
    * depends on the time budget only, never on how fast this run goes,
    * so every run with the same budget does the same work. */
  def loop(nominal: Double)(unit: Int => Unit): Unit = {
    val n = math.max(1, math.round(seconds / nominal).toInt)
    (0 until (if (trace) (n + 1) / 2 else n)).foreach(unit)
  }

  /** The traced/untraced schedule of measured unit `i`: untraced runs
    * run each unit once, untraced; traced runs run it twice, once each
    * way, alternating which goes first so warm-up favours neither. */
  def schedule(i: Int): Seq[Boolean] =
    if (!trace) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)

  /** Tags the jobs started from here on with a job group. */
  def group(g: String): Unit = spark.sparkContext.setJobGroup(g, g)

  def op(kind: String, name: String, unit: Int, traced: Boolean)(
      body: => Map[String, Any]): Op = {
    if (traced) tracer.attach()
    val t = System.nanoTime()
    var extra = Map.empty[String, Any]
    var err = ""
    try extra = body
    catch { case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    finally spark.sparkContext.clearJobGroup()
    val tr = if (traced) tracer.detach() else Map.empty[String, Double]
    Op(kind, name, unit, (System.nanoTime() - t) / 1e6, err.isEmpty, err, traced,
      extra, tr)
  }

  /** Drops cached RDDs and cached tables between operations, outside
    * the timed region, so no operation is served blocks an earlier one
    * cached. Locally checkpointed RDDs are kept: unpersisting one
    * destroys its only copy. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => r.isCheckpointed && r.getCheckpointFile.isEmpty)
      .foreach(_.unpersist(blocking = true))
  }
}

trait Workload {
  /** How many times to set up; the median is `setup_s`. */
  def setups: Int = 9

  /** Work the program does before the first timed operation, beyond
    * starting the session (timed as part of `setup_s`). */
  def prepare(spark: SparkSession, work: String): Unit = ()

  /** The measured loop plus the untimed output and layer probes;
    * returns the operations and workload-level facts. */
  def run(ctx: Ctx): (Seq[Op], Map[String, Any])
}

/** Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --work DIR --out FILE [--cpus N]`.
  *
  * Starts the session several times (each start plus the workload's
  * preparation is one `setup_s` sample), runs the host floor probe,
  * the workload, the floor probe again, and writes everything as one
  * JSON object to `--out`. */
object Main {

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Host floor probe: fixed Spark work over 2 M generated rows that
    * touches no program code, so its time moves only with the host and
    * Spark. Median of three runs, in ms. */
  def floorMs(spark: SparkSession): Double = {
    val t = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("sum((id * 7) % 13) AS s").collect()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    t(1)
  }

  def main(args: Array[String]): Unit = {
    val t00 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cpus = a.getOrElse("cpus", "4").toInt
    val wl: Workload = a("workload") match {
      case "etl_daily" => new EtlDaily
      case "analyst_queries" => new AnalystQueries
      case "corpus_curate" => new CorpusCurate
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (k <- 0 until wl.setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      wl.prepare(spark, s"$work/setup$k")
      setupS += (System.nanoTime() - t0) / 1e9
    }
    println(f"perfbench: setup done at ${(System.nanoTime() - t00) / 1e9}%.1f s")
    val floorStart = floorMs(spark)
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), work)
    val (ops, facts) = wl.run(ctx)
    println(f"perfbench: workload done at ${(System.nanoTime() - t00) / 1e9}%.1f s, " +
      f"ops ${ops.map(_.ms).sum / 1000}%.1f s")
    val floorEnd = floorMs(spark)
    spark.stop()
    val opsJson = ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
      "unit" -> o.unit, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err, "traced" -> o.traced,
      "extra" -> o.extra, "trace" -> o.trace))
    Files.writeString(Paths.get(a("out")), Json(Map(
      "setup_s" -> setupS.toSeq, "floor_ms" -> Seq(floorStart, floorEnd),
      "ops" -> opsJson, "facts" -> facts)))
  }
}

/** Minimal JSON rendering for maps, sequences, strings, numbers and
  * booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => d.toString // NaN and Infinity as Python's json reads them
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  }.mkString("\"", "", "\"")
}
