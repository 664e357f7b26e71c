package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}
import graft.etl.{MartBuild, OperationalLoad, Pipeline}
import graft.ext.{CorpusPipeline, DedupOps}
import graft.io.Staging
import graft.schema.Schemas

object Probe {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Times `Tables(spark, dir, name)` three times per table, traced;
    * returns per table the median ms and the jobs one call started. */
  def resolve(ctx: Ctx, tables: Seq[String]): Map[String, Map[String, Double]] =
    tables.map { t =>
      val runs = (1 to 3).map { _ =>
        ctx.tracer.attach()
        val t0 = System.nanoTime()
        Tables(ctx.spark, ctx.data, t)
        val took = ms(t0)
        (took, ctx.tracer.detach()("exec.jobs"))
      }.sortBy(_._1)
      t -> Map("ms" -> runs(1)._1, "jobs" -> runs.map(_._2).sum / runs.size)
    }.toMap

  /** part-*.parquet files under `dir`, with their sizes. */
  def partFiles(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter { f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")
    }.map(f => f.getPath -> f.length).toMap
  }

  /** A collected row's values as JSON-ready cells: timestamps as UTC
    * `yyyy-MM-dd HH:mm:ss[.ffffff]` and dates as `yyyy-MM-dd` (how
    * Python prints them), nested rows and sequences as lists. */
  def cells(v: Any): Any = v match {
    case r: Row => r.toSeq.map(cells)
    case xs: scala.collection.Seq[_] => xs.map(cells)
    case t: java.sql.Timestamp => cells(t.toInstant)
    case t: java.time.Instant => cells(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime =>
      val micros = t.getNano / 1000
      t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")) +
        (if (micros > 0) f".$micros%06d" else "")
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case x => x
  }

  def rowCount(spark: SparkSession, file: String): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }
}

/** `etl_daily`: each op is one daily batch, `Pipeline.run` over that
  * day's staging CSVs against one growing store and mart. A cycle runs
  * every day once into a fresh store; the time budget sets how many
  * cycles run. An untimed replay of the last day's load must load
  * nothing. */
final class EtlDaily extends Workload {
  import Probe._

  private val staging = Seq(
    "places" -> Schemas.stagingPlaces, "reviews" -> Schemas.stagingReviews,
    "tweets" -> Schemas.stagingTweets, "pemasukan" -> Schemas.stagingPemasukan,
    "pengeluaran" -> Schemas.stagingPengeluaran)

  private def ddl(spark: SparkSession, store: String): Unit =
    Schemas.operational.foreach { case (t, s) => Staging.ensureTable(spark, store, t, s) }

  override def prepare(spark: SparkSession, work: String): Unit = ddl(spark, s"$work/store")

  def run(ctx: Ctx): (Seq[Op], Map[String, Any]) = {
    val days = new File(ctx.data).list().count(_.startsWith("day"))
    val ops = mutable.ArrayBuffer[Op]()
    val cycles = mutable.ArrayBuffer[Map[String, Any]]()
    var last = ""
    // a unit is one cycle; traced runs run two cycles side by side, a
    // day of each in turn, one traced and one not
    ctx.loop(EtlDaily.CycleSeconds) { i =>
      val dirs = (if (ctx.trace) Seq(false, true) else Seq(false))
        .map(tr => tr -> s"${ctx.work}/c$i${if (tr) "-traced" else ""}")
      dirs.foreach { case (_, c) => ddl(ctx.spark, s"$c/store") }
      for (d <- 1 to days; traced <- ctx.schedule(days * i + d - 1))
        ops += batch(ctx, days * i + d - 1, d, dirs.toMap.apply(traced), traced)
      for ((traced, c) <- dirs) cycles += Map("dir" -> c, "traced" -> traced,
        "stored_bytes" -> (partFiles(s"$c/store").values.sum + partFiles(s"$c/mart").values.sum))
      last = dirs.last._2
    }
    ops += replay(ctx, days, last)
    (ops.toSeq, Map("days" -> days, "cycles" -> cycles))
  }

  /** The last day's load again, into the same store: every key is
    * already there, so it must load nothing. */
  private def replay(ctx: Ctx, day: Int, cycle: String): Op = {
    val store = s"$cycle/store"
    val before = partFiles(store)
    val o = ctx.op("replay", s"${new File(cycle).getName}/day$day", -1, ctx.trace) {
      Map("day" -> day, "loaded" -> OperationalLoad.run(ctx.spark, s"${ctx.data}/day$day", store))
    }
    o.copy(extra = o.extra ++ Map("empty_files_written" ->
      (partFiles(store) -- before.keys).keys.count(rowCount(ctx.spark, _) == 0)))
  }

  private def batch(ctx: Ctx, unit: Int, day: Int, cycle: String,
                    traced: Boolean): Op = {
    val spark = ctx.spark
    val (store, mart) = (s"$cycle/store", s"$cycle/mart")
    val dayDir = s"${ctx.data}/day$day"
    val before = if (traced) partFiles(store) else Map.empty[String, Long]
    val o = ctx.op("batch", s"${new File(cycle).getName}/day$day", unit, traced) {
      if (!traced) {
        val r = Pipeline.run(spark, dayDir, store, mart)
        Map("day" -> day, "loaded" -> r.loaded, "mart" -> r.mart)
      } else {
        // the three stages of Pipeline.run; load and mart build timed
        ddl(spark, store)
        val t1 = System.nanoTime()
        val loaded = OperationalLoad.run(spark, dayDir, store)
        val t2 = System.nanoTime()
        val built = MartBuild.run(spark, store, mart)
        Map("day" -> day, "loaded" -> loaded, "mart" -> built,
          "load_ms" -> (t2 - t1) / 1e6, "mart_ms" -> ms(t2))
      }
    }
    if (!traced || !o.ok) o
    else {
      val appended = partFiles(store) -- before.keys
      val rebuilt = partFiles(mart)
      // readCsvPrefix is lazy when given a schema: force the parse
      val t0 = System.nanoTime()
      staging.foreach { case (t, s) =>
        Staging.readCsvPrefix(spark, s"$dayDir/$t", s).write.format("noop")
          .mode("overwrite").save()
      }
      o.copy(extra = o.extra ++ Map(
        "readCsvPrefix_ms" -> ms(t0),
        "files_written" -> (appended.size + rebuilt.size),
        "bytes_written" -> (appended.values.sum + rebuilt.values.sum)))
    }
  }
}

object EtlDaily {
  /** Nominal duration of one cycle (five days) on a 4-core host. */
  val CycleSeconds = 35.0
}

/** `analyst_queries`: one client runs the read-only registry queries of
  * eight query modules in a seeded shuffled order per round; each op
  * builds the query's DataFrame and collects it. */
final class AnalystQueries extends Workload {
  import graft.queries._

  val names: Seq[String] = Seq(RelationalQueries.defs, AnalyticQueries.defs,
    Analytic2Queries.defs, Analytic3Queries.defs, ScalarQueries.defs,
    EventQueries.defs, Event2Queries.defs, FunctionQueries.defs)
    .flatMap(_.keys).sorted

  def run(ctx: Ctx): (Seq[Op], Map[String, Any]) = {
    val registry = SparkEntry.queries
    val first = mutable.LinkedHashMap[String, (Seq[String], Array[Row], Int)]()
    val reads = mutable.Map[String, Seq[String]]()
    val ops = mutable.ArrayBuffer[Op]()
    var unit = 0
    // a unit of the time budget is a round of every query, in an order
    // shuffled by the seed; each query is a unit of the traced schedule
    ctx.loop(AnalystQueries.RoundSeconds) { round =>
      for (q <- new scala.util.Random(ctx.seed * 1000003L + round).shuffle(names)) {
        for (traced <- ctx.schedule(unit)) {
          ctx.clearCaches()
          var df: DataFrame = null
          var rows: Array[Row] = null
          val o = ctx.op("query", q, unit, traced) {
            ctx.group("build")
            val t0 = System.nanoTime()
            df = registry(q)(ctx.spark, ctx.data)
            val built = Probe.ms(t0)
            ctx.group("force")
            rows = df.collect()
            Map("build_ms" -> built, "rows" -> rows.length)
          }
          ops += (if (!o.ok) o else {
            val fp = rows.map(_.toString).sorted.toSeq.hashCode
            first.get(q) match {
              case None =>
                first(q) = (df.schema.fieldNames.toSeq, rows, fp)
                if (ctx.trace) reads(q) = Tables.names.filter(t =>
                  df.inputFiles.exists(_.contains(s"/$t.parquet")))
                o
              case Some((_, _, fp0)) if fp0 == fp => o
              case _ => o.copy(ok = false, err = "result differs from the first execution")
            }
          })
        }
        unit += 1
      }
    }
    // untimed: the first result of each query, for the DuckDB compare
    val out = new File(s"${ctx.work}/out")
    out.mkdirs()
    for ((q, (cols, rows, _)) <- first) {
      java.nio.file.Files.writeString(new File(out, s"$q.json").toPath,
        Json(Map("columns" -> cols, "rows" -> rows.map(r => Probe.cells(r)).toSeq)))
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
    val facts = Map("queries" -> names, "oracle" -> oracle, "reads" -> reads)
    // traced runs also measure the ext.* layers, on the corpus the
    // runner generates next to the tables
    (ops.toSeq, if (!ctx.trace) facts else facts ++ Map(
      "resolve" -> Probe.resolve(ctx, reads.values.flatten.toSeq.distinct.sorted),
      "curate" -> CorpusProbe.curate(ctx, s"${ctx.data}/corpus"),
      "stages" -> CorpusProbe.stages(ctx, s"${ctx.data}/corpus")))
  }
}

object AnalystQueries {
  /** Nominal duration of one round of the 60 queries on a 4-core host. */
  val RoundSeconds = 30.0
}

/** `corpus_curate`: each op resolves the documents table, builds
  * `CorpusPipeline.curate` and writes its full output. Traced runs
  * also build and force each pipeline stage on its own and count the
  * MinHash/LSH candidates and verified pairs. */
final class CorpusCurate extends Workload {
  import Probe._

  def run(ctx: Ctx): (Seq[Op], Map[String, Any]) = {
    val spark = ctx.spark
    val ops = mutable.ArrayBuffer[Op]()
    var k = 0
    ctx.loop(CorpusCurate.CallSeconds) { unit =>
      for (traced <- ctx.schedule(unit)) {
        ctx.clearCaches()
        val out = s"${ctx.work}/curated/$k"
        ops += ctx.op("curate", s"call$k", unit, traced) {
          ctx.group("build")
          val t0 = System.nanoTime()
          val docs = Tables.documents(spark, ctx.data)
          val curated = CorpusPipeline.curate(docs, "doc_id", "text")
          val built = ms(t0)
          ctx.group("force")
          curated.write.mode("overwrite").parquet(out)
          Map("build_ms" -> built, "out" -> out)
        }
        k += 1
      }
    }
    ctx.clearCaches()
    val exact = CorpusPipeline.curate(Tables.documents(spark, ctx.data), "doc_id",
      "text", CorpusPipeline.Config(dropNearDups = false)).count()
    val facts = Map[String, Any]("exact_dedup_rows" -> exact,
      "oracle" -> SparkEntry.oracleSql("corpus_curation"))
    (ops.toSeq, if (!ctx.trace) facts else facts ++ Map(
      "stages" -> CorpusProbe.stages(ctx, ctx.data),
      "resolve" -> Probe.resolve(ctx, Seq("documents"))))
  }
}

object CorpusCurate {
  /** Seconds of the time budget per curate call: four calls at 30 s.
    * A warm call takes about 3 s on a 4-core host and the first, which
    * pays the JVM's warm-up, about 10 s. */
  val CallSeconds = 7.5
}

/** The `ext.CorpusPipeline` and `ext.DedupOps` layers on the documents
  * table under `dir`: one traced `curate` call, and each pipeline stage
  * on its own. */
object CorpusProbe {
  import Probe._

  /** One `curate` call, traced: build time, the jobs started during
    * build, and the forced write. */
  def curate(ctx: Ctx, dir: String): Map[String, Any] = {
    ctx.clearCaches()
    ctx.tracer.attach()
    ctx.group("build")
    val t0 = System.nanoTime()
    val curated = CorpusPipeline.curate(Tables.documents(ctx.spark, dir), "doc_id", "text")
    val built = ms(t0)
    ctx.group("force")
    val t1 = System.nanoTime()
    curated.write.format("noop").mode("overwrite").save()
    val forced = ms(t1)
    ctx.spark.sparkContext.clearJobGroup()
    val tr = ctx.tracer.detach()
    ctx.clearCaches()
    Map("build_ms" -> built, "build_jobs" -> tr.getOrElse("jobs.build", 0.0),
      "force_ms" -> forced)
  }

  /** Each stage built and forced on its own, on its persisted input,
    * and the MinHash/LSH candidates and verified pairs. */
  def stages(ctx: Ctx, dir: String): Map[String, Any] = {
    ctx.clearCaches()
    val cfg = CorpusPipeline.Config()
    def stage(f: => DataFrame): (DataFrame, Double, Long) = {
      val t0 = System.nanoTime()
      val df = f.persist()
      val n = df.count()
      (df, ms(t0), n)
    }
    val (docs, _, nIn) = stage(Tables.documents(ctx.spark, dir))
    val (q, qMs, nQ) = stage(CorpusPipeline.qualityFilter(docs, "text", cfg))
    val (e, eMs, nE) = stage(CorpusPipeline.exactDedup(q, "doc_id", "text"))
    val (_, nMs, nN) = stage(CorpusPipeline.nearDupFilter(e, "doc_id", "text", cfg))
    val (sigs, _, _) = stage(DedupOps.buildSignatureTable(e, "doc_id", "text"))
    val candidates = DedupOps.minhashCandidates(sigs, 16, 4).count()
    val verified = DedupOps.minhashNearDupPairsFromSigs(sigs, 16, 4,
      cfg.nearDupJaccard).count()
    ctx.clearCaches()
    Map("qualityFilter_ms" -> qMs, "exactDedup_ms" -> eMs,
      "nearDupFilter_ms" -> nMs, "rows_in" -> nIn, "rows_after_quality" -> nQ,
      "rows_after_exact_dedup" -> nE, "rows_after_near_dup" -> nN,
      "lsh_candidates" -> candidates, "verified_pairs" -> verified)
  }
}
