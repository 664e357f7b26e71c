package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Any further args are a
    // builder-side convenience: restrict the dump to the named queries.
    val Array(sfDir, outDir) = args.take(2)
    val spark = Session.local()
    try dump(spark, sfDir, outDir, args.drop(2).toSet)
    finally spark.stop()
  }

  /** Write each registry query (all of them when `only` is empty) to
    * `outDir/<name>` as parquet, and every oracle SQL to
    * `outDir/oracle_sql.json` — the input `tools/check.py` compares. A
    * query that throws is reported on stderr and left out of the dump. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Set[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // coalesce(1) serializes each query's FINAL stage — fine for this
      // oracle dump (bounded sf0.01 results, one comparable file per
      // query), but it is the opposite of a production sink: never copy
      // this pattern into a real write path
      try graft.io.Fs.write(fn(spark, sfDir).coalesce(1)).mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
