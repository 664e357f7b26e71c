package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point starts Spark — `Bench`,
  * `Verify`, the ETL demo, every tools/ main and the spec base all
  * come through here, so the session and its SQLConf are configured
  * once and every run shares the same posture:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus` (one
  *    shuffle partition per core — the bench posture; an audit or a
  *    timing at a different partition count is measuring a different
  *    plan);
  *  - UTC session time zone (the oracle twins and the timestamp
  *    fixtures are UTC; a JVM default zone must never leak in);
  *  - Spark UI off and log level WARN.
  *
  * `getOrCreate` semantics: a second call in the same JVM returns
  * the running session. */
object Session {

  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(4)(_.trim.toInt)): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
