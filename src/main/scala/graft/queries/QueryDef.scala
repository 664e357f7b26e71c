package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A driver-contract query: the Spark implementation plus (when
  * SQL-expressible) its DuckDB oracle twin. SparkEntry aggregates the
  * per-module maps. */
final case class QueryDef(fn: (SparkSession, String) => DataFrame,
                          oracle: Option[String] = None)

object QueryDef {
  /** Exact deterministic sum of a double column: per-row rounding to
    * exact decimal(25,6), exact integer-decimal sum, final cast to
    * double — bit-identical across engines regardless of
    * partitioning/summation order. The oracle twin is
    * `CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE)`. Since r16 the
    * engine side is the native [[graft.functions.DecimalDoubleSum]]
    * aggregate — value-identical to
    * `sum(c.cast("decimal(25,6)")).cast("double")` (its scaladoc has
    * the equality argument; NativeExprSpec pins it bitwise against
    * the Cast form) at ~4× less aggregate cost (OPTIMIZATION_r16.md
    * §3; probe `tools/DsumProbe`, source at 3f71aa0): the decimal(35,6)
    * sum buffer exceeds compact-long precision, so the Cast form paid
    * a BigDecimal deserialize/add/reserialize per row. */
  def dsum(c: Column): Column = graft.functions.DecimalDoubleSum.column(c)

  /** Oracle-side SQL for [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(sum(CAST($expr AS DECIMAL(25,6))) AS DOUBLE)"

  /** `spark.sql` with the graft native functions registered (the
    * registration is an idempotent registry put) — lets Spark-side
    * SQL strings use `dsum_exact(x)` where their DuckDB oracle twins
    * keep the decimal-cast form the two are value-identical to. */
  def graftSql(s: SparkSession, sql: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    s.sql(sql)
  }

  /** Oracle-side DuckDB CTE chain recomputing
    * [[graft.ext.TextOps.qualityScore]] over `documents` — ONE
    * definition for every quality-consuming oracle (deciles, gates,
    * weighted sampling), so a change to the score formula is a
    * two-site edit (Scala op + this SQL), not an n-site hunt. Yields
    * CTEs `t`/`m`/`q`; `q` exposes (doc_id, lang, text, `alias`) —
    * consumers project what they need. Paste after `WITH `. */
  def qualityCtesSql(alias: String): String = {
    val stop = graft.ext.TextOps.englishStopwords.map(w => s"'$w'")
      .mkString("[", ", ", "]")
    s"""t AS (SELECT doc_id, lang, text,
       |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |       ELSE regexp_split_to_array(lower(trim(text)), '\\s+')
       |  END AS tok FROM documents),
       |m AS (SELECT doc_id, lang, text,
       |  CASE WHEN len(tok) BETWEEN 10 AND 100000 THEN 1.0
       |       ELSE 0.0 END AS length_ok,
       |  least(CASE WHEN len(tok) = 0 THEN 0.0
       |    ELSE CAST(len(list_filter(tok, x -> list_contains($stop, x)))
       |      AS DOUBLE) / len(tok) END * 5.0, 1.0) AS stop_sc,
       |  1.0 - least(CASE WHEN length(text) = 0 THEN 0.0
       |    ELSE CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
       |      AS DOUBLE) / length(text) END * 4.0, 1.0) AS punct_sc
       |  FROM t),
       |q AS (SELECT doc_id, lang, text,
       |  round(length_ok * 0.4 + stop_sc * 0.3 + punct_sc * 0.3, 6)
       |    AS $alias FROM m)""".stripMargin
  }
}
