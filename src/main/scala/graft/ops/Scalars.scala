package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** E1-E17 (SURVEY.md §2.3): every scalar expression the reference
  * computes, as composable `Column` functions over Spark built-ins —
  * all codegen'd, no UDFs.
  */
object Scalars {

  /** E1 — epoch seconds → UTC timestamp (reference extraction.py:50). */
  def epochToTimestamp(c: Column): Column = timestamp_seconds(c)

  /** E1b — timestamp → ISO-8601 string with offset. */
  def toIso(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm:ssXXX")

  /** E2 — synthetic key `{a}_{b}_{c}` (reference extraction.py:46).
    * The docstring there claims a hash; the code is plain concat. */
  def syntheticKey(cols: Column*): Column = concat_ws("_", cols: _*)

  /** E3/E4 — array → delimited string (reference extraction.py:58-59
    * `" | "` for opening hours, :66 `", "` for types). */
  def arrayJoined(c: Column, sep: String): Column = array_join(c, sep)

  /** E5 — coalesce with empty-string→NULL normalization. Python `or`
    * falls through on falsy ("" as well as None); Spark coalesce only
    * on NULL. We normalize "" (after trim) to NULL first, matching the
    * reference's intent (extraction.py:141,144-146). Documented
    * divergence: numeric 0.0 does NOT fall through (SURVEY §2.3-E5). */
  def emptyToNull(c: Column): Column =
    when(length(trim(c)) === 0, lit(null).cast(StringType)).otherwise(c)

  def coalesceNonEmpty(cols: Column*): Column =
    coalesce(cols.map(emptyToNull): _*)

  /** E6 — strict timestamp parse (manual_finance_uploader.py:59). */
  def parseTimestamp(c: Column): Column =
    to_timestamp(c, "yyyy-MM-dd HH:mm:ss")

  /** E6b — lenient parse (transformation_dw.py:143 pd.to_datetime):
    * unparseable → NULL instead of error. */
  def parseTimestampLenient(c: Column): Column = try_to_timestamp(c)

  /** E7 — time-of-day as 'HH:mm:ss' (transformation_dw.py:147; BigQuery
    * TIME has no Spark native type, SURVEY §1). */
  def timeOfDay(ts: Column): Column = date_format(ts, "HH:mm:ss")

  /** E8 — English day name (transformation_dw.py:148). */
  def dayName(ts: Column): Column = date_format(ts, "EEEE")

  /** E9 — date extraction (transformation_dw.py:149). */
  def dateOf(ts: Column): Column = to_date(ts)

  /** E10 — 'yyyy-MM' bucket (transformation_dw.py:150). */
  def yearMonth(ts: Column): Column = date_format(ts, "yyyy-MM")

  /** E11 — year (transformation_dw.py:151). */
  def yearOf(ts: Column): Column = year(ts).cast(LongType)

  /** E13 — normalized key entry (manual_finance_uploader.py:47). */
  def normalized(c: Column): Column = lower(trim(c))

  /** E14 — string → long (manual_finance_uploader.py:90,103). */
  def toLong(c: Column): Column = c.cast(LongType)

  /** E15 — any → string (extraction.py:97,102). */
  def asString(c: Column): Column = c.cast(StringType)

  /** E16 — JSON field access (extraction.py `.get` chains; the
    * `events.props` column in testdata). `path` like `$.key`. */
  def jsonGet(c: Column, path: String): Column = get_json_object(c, path)

  /** E17 — ternary null-guard (extraction.py:100,103-104). */
  def nullUnless(cond: Column, value: Column): Column =
    when(cond, value).otherwise(lit(null))
}
