package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.EventOps
import QueryDef.{dsum, dsumSql}

/** Driver-contract queries over the events table: windowed and
  * sessionized aggregation, as-of join, first-seen dedup — the batch
  * forms of the streaming surface (SURVEY §2.4-streaming row).
  *
  * Timestamps compare at µs precision: the testdata's `events.ts` is a
  * µs parquet timestamp that Spark and DuckDB both read natively (see
  * graft.Tables.apply).
  */
object EventQueries {

  val defs: Map[String, QueryDef] = Map(

    // Tumbling 1-hour windows per event type.
    "events_tumbling" -> QueryDef(
      (s, d) => EventOps.tumblingAgg(Tables.events(s, d), "ts", "1 hour",
          Seq("event_type"),
          Seq(count(lit(1)).as("n"), dsum(col("value")).as("total_value")))
        .select("window_start", "event_type", "n", "total_value")
        .orderBy("window_start", "event_type"),
      Some(s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, ${dsumSql("value")} AS total_value
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),

    // SLIDING windows (1 h window, 30 min slide): every event lands in
    // two windows. The oracle reproduces Spark's window set by
    // unnesting both candidate starts per event.
    "events_sliding" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type"),
      Some(s"""WITH w AS (SELECT event_type, value,
        |    unnest([date_trunc('hour', ts),
        |      CASE WHEN extract(minute FROM ts) >= 30
        |        THEN date_trunc('hour', ts) + INTERVAL 30 MINUTE
        |        ELSE date_trunc('hour', ts) - INTERVAL 30 MINUTE
        |      END]) AS window_start
        |  FROM events)
        |SELECT window_start, event_type, count(*) AS n,
        |  ${dsumSql("value")} AS total_value
        |FROM w GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),

    // Gap-based sessions (30 min) per user; session_end = last + gap.
    "events_session" -> QueryDef(
      (s, d) => EventOps.sessionize(Tables.events(s, d), "ts",
          "30 minutes", Seq("user_id"),
          Seq(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value")))
        .select("user_id", "session_start", "session_end", "n_events",
          "session_value")
        .orderBy("user_id", "session_start"),
      Some(s"""WITH brk AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM brk)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, ${dsumSql("value")} AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // As-of join: each click picks up the latest prior purchase value
    // for the same user (inner semantics, inclusive >=).
    "asof_join" -> QueryDef(
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            col("value").as("purchase_value"))
        EventOps.asofJoin(clicks, purchases, "user_id", "ts",
            Seq("purchase_value"))
          .select("event_id", "user_id", "purchase_value")
          .orderBy("event_id")
      },
      Some("""SELECT c.event_id, c.user_id, p.value AS purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |ASOF JOIN (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin)),

    // Hot-key-hardened variant: identical ASOF semantics (same DuckDB
    // oracle), window split across (key, day-bucket) partitions with
    // carry-in seeds — the skew-safe form for 100 TB event streams.
    "asof_join_bucketed" -> QueryDef(
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            col("value").as("purchase_value"))
        EventOps.asofJoinBucketed(clicks, purchases, "user_id", "ts",
            Seq("purchase_value"), ts => date_trunc("day", ts))
          .select("event_id", "user_id", "purchase_value")
          .orderBy("event_id")
      },
      Some("""SELECT c.event_id, c.user_id, p.value AS purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |ASOF JOIN (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin)),

    // R12 batch shadow: first event per (user, type).
    "events_dedup_first" -> QueryDef(
      (s, d) => EventOps.dedupFirstSeen(Tables.events(s, d),
          Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, event_id, ts
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin))
  )
}
