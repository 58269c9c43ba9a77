package graft.streaming

import graft.{Dets, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Dets._

/** Streaming semantics (SURVEY §7 Phase 3): the reference's cursor-based
  * micro-batch loop re-stated as Structured Streaming, plus the windowed
  * aggregation operators (tumbling / sliding / session) in their *batch*
  * form — identical `window()`/`session_window()` constructs, so the same
  * code runs under readStream. Batch form is what the DuckDB oracle can
  * check; the streaming path itself is exercised in ScalaTest via a file
  * source + memory sink (oracle is batch-only).
  *
  * Reference mapping (lambda_function.py): `past_days=1` lookback ==
  * `withWatermark("ts", "1 day")`; ON CONFLICT DO NOTHING ==
  * `dropDuplicates("event_id")` within the watermark; `rate(5 minutes)` ==
  * `Trigger.ProcessingTime`.
  *
  * Scale notes: streaming state (watermark dedup, session windows) is
  * partitioned by key — state store size is bounded by (keys in watermark
  * horizon), not stream length. The windowed aggs shuffle once on
  * (key, window), same as their batch plans.
  */
object Streaming {

  /** The reference pipeline as a streaming query: parquet file source ->
    * future/cursor filter -> watermark + dedup -> per-type counts.
    * Returns the started query writing to a memory sink named `sinkName`.
    */
  def ingestStream(s: SparkSession, path: String, sinkName: String) = {
    T.eventsStreamAt(s, path) // schema-sniffed ts normalization, any fixture

      .withWatermark("ts", "1 day")           // past_days=1 lookback
      .dropDuplicates("event_id")             // exactly-once-per-key == O9
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(sinkName)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Click→purchase attribution: an interval join (purchase within the
    // hour after the click), aggregated per user.
    "q57_interval_join" -> { (s, d) =>
      import s.implicits._
      val ev = T.events(s, d).withColumn("ts", date_trunc("second", $"ts"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"),
                $"value".as("p_value"))
      clicks.join(purchases,
          expr("c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"))
        .groupBy($"c_user".as("user_id"))
        .agg(count(lit(1)).as("n_attr"), dsum($"p_value").as("attr_value"))
        .orderBy($"user_id")
    },

    // q57's interval join as a LEFT OUTER join, aggregated per user:
    // every click keeps a row — matched pairs carry the purchase,
    // orphans (no purchase within the hour) carry NULLs and are counted
    // separately.
    "q103_interval_join_outer" -> { (s, d) =>
      import s.implicits._
      val ev = T.events(s, d).withColumn("ts", date_trunc("second", $"ts"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"),
                $"value".as("p_value"))
      clicks.join(purchases,
          expr("c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
          "left_outer")
        .groupBy($"c_user".as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
             count($"p_ts").as("n_attr"),
             sum(when($"p_ts".isNull, 1L).otherwise(0L))
               .as("n_orphan_clicks"),
             dsum(coalesce($"p_value", lit(0.0))).as("attr_value"))
        .orderBy($"user_id")
    },

    // Tumbling 1-hour windows (streaming construct, batch-checked).
    "q40_tumbling_window" -> { (s, d) =>
      import s.implicits._
      T.events(s, d)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("total"))
        .select($"window.start".as("win_start"), $"event_type", $"n", $"total")
        .orderBy($"win_start", $"event_type")
    },

    // Sliding windows: 2-hour length, 1-hour slide (each event in 2 windows).
    "q41_sliding_window" -> { (s, d) =>
      import s.implicits._
      T.events(s, d)
        .groupBy(window($"ts", "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"), dsum($"value").as("total"))
        .select($"window.start".as("win_start"), $"n", $"total")
        .orderBy($"win_start")
    },

    // Session windows: 30-minute gap per user (streaming's session_window;
    // oracle = gaps-and-islands SQL with end = last event + gap).
    "q42_session_window" -> { (s, d) =>
      import s.implicits._
      T.events(s, d)
        .withColumn("ts", date_trunc("second", $"ts"))
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n"), dsum($"value").as("total"))
        .select($"user_id", $"session_window.start".as("sess_start"),
                $"session_window.end".as("sess_end"), $"n", $"total")
        .orderBy($"user_id", $"sess_start")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q57_interval_join" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events)
        |SELECT c.user_id AS user_id, COUNT(*) AS n_attr,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS attr_value
        |FROM e c JOIN e p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY user_id""".stripMargin,

    "q103_interval_join_outer" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events),
        |c AS (SELECT user_id AS c_user, ts AS c_ts FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, ts AS p_ts, value AS p_value
        |      FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.c_user, c.c_ts, p.p_ts, p.p_value
        |  FROM c LEFT JOIN p ON c.c_user = p.p_user
        |    AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR)
        |SELECT c_user AS user_id,
        |  COUNT(*) AS n_rows,
        |  COUNT(p_ts) AS n_attr,
        |  CAST(SUM(CASE WHEN p_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orphan_clicks,
        |  CAST(SUM(CAST(COALESCE(p_value, 0.0) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS attr_value
        |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q40_tumbling_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    "q41_sliding_window" ->
      """WITH exploded AS (
        |  SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |                 date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR])
        |           AS win_start,
        |         value
        |  FROM events)
        |SELECT win_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM exploded GROUP BY 1 ORDER BY win_start""".stripMargin,

    "q42_session_window" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts, value
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sessioned AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS sess_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS sess_end, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM sessioned GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start""".stripMargin
  )
}
