package graft.weather

import graft.{Dets, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Dets._

/** Faithful Spark re-statement of the reference pipeline's semantics
  * (sf27sf27/weather-etl, SURVEY.md §2.1), generalized over the `events`
  * table: `ts` plays the reference's `date` cursor/key column.
  *
  * Reference citations (see /root/reference):
  *  - O3 time grid:       lambda_function.py:106-111 (half-open 15-min grid)
  *  - O5 cursor read:     lambda_function.py:75-86  (MAX(date) pushed down)
  *  - O6 future filter:   lambda_function.py:129-132 (date <= now)
  *  - O7 cursor filter:   lambda_function.py:127-145 (date > cursor, None
  *                        cursor -> pass-through)
  *  - O8 NaN -> NULL:     lambda_function.py:167-173
  *  - O9 idempotent upsert: lambda_function.py:148-190 (ON CONFLICT DO
  *                        NOTHING == left-anti join + append, first write wins)
  *  - O11 result envelope: lambda_function.py:228-238
  *
  * Scale notes: the cursor read is a full scan of the ts column —
  * Spark does not answer agg(max) from Parquet footer stats — so it
  * costs O(history) (see WeatherIngest.latestCursor). The anti-join
  * upsert broadcasts whichever side is small — in steady state the
  * incoming batch is tiny vs the sink, so it's a broadcast-anti against
  * the batch with the sink streamed, never a full shuffle of the sink.
  * At 100 TB the sink would be partitioned by date so the anti-join
  * prunes to the overlapping partitions (the reference's `past_days=1`
  * lookback bounds overlap to one day).
  */
object WeatherPipeline {
  /** Fixed "now" and cursor so results are deterministic & oracle-checkable
    * (events.ts spans 2024-01-01 .. 2024-01-30).
    */
  private val NOW = "2024-01-21 00:00:00"
  private val CURSOR = "2024-01-10 00:00:00"
  private val BATCH_LOOKBACK = "2024-01-08 00:00:00" // cursor - 2 days

  /** O3: dense half-open 15-min UTC grid [start, end), as a single-column
    * DataFrame. `sequence` is inclusive, so generate to end and filter —
    * same rows the reference's `inclusive="left"` date_range yields.
    */
  def timeGrid(spark: SparkSession, start: String, end: String): DataFrame = {
    spark.range(1).select(
      explode(sequence(
        lit(start).cast("timestamp"),
        lit(end).cast("timestamp"),
        expr("INTERVAL 15 MINUTES"))).as("ts"))
      .filter(col("ts") < lit(end).cast("timestamp"))
  }

  /** O6+O7 as one predicate: not in the future, and strictly after the
    * cursor when there is one; a None cursor passes everything up to
    * `now` (reference: lambda_function.py:134-136).
    */
  def isNewRecord(ts: Column, now: Column, cursor: Option[Column]): Column =
    cursor.fold(ts <= now)(c => ts <= now && ts > c)

  /** O6+O7: keep the rows `isNewRecord` passes. */
  def filterNewRecords(df: DataFrame, tsCol: String, now: Column,
                       cursor: Option[Column]): DataFrame =
    df.filter(isNewRecord(col(tsCol), now, cursor))

  /** O8: collapse NaN into NULL per measure column (the reference's sink
    * encoding; Spark distinguishes NaN from NULL, the reference doesn't).
    */
  def nanToNull(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((acc, c) =>
      acc.withColumn(c, when(isnan(col(c)), lit(null)).otherwise(col(c))))

  /** O9: idempotent upsert = within-batch dedup (first by total order,
    * reference keeps first written) + left-anti join against sink keys +
    * append. Returns the rows that would be appended.
    */
  def upsertNew(batch: DataFrame, sink: DataFrame, key: String): DataFrame =
    upsertNew(batch, sink, Seq(key))

  /** Composite-key variant (multi-location: (location_id, ts)).
    *
    * Within-batch survivor: a distributed batch has no "first row" (the
    * reference's insert order doesn't exist under shuffle), so the
    * deterministic analog of first-write-wins is a total order — survivor
    * = lexicographically smallest row over ALL columns, stable across
    * runs and partitionings.
    */
  def upsertNew(batch: DataFrame, sink: DataFrame, keys: Seq[String]): DataFrame = {
    val kCols = keys.map(col)
    // tie-break on orderable non-key columns only (maps aren't orderable)
    val tieBreak = batch.schema.fields
      .filterNot(f => keys.contains(f.name))
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(f.name)).toSeq
    val deduped = batch.withColumn("_rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(kCols: _*).orderBy((kCols ++ tieBreak): _*)))
      .filter(col("_rn") === 1).drop("_rn")
    deduped.join(sink.select(kCols: _*), keys, "left_anti")
  }

  /** w09's fixed expected grid: 3 locations × 7 days of 15-min slots,
    * each slot carrying its arithmetic index ((ts - start) / step — no
    * window).
    */
  private[graft] def backfillSlots(s: SparkSession): DataFrame = {
    import s.implicits._
    val start = "2024-01-08 00:00:00"
    s.range(3).select($"id".as("location_id"))
      .crossJoin(timeGrid(s, start, "2024-01-15 00:00:00"))
      .withColumn("idx", ((unix_timestamp($"ts") -
        unix_timestamp(lit(start).cast("timestamp"))) / 900L).cast("long"))
  }

  /** Gaps-and-islands coalescing of a (location_id, ts, idx) missing-slot
    * frame into [start, end) fetch ranges — w09's core. One
    * (location)-partitioned window over (location, 2 longs); output is
    * O(gaps), never O(slots).
    */
  private[graft] def coalesceRanges(missing: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    missing
      .withColumn("grp", col("idx") - row_number().over(
        Window.partitionBy(col("location_id")).orderBy(col("ts"))))
      .groupBy(col("location_id"), col("grp"))
      .agg(min(col("ts")).as("range_start"),
           (max(col("ts")) + expr("INTERVAL 15 MINUTES")).as("range_end"),
           count(lit(1)).as("n_slots"))
      .select(col("location_id"), col("range_start"), col("range_end"),
              col("n_slots"))
      .orderBy(col("location_id"), col("range_start"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O3 — the reference's exact grid: past_days=1 + forecast_days=1 at
    // 15 min = 192 slots, half-open.
    "w01_time_grid" -> { (s, _) =>
      timeGrid(s, "2024-01-14 00:00:00", "2024-01-16 00:00:00").orderBy("ts")
    },

    // O6 — future filter at a fixed NOW over the events stream.
    "w02_future_filter" -> { (s, d) =>
      import s.implicits._
      filterNewRecords(T.events(s, d), "ts", lit(NOW).cast("timestamp"), None)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), max(date_trunc("second", $"ts")).as("max_ts"))
        .orderBy($"event_type")
    },

    // O7 — strictly-after-cursor filter (cursor present branch).
    "w03_cursor_filter" -> { (s, d) =>
      import s.implicits._
      filterNewRecords(T.events(s, d), "ts",
          lit(NOW).cast("timestamp"), Some(lit(CURSOR).cast("timestamp")))
        .select($"event_id", date_trunc("second", $"ts").as("ts_s"),
                $"user_id", $"event_type")
        .orderBy($"event_id")
    },

    // O8 — NaN->NULL: synthesize NaN (reference gets them from the API),
    // collapse, count both sides to prove the encoding.
    "w04_nan_to_null" -> { (s, d) =>
      import s.implicits._
      val withNan = T.events(s, d)
        .withColumn("measure",
          when($"value" < 50, lit(Double.NaN)).otherwise($"value"))
      nanToNull(withNan, Seq("measure"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"),
             count($"measure").as("n_present"),
             sum(when($"measure".isNull, 1L).otherwise(0L)).as("n_null"),
             dsum(coalesce($"measure", lit(0.0))).as("sum_present"))
        .orderBy($"event_type")
    },

    // O9 — idempotent upsert: sink = history to CURSOR; batch = overlapping
    // lookback window (reference over-fetches past_days=1). Net-new = batch
    // anti sink. Result: per-type count of appended rows + new cursor.
    "w05_upsert_antijoin" -> { (s, d) =>
      import s.implicits._
      val ev = T.events(s, d)
      val sink = ev.filter($"ts" <= lit(CURSOR).cast("timestamp"))
      val batch = ev.filter($"ts" > lit(BATCH_LOOKBACK).cast("timestamp") &&
                            $"ts" <= lit(NOW).cast("timestamp"))
      upsertNew(batch, sink, "event_id")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_inserted"),
             max(date_trunc("second", $"ts")).as("new_cursor"))
        .orderBy($"event_type")
    },

    // O3 generalized — the wire model's Monthly axis (VariablesWithMonth:
    // calendar-month steps, the one cadence a fixed interval cannot
    // express) plus the response-header metadata scalars surfaced as
    // columns (Latitude/Longitude/Elevation/Model —
    // openmeteo_sdk/WeatherApiResponse.py:32-71,135-142). Floats cast to
    // double for the oracle's type-class parity; values are exact
    // quarter-quanta so the cast is lossless.
    "w07_monthly_grid" -> { (s, _) =>
      import s.implicits._
      s.read.format("graft.sources.WeatherGridSource")
        .option("start", "2024-01-15 00:00:00")
        .option("end", "2025-01-01 00:00:00")
        .option("locations", 3)
        .option("axis", "monthly")
        .option("metadata", "true")
        .option("variables", "temperature_2m")
        .load()
        .select($"location_id", $"ts",
          $"latitude".cast("double").as("latitude"),
          $"longitude".cast("double").as("longitude"),
          $"elevation".cast("double").as("elevation"),
          $"model")
        .orderBy($"location_id", $"ts")
    },

    // The wire model's full enum vocabulary (Variable 165 / Unit 43 /
    // Aggregation 16 / Probability 39 — graft.sources.WeatherVocab,
    // verbatim from openmeteo_sdk) joined to the reference request's
    // measure list under the surface-name rule: a trailing `_<n>m` is
    // the altitude, the rest the Variable enum name — the decomposition
    // the response's VariableWithValues header carries per data column.
    // Both engines run the same regex resolution; the vocabulary rows
    // themselves are the library's metadata surface.
    "w08_enum_vocab" -> { (s, _) =>
      import s.implicits._
      val vocab = graft.sources.WeatherVocab.ALL.toDF("kind", "id", "name")
      val measures = graft.sources.WeatherGridSource.MEASURES.toDF("measure")
        .withColumn("base", regexp_replace($"measure", "_([0-9]+)m$", ""))
        .withColumn("altitude_m",
          when(regexp_extract($"measure", "_([0-9]+)m$", 1) === "", lit(0))
            .otherwise(regexp_extract($"measure", "_([0-9]+)m$", 1)
              .cast("int")))
      vocab.join(measures,
          vocab("kind") === "variable" && vocab("name") === measures("base"),
          "left")
        .select($"kind", $"id", $"name", $"measure", $"altitude_m")
        .orderBy($"kind", $"id")
    },

    // Backfill-range planner — the precise replacement for the
    // reference's blanket lookback: the lambda re-fetches a FIXED
    // past_days window every run whether or not the sink already holds
    // those rows (lambda_function.py past_days request + the
    // ON CONFLICT DO NOTHING discard), which at scale re-downloads and
    // re-upserts mostly-present data. This detects exactly which grid
    // slots are MISSING per location and coalesces consecutive holes
    // into the [start, end) fetch ranges an ingest run would request —
    // gaps-and-islands (q64's pattern) over the expected grid. The slot
    // index is ARITHMETIC ((ts - start) / step — no second window), the
    // presence predicate is a deterministic hash (a stand-in for the
    // sink anti-join, keyed on integers so no cross-engine timestamp
    // rendering is involved), and a planted 12 h outage on location 1
    // makes multi-slot ranges non-vacuous. Scale shape: grid generation
    // is map-only; one (location)-partitioned window over (location,
    // 2 longs); ranges are O(gaps), never O(slots).
    "w09_backfill_ranges" -> { (s, _) =>
      import s.implicits._
      coalesceRanges(backfillSlots(s).filter(
        graft.Dets.phash(concat(lit("have:"), $"location_id".cast("string"),
          lit(":"), $"idx".cast("string"))) % 13 === 0 ||
        ($"location_id" === 1 &&
         $"ts" >= lit("2024-01-11 06:00:00").cast("timestamp") &&
         $"ts" <  lit("2024-01-11 18:00:00").cast("timestamp"))))
    },

    // O5+O11 — result envelope: fetched / inserted / cursor echo as a
    // single row (the lambda's JSON body, as a relation).
    "w06_result_envelope" -> { (s, d) =>
      import s.implicits._
      val ev = T.events(s, d)
      val sink = ev.filter($"ts" <= lit(CURSOR).cast("timestamp"))
      val batch = ev.filter($"ts" > lit(BATCH_LOOKBACK).cast("timestamp") &&
                            $"ts" <= lit(NOW).cast("timestamp"))
      val inserted = upsertNew(batch, sink, "event_id")
      batch.agg(count(lit(1)).as("records_fetched"))
        .crossJoin(inserted.agg(
          count(lit(1)).as("records_inserted"),
          max(date_trunc("second", col("ts"))).as("latest_cursor")))
    }
  )

  /** The vocabulary as SQL VALUES — the enum tables are library
    * constants (wire-id indexed), so the oracle embeds the same rows and
    * the cross-engine check exercises the regex resolution + join.
    */
  private val vocabValuesSql = graft.sources.WeatherVocab.ALL
    .map { case (k, i, n) => s"('$k', $i, '$n')" }.mkString(", ")
  private val measureValuesSql = graft.sources.WeatherGridSource.MEASURES
    .map(m => s"('$m')").mkString(", ")

  def oracleSql: Map[String, String] = Map(
    "w08_enum_vocab" ->
      s"""WITH vocab(kind, id, name) AS (VALUES $vocabValuesSql),
         |m0(measure) AS (VALUES $measureValuesSql),
         |measures AS (
         |  SELECT measure,
         |    regexp_replace(measure, '_([0-9]+)m$$', '') AS base,
         |    CASE WHEN regexp_extract(measure, '_([0-9]+)m$$', 1) = ''
         |         THEN 0
         |         ELSE CAST(regexp_extract(measure, '_([0-9]+)m$$', 1) AS INT)
         |    END AS altitude_m
         |  FROM m0)
         |SELECT v.kind, v.id, v.name, m.measure, m.altitude_m
         |FROM vocab v LEFT JOIN measures m
         |  ON v.kind = 'variable' AND v.name = m.base
         |ORDER BY v.kind, v.id""".stripMargin,

    "w01_time_grid" ->
      """SELECT range AS ts
        |FROM range(TIMESTAMP '2024-01-14 00:00:00',
        |           TIMESTAMP '2024-01-16 00:00:00', INTERVAL 15 MINUTE)
        |ORDER BY ts""".stripMargin,

    "w02_future_filter" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  max(date_trunc('second', CAST(ts AS TIMESTAMP))) AS max_ts
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '$NOW'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "w03_cursor_filter" ->
      s"""SELECT event_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_s,
         |  user_id, event_type
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '$NOW'
         |  AND CAST(ts AS TIMESTAMP) >  TIMESTAMP '$CURSOR'
         |ORDER BY event_id""".stripMargin,

    "w04_nan_to_null" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN value >= 50 THEN value END) AS n_present,
        |  CAST(SUM(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CAST(CASE WHEN value >= 50 THEN value ELSE 0.0 END
        |       AS DECIMAL(18,4))) AS DOUBLE) AS sum_present
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "w05_upsert_antijoin" ->
      s"""SELECT event_type, COUNT(*) AS n_inserted,
         |  max(date_trunc('second', CAST(ts AS TIMESTAMP))) AS new_cursor
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >  TIMESTAMP '$CURSOR'
         |  AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '$NOW'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Mirrors the generator's metadata formulas (quarter-quanta: n*0.25 is
    // exact in float32 AND float64, so double arithmetic here equals the
    // wire's Float32 values bit-for-bit) and the calendar-month axis.
    "w07_monthly_grid" ->
      """WITH months AS (
        |  SELECT range AS ts
        |  FROM range(TIMESTAMP '2024-02-01 00:00:00',
        |             TIMESTAMP '2025-01-01 00:00:00', INTERVAL 1 MONTH)),
        |locs AS (SELECT range AS location_id FROM range(0, 3))
        |SELECT location_id, ts,
        |  CAST((location_id * 7919) % 720 AS DOUBLE) * 0.25 - 90.0 AS latitude,
        |  CAST((location_id * 104729) % 1440 AS DOUBLE) * 0.25 - 180.0 AS longitude,
        |  CAST((location_id * 613) % 32000 AS DOUBLE) * 0.25 AS elevation,
        |  CASE (location_id % 5) + 1
        |    WHEN 1 THEN 'best_match' WHEN 2 THEN 'gfs_seamless'
        |    WHEN 3 THEN 'gfs_global' WHEN 4 THEN 'gfs_hrrr'
        |    ELSE 'meteofrance_seamless' END AS model
        |FROM locs, months
        |ORDER BY location_id, ts""".stripMargin,

    "w09_backfill_ranges" ->
      s"""WITH slots AS (
         |  SELECT l.range AS location_id, g.range AS ts,
         |    CAST((epoch(g.range) - epoch(TIMESTAMP '2024-01-08 00:00:00'))
         |         // 900 AS BIGINT) AS idx
         |  FROM range(0, 3) l, range(TIMESTAMP '2024-01-08 00:00:00',
         |    TIMESTAMP '2024-01-15 00:00:00', INTERVAL 15 MINUTE) g),
         |missing AS (
         |  SELECT * FROM slots
         |  WHERE ${graft.Dets.phashSql(
               "'have:' || CAST(location_id AS VARCHAR) || ':' || " +
               "CAST(idx AS VARCHAR)")} % 13 = 0
         |     OR (location_id = 1
         |         AND ts >= TIMESTAMP '2024-01-11 06:00:00'
         |         AND ts <  TIMESTAMP '2024-01-11 18:00:00')),
         |grp AS (
         |  SELECT *, idx - row_number()
         |    OVER (PARTITION BY location_id ORDER BY ts) AS g
         |  FROM missing)
         |SELECT location_id, MIN(ts) AS range_start,
         |  MAX(ts) + INTERVAL 15 MINUTE AS range_end,
         |  COUNT(*) AS n_slots
         |FROM grp GROUP BY location_id, g
         |ORDER BY location_id, range_start""".stripMargin,

    "w06_result_envelope" ->
      s"""SELECT
         |  (SELECT COUNT(*) FROM events
         |   WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '$BATCH_LOOKBACK'
         |     AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '$NOW') AS records_fetched,
         |  (SELECT COUNT(*) FROM events
         |   WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '$CURSOR'
         |     AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '$NOW') AS records_inserted,
         |  (SELECT max(date_trunc('second', CAST(ts AS TIMESTAMP))) FROM events
         |   WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '$CURSOR'
         |     AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '$NOW') AS latest_cursor""".stripMargin
  )
}
