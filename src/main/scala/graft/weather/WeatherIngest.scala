package graft.weather

import graft.Dets._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference pipeline end-to-end on Spark (EP1/EP2, SURVEY §3):
  * connect -> guard -> cursor -> extract -> transform -> load -> report,
  * over the WeatherGridSource "API" and a Parquet sink.
  *
  * Reference mapping (lambda_function.py):
  *  - guard (:55-72):   bad arguments and a missing sink path fail
  *                      fast, before any Spark job — never create
  *  - cursor (:75-86):  agg(max(ts)) on the sink — one full scan of the
  *                      ts column per run, O(history)
  *  - extract (:89-124): WeatherGridSource scan with ts-range pushdown
  *                      bounded by past_days/forecast_days
  *  - transform (:127-145): future filter + strictly-after-cursor filter
  *                      (`WeatherPipeline.filterNewRecords`, checked by
  *                      w02/w03)
  *  - NaN->NULL (:167-173): measure encoding at the sink boundary
  *                      (`WeatherPipeline.nanToNull`, w04)
  *  - load (:150-152, :176-186): an empty batch (no row passes O6+O7)
  *                      returns 0 inserts before the sink is read again;
  *                      otherwise within-batch dedup + left-anti vs sink
  *                      + append (ON CONFLICT (date) DO NOTHING)
  *  - report (:228-238): IngestResult envelope; the reported cursor is
  *                      max(ts) of the run's own inserted rows (or the
  *                      cursor it read, when nothing was inserted) — no
  *                      second sink scan; errors -> IngestError (:240-248)
  */
object WeatherIngest {
  import graft.sources.WeatherGridSource.MEASURES

  final case class IngestResult(statusCode: Int, recordsFetched: Long,
                                recordsInserted: Long,
                                latestCursor: Option[java.sql.Timestamp],
                                error: Option[String] = None)

  /** Transient-fault test, the Spark analog of the reference's retry
    * allowlist (HTTP 500/502/504 + connection errors only —
    * retry_requests/__init__.py:44): transport/executor faults retry,
    * deterministic failures (analysis errors, bad SQL, missing columns)
    * surface immediately. Spark wraps task failures, so the whole cause
    * chain is scanned.
    */
  def isTransient(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toList
    // Deterministic IOException subclasses veto retry no matter how deep
    // they sit: a missing path or corrupt footer fails identically on
    // every attempt, and retrying burns the whole backoff budget before
    // surfacing — the opposite of the reference's status-code allowlist
    // (500/502/504 only, never 404).
    val deterministic = chain.exists {
      case _: java.io.FileNotFoundException            => true
      case _: java.nio.file.NoSuchFileException        => true
      case _: java.nio.file.FileAlreadyExistsException => true
      case _ => false
    }
    !deterministic && chain.exists {
      case _: java.io.IOException                   => true // connection reset, FS hiccup
      case _: java.util.concurrent.TimeoutException => true
      // FetchFailedException is private[spark] — match by name
      case t if t.getClass.getName.endsWith("FetchFailedException") => true
      case _ => false
    }
  }

  /** O2: bounded-retry wrapper for the extract boundary (reference: 5
    * retries, backoff 0.2 — retry_requests/__init__.py:40-87). Spark-side
    * reads are lazy, so the retry wraps the materializing action. Only
    * `transient` failures are retried — everything else rethrows on the
    * first attempt, matching the reference's status-code allowlist.
    */
  def withRetry[T](retries: Int = 5, backoffMs: Long = 200,
                   transient: Throwable => Boolean = isTransient)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch { case e: Throwable =>
        attempt += 1
        if (attempt > retries || !transient(e)) throw e
        Thread.sleep(backoffMs * (1L << (attempt - 1)))
      }
    }
    sys.error("unreachable")
  }

  /** O10: existence guard — abort, never auto-create (lambda_function.py:55-72).
    * Resolved through Hadoop's FileSystem API so lake paths (hdfs://,
    * s3a://, dbfs:/) answer truthfully — a java.io/java.nio check only
    * sees the driver's local disk, which on a cluster reads "absent"
    * for every lake sink and silently defeats the guard.
    */
  def sinkExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** O5: cursor = MAX(ts) over the sink — the Spark analog of running
    * MAX in the database. Spark does not answer MAX from Parquet footer
    * stats: the plan is a full scan of the ts column (`ReadSchema:
    * struct<ts>`), so the cursor costs O(history). `run` pays it once per
    * run, before the extract; the cursor it reports afterwards comes from
    * the rows it inserted, not from a second scan.
    */
  def latestCursor(spark: SparkSession, path: String): Option[java.sql.Timestamp] =
    maxTs(spark.read.parquet(path))

  private def maxTs(sink: DataFrame): Option[java.sql.Timestamp] =
    Option(sink.agg(max("ts")).first().getTimestamp(0))

  /** The first bad argument of a run, as its error message. */
  private def badArgument(pastDays: Int, forecastDays: Int, locations: Int): Option[String] =
    Seq(("pastDays", pastDays, 0), ("forecastDays", forecastDays, 0),
        ("locations", locations, 1)).collectFirst {
      case (name, v, min) if v < min => s"$name must be >= $min, got $v"
    }

  /** Extract: read the source bounded to [now - pastDays, now + forecastDays). */
  def fetch(spark: SparkSession, now: String, pastDays: Int, forecastDays: Int,
            locations: Int): DataFrame = {
    val nowTs = java.time.LocalDateTime.parse(now.replace(' ', 'T'))
    spark.read.format("graft.sources.WeatherGridSource")
      .option("start", nowTs.minusDays(pastDays).toString.replace('T', ' '))
      .option("end", nowTs.plusDays(forecastDays).toString.replace('T', ' '))
      .option("locations", locations)
      .load()
  }

  /** One scheduled run (the lambda_handler body). `now` is explicit for
    * determinism/testing; production passes the trigger time.
    */
  def run(spark: SparkSession, sinkPath: String, now: String,
          pastDays: Int = 1, forecastDays: Int = 1,
          locations: Int = 1): IngestResult = {
    // the run's cached frames, unpersisted in `finally` on every path
    // (the reference closes its connection in a `finally` too): a failed
    // run must not leave blocks pinned in a long-lived session
    var raw: DataFrame = null
    var toInsert: DataFrame = null
    try {
      val bad = badArgument(pastDays, forecastDays, locations)
      if (bad.nonEmpty) return IngestResult(500, 0, 0, None, bad)
      if (!sinkExists(spark, sinkPath))
        return IngestResult(500, 0, 0, None,
          Some(s"sink $sinkPath does not exist — create it first"))
      // the one schema inference and the one full-history scan of the run
      val sinkAll = spark.read.parquet(sinkPath)
      val cursor = maxTs(sinkAll)
      // cache the extract: the count action below is the ONE source scan
      // per run (the reference fetches once, too) — the downstream
      // dedup/append pipeline reads the cached blocks
      raw = fetch(spark, now, pastDays, forecastDays, locations).cache()
      val nowTs = lit(now).cast("timestamp")
      val cursorTs = cursor.map(lit)
      // one aggregate yields the fetched count and how many rows pass
      // the O6+O7 predicate that filterNewRecords applies below
      val counts = withRetry()(raw.agg(count(lit(1)),
        count(when(WeatherPipeline.isNewRecord(col("ts"), nowTs, cursorTs), 1))).first())
      val fetched = counts.getLong(0)
      if (counts.getLong(1) == 0) {
        // empty batch: no row is after the cursor and at or before `now`,
        // so nothing can be inserted whatever the sink holds (concurrent
        // writers included) — skip the anti-join side
        return IngestResult(200, fetched, 0, cursor)
      }
      val encoded = WeatherPipeline.nanToNull(
        WeatherPipeline.filterNewRecords(raw, "ts", nowTs, cursorTs), MEASURES)
      // anti-join side pruned to the extract window: ts is part of the
      // upsert key, so sink rows before the window can never match — the
      // filter pushes to the parquet scan (and prunes partitions on a
      // date-partitioned sink), keeping the per-run join cost bounded by
      // the window instead of the sink's full history. It re-lists the
      // sink instead of reusing `sinkAll`, whose file listing froze at the
      // cursor read: a run committed since then must still be seen here.
      // Only the schema is reused, which skips a second footer inference.
      val windowLo = java.time.LocalDateTime.parse(now.replace(' ', 'T'))
        .minusDays(pastDays).toString.replace('T', ' ')
      val sink = spark.read.schema(sinkAll.schema).parquet(sinkPath)
        .filter(col("ts") >= lit(windowLo).cast("timestamp"))
      toInsert = WeatherPipeline.upsertNew(
        encoded, sink, Seq("location_id", "ts")).cache()
      // one action counts the rows and yields the new cursor: every
      // inserted row is strictly after `cursor`, so their max is the
      // sink's max after the commit (for a single writer)
      val stats = toInsert.agg(count(lit(1)), max("ts")).first()
      val inserted = stats.getLong(0)
      if (inserted > 0)
        // retry covers the load boundary as well as the extract: toInsert
        // is cached (frozen), so a retried append rewrites identical rows
        // after the all-or-nothing job commit aborted
        withRetry()(toInsert.write.mode(SaveMode.Append).parquet(sinkPath))
      IngestResult(200, fetched, inserted, Option(stats.getTimestamp(1)).orElse(cursor))
    } catch {
      case e: Throwable => IngestResult(500, 0, 0, None, Some(e.getMessage))
    } finally {
      Option(toInsert).foreach(_.unpersist())
      Option(raw).foreach(_.unpersist())
    }
  }
}
