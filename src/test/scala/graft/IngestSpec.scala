package graft

import graft.weather.WeatherIngest
import org.apache.spark.sql.functions._

/** DataSource V2 connector + full pipeline end-to-end (EP1/EP2 of the
  * reference, SURVEY §3): guard, cursor, extract with pushdown,
  * filters, NaN->NULL, idempotent append, envelope.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def readGrid(locs: Int) =
    spark.read.format("graft.sources.WeatherGridSource")
      .option("start", "2024-01-01 00:00:00")
      .option("end", "2024-01-03 00:00:00")
      .option("locations", locs)
      .load()

  private def emptySink(prefix: String, locs: Int): String = {
    val sink = tempDir(prefix).toString
    readGrid(locs).limit(0).write.mode("overwrite").parquet(sink)
    sink
  }

  test("source: half-open grid, one partition per location") {
    val df = readGrid(4)
    assert(df.count() === 4L * 192) // 2 days x 96 slots x 4 locations
    assert(df.rdd.getNumPartitions === 4)
    assert(df.columns.take(2).toSeq === Seq("location_id", "ts"))
    assert(df.columns.length === 10) // + 8 measures
  }

  test("source: ts-range pushdown prunes generated slots") {
    // results stay correct regardless (Spark re-applies the filter);
    // assert the PRUNING itself on the ScanBuilder directly
    import graft.sources.{WeatherGridScanBuilder, WeatherGridSource}
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val interval = 900L * 1000000L
    val builder = new WeatherGridScanBuilder(
      WeatherGridSource.parseTs("2024-01-01 00:00:00"),
      WeatherGridSource.parseTs("2024-01-03 00:00:00"), interval, 2)
    val remaining = builder.pushFilters(Array(GreaterThanOrEqual("ts",
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T00:00:00Z")))))
    assert(remaining.length === 1, "filters must also be re-applied by Spark")
    assert(builder.pushedFilters().length === 1, "filter not accepted for pushdown")
    val scan = builder.build()
    assert(scan.description().contains(
      WeatherGridSource.parseTs("2024-01-02 00:00:00").toString),
      s"scan range not narrowed: ${scan.description()}")
    // and end-to-end: the filtered read returns exactly the last day
    val filtered = readGrid(2).filter($"ts" >= "2024-01-02 00:00:00")
    assert(filtered.count() === 2L * 96)
  }

  test("wire framing: multi-frame round trip is lossless") {
    import graft.sources.WireFraming
    val msgs = Seq(Array[Byte](1, 2, 3), Array.empty[Byte],
      Array.tabulate(300)(_.toByte))
    val decoded = WireFraming.decode(WireFraming.encode(msgs)).toSeq
    assert(decoded.map(_.toSeq) === msgs.map(_.toSeq))
  }

  test("wire framing: in-stream error magic surfaces the server message") {
    import graft.sources.WireFraming
    val body = WireFraming.encode(Seq(Array[Byte](9, 9))) ++
      WireFraming.encodeError("Unexpected rate limit, slow down")
    val it = WireFraming.decode(body)
    assert(it.next().toSeq === Seq[Byte](9, 9))
    val e = intercept[WireFraming.WireError](it.next())
    assert(e.getMessage.startsWith("Unexpected rate limit"))
    // a truncated frame is a loud error, not a silent short read
    val trunc = WireFraming.encode(Seq(Array[Byte](1, 2, 3))).dropRight(1)
    intercept[WireFraming.WireError](WireFraming.decode(trunc).toSeq)
  }

  test("wire framing: multi-frame scan end-to-end; injected error fails the read") {
    // 4 days x 96 slots = 384 slots > 256/frame -> 2 frames per location
    val wide = spark.read.format("graft.sources.WeatherGridSource")
      .option("start", "2024-01-01 00:00:00")
      .option("end", "2024-01-05 00:00:00")
      .option("locations", 2)
      .load()
    assert(wide.count() === 2L * 384)
    assert(wide.select($"ts").distinct().count() === 384)
    // fault injection: the in-stream error must fail the scan with the
    // server's message, not truncate it into a silent partial result
    val bad = spark.read.format("graft.sources.WeatherGridSource")
      .option("start", "2024-01-01 00:00:00")
      .option("end", "2024-01-05 00:00:00")
      .option("inject_wire_error", "true")
      .load()
    val e = intercept[Exception](bad.collect())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("Unexpected weather API error")),
      s"error message lost: ${e.getMessage}")
  }

  test("source: generic wire model — axis cadence + variable list options") {
    // hourly axis: 2 days -> 48 slots; requested variables become columns
    // in request order, like the reference's params dict
    val hourly = spark.read.format("graft.sources.WeatherGridSource")
      .option("start", "2024-01-01 00:00:00")
      .option("end", "2024-01-03 00:00:00")
      .option("axis", "hourly")
      .option("variables", "cloud_cover,temperature_2m")
      .load()
    assert(hourly.columns.toSeq ===
      Seq("location_id", "ts", "cloud_cover", "temperature_2m"))
    assert(hourly.count() === 48)
    // a variable's series is keyed by NAME: the same variable requested
    // in a different list (and order) returns the same values
    val t1 = hourly.select($"ts", $"temperature_2m").collect()
      .map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    val t2 = spark.read.format("graft.sources.WeatherGridSource")
      .option("start", "2024-01-01 00:00:00")
      .option("end", "2024-01-03 00:00:00")
      .option("axis", "hourly")
      .option("variables", "temperature_2m")
      .load().select($"ts", $"temperature_2m").collect()
      .map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    assert(t1.keySet === t2.keySet)
    t1.foreach { case (ts, v) =>
      assert(v.isNaN && t2(ts).isNaN || v === t2(ts),
        s"series for temperature_2m depends on the request list at $ts")
    }
    // a misspelled axis or a non-positive / non-numeric interval_s fails
    // load() with a message naming the value, before any Spark job
    for ((opt, value, msg) <- Seq(
        ("axis", "hourlly", "axis must be one of minutely_15, hourly, " +
          "six_hourly, daily, monthly, got 'hourlly'"),
        ("interval_s", "0", "interval_s must be >= 1, got 0"),
        ("interval_s", "-900", "interval_s must be >= 1, got -900"),
        ("interval_s", "15m", "interval_s must be >= 1, got 15m"))) {
      val (e, jobs, _) = usage(intercept[IllegalArgumentException](
        spark.read.format("graft.sources.WeatherGridSource")
          .option(opt, value).load()))
      assert(e.getMessage.contains(msg), e.getMessage)
      assert(jobs === 0, s"$jobs Spark jobs ran before the $opt check")
    }
  }

  test("source: monthly axis steps by calendar month, metadata columns surfaced") {
    import graft.sources.WeatherGridSource
    val df = spark.read.format("graft.sources.WeatherGridSource")
      .option("start", "2024-01-15 00:00:00") // mid-month: aligns UP to Feb 1
      .option("end", "2025-01-01 00:00:00")
      .option("locations", 2)
      .option("axis", "monthly")
      .option("metadata", "true")
      .option("variables", "temperature_2m,rain")
      .load()
    assert(df.columns.toSeq === Seq("location_id", "ts", "latitude",
      "longitude", "elevation", "model", "temperature_2m", "rain"))
    // calendar steps (28..31 days apart) — no fixed interval_s expresses this
    val ts = df.filter($"location_id" === 1).select($"ts".cast("long"))
      .as[Long].collect().sorted.toSeq
    assert(ts === (2 to 12).map(m =>
      WeatherGridSource.parseTs(f"2024-$m%02d-01 00:00:00") / 1000000L))
    // metadata mirrors the per-location response header scalars
    val meta = df.filter($"location_id" === 1)
      .select($"latitude", $"longitude", $"elevation", $"model")
      .distinct().collect()
    assert(meta.length === 1, "metadata must be constant per location")
    assert(meta.head.getFloat(0) === WeatherGridSource.latitude(1L))
    assert(meta.head.getFloat(1) === WeatherGridSource.longitude(1L))
    assert(meta.head.getFloat(2) === WeatherGridSource.elevation(1L))
    assert(meta.head.getString(3) === "gfs_seamless") // Model id 2 = 1 % 5 + 1
  }

  test("source: column pruning reaches the generator (ReadSchema narrowed)") {
    val pruned = readGrid(1).select($"ts", $"rain")
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("rain"), s"scan lost the requested column: $scanLine")
    assert(!scanLine.contains("temperature_2m"),
      s"unrequested variables still generated: $scanLine")
  }

  test("source: deterministic values with NaN holes") {
    val a = readGrid(1).collect()
    val b = readGrid(1).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    val nanCount = readGrid(1)
      .filter(isnan($"temperature_2m")).count()
    assert(nanCount > 0, "expected NaN holes in the synthetic feed")
  }

  test("pipeline: guard fails fast when sink is missing (HTTP-500 analog)") {
    val r = WeatherIngest.run(spark, "/tmp/definitely_missing_sink_xyz",
      "2024-01-02 00:00:00")
    assert(r.statusCode === 500)
    assert(r.error.exists(_.contains("does not exist")))
  }

  test("pipeline: a failed run unpersists its cached extract") {
    // a sink without the key columns: the run caches its extract, then
    // fails resolving the anti-join on location_id
    val sink = tempDir("graft_sink_bad").toString
    Seq.empty[java.sql.Timestamp].toDF("ts")
      .write.mode("overwrite").parquet(sink)
    // compare ids, not counts: the persistent-RDD map holds its values
    // weakly, so a GC during the run can drop entries earlier suites
    // left unreachable and shrink the count although nothing leaked
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = WeatherIngest.run(spark, sink, "2024-01-02 00:00:00")
    assert(r.statusCode === 500)
    assert(r.error.exists(_.contains("location_id")), r.error)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"a failed run left its cached frames pinned in the session: $leaked")
  }

  test("pipeline: first run inserts history, re-run inserts zero (idempotent)") {
    // seed an empty sink with the right schema (table must pre-exist)
    val sink = emptySink("graft_sink", 2)

    val r1 = WeatherIngest.run(spark, sink, "2024-01-02 00:00:00", locations = 2)
    assert(r1.statusCode === 200)
    assert(r1.recordsFetched === 2L * 192)
    // only non-future slots land: 1 day of history + the midnight slot
    assert(r1.recordsInserted === 2L * 97)
    assert(r1.latestCursor.contains(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))

    val r2 = WeatherIngest.run(spark, sink, "2024-01-02 00:00:00", locations = 2)
    assert(r2.statusCode === 200)
    assert(r2.recordsInserted === 0) // ON CONFLICT DO NOTHING semantics

    // cursor advances with time: 5 minutes later, nothing new yet (15-min grid)
    val r3 = WeatherIngest.run(spark, sink, "2024-01-02 00:05:00", locations = 2)
    assert(r3.recordsInserted === 0)
    // next slot arrives
    val r4 = WeatherIngest.run(spark, sink, "2024-01-02 00:15:00", locations = 2)
    assert(r4.recordsInserted === 2)
  }

  test("pipeline: one ingest run scans the source exactly once") {
    val sink = emptySink("graft_sink1s", 2)
    sources.WeatherGridSource.readerOpens.set(0)
    val r = WeatherIngest.run(spark, sink, "2024-01-02 00:00:00", locations = 2)
    assert(r.statusCode === 200)
    // 2 locations = 2 partition readers; any re-scan would double this
    // (the fetched-count used to re-extract the whole source)
    assert(sources.WeatherGridSource.readerOpens.get() === 2L,
      "ingest must extract once: fetched-count + dedup share the cached scan")
  }

  test("pipeline: the reported cursor equals a fresh cursor read after every run") {
    val sink = emptySink("graft_sink_cursor", 2)
    def ts(s: String) = Some(java.sql.Timestamp.valueOf(s))
    def runAndCheck(now: String, pastDays: Int = 1, forecastDays: Int = 1) = {
      val r = WeatherIngest.run(spark, sink, now, pastDays, forecastDays, locations = 2)
      assert(r.statusCode === 200, r.error)
      assert(r.latestCursor === WeatherIngest.latestCursor(spark, sink), s"run at $now")
      r
    }
    // first run into an empty sink: no cursor -> filled
    assert(WeatherIngest.latestCursor(spark, sink) === None)
    val first = runAndCheck("2024-01-02 00:00:00")
    assert(first.recordsInserted === 2L * 97)
    assert(first.latestCursor === ts("2024-01-02 00:00:00"))
    // zero-insert re-run
    assert(runAndCheck("2024-01-02 00:00:00").recordsInserted === 0)
    // inserting run: one new slot per location
    val next = runAndCheck("2024-01-02 00:15:00")
    assert(next.recordsInserted === 2)
    assert(next.latestCursor === ts("2024-01-02 00:15:00"))
    // empty extract window: nothing fetched, the old cursor is echoed
    val empty = runAndCheck("2024-01-02 00:30:00", pastDays = 0, forecastDays = 0)
    assert(empty.recordsFetched === 0 && empty.recordsInserted === 0)
    assert(empty.latestCursor === ts("2024-01-02 00:15:00"))
    // three days after the sink's last row: the cursor is older than the
    // window start, so the whole past day of the window lands
    val late = runAndCheck("2024-01-05 00:15:00")
    assert(late.recordsInserted === 2L * 97)
    assert(late.latestCursor === ts("2024-01-05 00:15:00"))
  }

  // Job and sink-read budget of one ingest run on a seeded sink (2
  // locations, 3 days of history, 578 rows), measured at local[4]. With
  // the post-commit cursor rescan and a second schema inference the runs
  // took 15 (zero-insert) and 16 (inserting) jobs and read the sink 3x
  // (cursor, anti-join, rescan); the single-scan run took 11 and 12 jobs.
  // With the empty-batch guard, which returns before the anti-join, the
  // zero-insert run takes 6 jobs and reads the sink once, for its
  // cursor; the inserting run still takes 12 and reads it at most twice
  // (cursor + anti-join). Caps are those counts plus 1. The last case is
  // an empty batch with no cursor (6 jobs; 11 without the guard).
  test("pipeline: one ingest run stays within its job and sink-read budget") {
    val sink = emptySink("graft_sink_budget", 2)
    val seeded = WeatherIngest.run(spark, sink, "2024-01-04 00:00:00", pastDays = 3,
      locations = 2)
    assert(seeded.recordsInserted === 2L * (3 * 96 + 1))
    val fetched = 2L * 2 * 96 // one past day + one forecast day per location
    for ((now, inserted, cap, reads) <- Seq(("2024-01-04 00:05:00", 0L, 7, 1),
                                            ("2024-01-04 00:15:00", 2L, 13, 2))) {
      val rowsBefore = spark.read.parquet(sink).count()
      val (r, jobs, records) = usage(
        WeatherIngest.run(spark, sink, now, locations = 2))
      assert(r.statusCode === 200 && r.recordsFetched === fetched &&
        r.recordsInserted === inserted, r)
      assert(jobs <= cap, s"run at $now took $jobs Spark jobs (cap $cap)")
      assert(records <= reads * rowsBefore,
        s"run at $now read $records sink records, more than ${reads}x $rowsBefore")
    }
    // no cursor: an empty sink, pastDays = 0 and a `now` off the
    // 15-minute grid, so every fetched slot is after `now`
    val empty = emptySink("graft_sink_future", 2)
    val (r, jobs, _) = usage(WeatherIngest.run(spark, empty, "2024-01-04 00:05:00",
      pastDays = 0, locations = 2))
    assert(r === WeatherIngest.IngestResult(200, 2L * 96, 0, None), r)
    assert(spark.read.parquet(empty).count() === 0)
    assert(jobs <= 7, s"empty-batch run without a cursor took $jobs Spark jobs (cap 7)")
  }

  for ((arg, pastDays, forecastDays, locations, value) <- Seq(
      ("pastDays", -1, 1, 1, -1),
      ("forecastDays", 1, -2, 1, -2),
      ("locations", 1, 1, 0, 0)))
    test(s"pipeline: $arg out of range fails up front, before the guard and any Spark job") {
      // the sink is missing too: the argument check must answer first
      val (r, jobs, _) = usage(WeatherIngest.run(spark, "/tmp/definitely_missing_sink_xyz",
        "2024-01-02 00:00:00", pastDays, forecastDays, locations))
      assert(r.statusCode === 500)
      assert(r.error.exists(e => e.contains(arg) && e.endsWith(s"got $value")), r.error)
      assert(jobs === 0, s"$jobs Spark jobs ran before the argument check")
    }

  test("pipeline: NaN measures land as NULL in the sink") {
    val sink = emptySink("graft_sink2", 1)
    WeatherIngest.run(spark, sink, "2024-01-02 00:00:00")
    val stored = spark.read.parquet(sink)
    assert(stored.filter(isnan($"temperature_2m")).count() === 0)
    assert(stored.filter($"temperature_2m".isNull).count() > 0)
  }

  test("retry helper: transient failures retry then succeed") {
    var calls = 0
    val out = WeatherIngest.withRetry(retries = 3, backoffMs = 1) {
      calls += 1
      if (calls < 3) throw new java.io.IOException("connection reset") else 42
    }
    assert(out === 42 && calls === 3)
  }

  test("retry helper: deterministic failures surface on attempt 1 (reference allowlist)") {
    // the reference retries only HTTP 500/502/504 + connection errors
    // (retry_requests/__init__.py:44); a deterministic error must not
    // burn five backoff retries before surfacing
    var calls = 0
    val e = intercept[IllegalArgumentException] {
      WeatherIngest.withRetry(retries = 5, backoffMs = 1) {
        calls += 1
        throw new IllegalArgumentException("no such column")
      }
    }
    assert(e.getMessage === "no such column" && calls === 1)
  }

  test("retry helper: deterministic IOExceptions fail fast, even wrapped") {
    // FileNotFound / NoSuchFile are IOExceptions but deterministic — a
    // missing path is still missing on attempt 5. They must veto retry
    // even when a generic IOException wraps them higher in the chain.
    var calls = 0
    intercept[java.io.IOException] {
      WeatherIngest.withRetry(retries = 5, backoffMs = 1) {
        calls += 1
        throw new java.io.IOException("read failed",
          new java.io.FileNotFoundException("/no/such/path"))
      }
    }
    assert(calls === 1, s"FileNotFound burned $calls attempts")
    calls = 0
    intercept[RuntimeException] {
      WeatherIngest.withRetry(retries = 5, backoffMs = 1) {
        calls += 1
        throw new RuntimeException("job aborted",
          new java.nio.file.NoSuchFileException("/gone.parquet"))
      }
    }
    assert(calls === 1, s"NoSuchFile burned $calls attempts")
  }

  test("enum vocabulary is complete and the measure resolution rule is total") {
    import graft.sources.WeatherVocab
    assert(WeatherVocab.VARIABLES.length === 165)
    assert(WeatherVocab.UNITS.length === 43)
    assert(WeatherVocab.AGGREGATIONS.length === 16)
    assert(WeatherVocab.PROBABILITIES.length === 39)
    assert(WeatherVocab.VARIABLES.distinct.length === 165, "duplicate names")
    // spot-pin wire ids against the reference enum (Variable.py:6-170)
    assert(WeatherVocab.VARIABLES(1) === "apparent_temperature")
    assert(WeatherVocab.VARIABLES(47) === "temperature")
    assert(WeatherVocab.VARIABLES(164) === "sea_ice_thickness")
    assert(WeatherVocab.UNITS(1) === "celsius")
    assert(WeatherVocab.AGGREGATIONS(15) === "efi")
    // every reference request measure resolves to a known Variable
    graft.sources.WeatherGridSource.MEASURES.foreach { m =>
      val (base, alt) = WeatherVocab.measureToVariable(m)
      assert(WeatherVocab.VARIABLES.contains(base),
        s"$m -> $base not in the Variable enum")
      assert(alt >= 0, s"$m parsed altitude $alt")
    }
    assert(WeatherVocab.measureToVariable("temperature_2m") ===
      ("temperature", 2))
    assert(WeatherVocab.measureToVariable("wind_speed_10m") ===
      ("wind_speed", 10))
    assert(WeatherVocab.measureToVariable("rain") === ("rain", 0))
  }

  test("wire frames carry per-variable enum ids; schema metadata matches") {
    import graft.sources.{WeatherGridSource => S, WeatherVocab, WireFraming}
    // round-trip: server frames -> chunked decode -> parsed header ids
    val vars = Seq("temperature_2m", "rain", "wind_speed_10m")
    val msg = WireFraming.parseMessage(
      WireFraming.decodeChunks(WireFraming.encodeResponseChunks(
        loc = 7L, start = 0L, end = 3600L * 1000000L * 4,
        interval = 3600L * 1000000L, variables = vars,
        slotsPerMessage = 100)).next())
    assert(msg.varMeta.length === 3)
    val t = msg.varMeta(0)
    assert(t.variableId === WeatherVocab.VARIABLES.indexOf("temperature"))
    assert(t.unitId === WeatherVocab.UNITS.indexOf("celsius"))
    assert(t.aggregationId === 0 && t.altitudeM === 2)
    val r = msg.varMeta(1)
    assert(r.variableId === WeatherVocab.VARIABLES.indexOf("rain"))
    assert(r.unitId === WeatherVocab.UNITS.indexOf("millimetre"))
    assert(r.altitudeM === 0)
    val w = msg.varMeta(2)
    assert(w.variableId === WeatherVocab.VARIABLES.indexOf("wind_speed"))
    assert(w.altitudeM === 10)
    // the DataFrame surface: metadata=true attaches the same ids as
    // COLUMN metadata on each variable field
    val df = spark.read.format("graft.sources.WeatherGridSource")
      .option("start", "2024-01-01 00:00:00")
      .option("end", "2024-01-01 06:00:00")
      .option("locations", 1).option("metadata", "true")
      .option("variables", "temperature_2m,rain").load()
    val f = df.schema("temperature_2m").metadata
    assert(f.getLong("variable_id") ===
      WeatherVocab.VARIABLES.indexOf("temperature").toLong)
    assert(f.getString("unit") === "celsius")
    assert(f.getLong("altitude_m") === 2L)
    assert(df.schema("rain").metadata.getString("unit") === "millimetre")
    // varMeta totality over the full request list
    S.MEASURES.foreach { m =>
      val vm = S.varMeta(m)
      assert(vm.variableId > 0, s"$m resolved to 'undefined'")
      assert(vm.unitId > 0, s"$m has no unit mapping")
    }
  }

  test("retry helper: wrapped transient cause (Spark-style) still retries") {
    // Spark wraps task failures — the transient test scans the cause chain
    var calls = 0
    val out = WeatherIngest.withRetry(retries = 3, backoffMs = 1) {
      calls += 1
      if (calls < 2)
        throw new RuntimeException("job aborted",
          new java.io.IOException("fetch timed out"))
      else "ok"
    }
    assert(out === "ok" && calls === 2)
  }
}
