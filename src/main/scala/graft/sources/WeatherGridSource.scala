package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 connector generalizing the reference's HTTP columnar scan
  * (O1: lambda_function.py:89-124 — fetch a dense 15-min grid of 8 weather
  * variables, decode columnar payload, emit rows). The reference fetches
  * ONE location per Lambda invocation; the idiomatic Spark generalization
  * is one InputPartition per location — 10k locations = 10k parallel
  * tasks, the natural 100 TB sharding for a fleet-scale scrape.
  *
  * The wire model is generic, not 8 hard-coded measures: the response
  * carries time-axis groups (Current/Minutely15/Hourly/SixHourly/Daily/
  * Monthly — openmeteo_sdk/WeatherApiResponse.py:95-142) and a Variable
  * enum (Variable.py:5-170). This source mirrors that space with two
  * options: `axis` picks the grid cadence (minutely_15 | hourly |
  * six_hourly | daily | monthly; `interval_s` overrides for a custom
  * cadence — `current` is just a one-slot window; `monthly` steps by
  * CALENDAR months, the one axis a fixed interval cannot express), and
  * `variables` is the requested variable list (CSV, any names — request
  * order = column order, exactly like the reference's params dict,
  * lambda_function.py:27-36). A variable's synthetic series is keyed by
  * its NAME, so the same variable returns the same series regardless of
  * which other variables are requested — the real API's behavior.
  *
  * Option `metadata=true` additionally surfaces the response-level
  * location scalars the reference's wire model carries
  * (WeatherApiResponse.py:32-71) as columns: latitude / longitude /
  * elevation (Float32) and model (the Model enum, Model.py:6-11, surfaced
  * as its name).
  *
  * No network in this environment, so the "API" is a deterministic
  * synthetic generator with the reference's exact shape: half-open
  * [start, end) grid at the axis cadence (lambda_function.py:106-111),
  * float measures with NaN holes (the wire format's missing-value
  * encoding, VariableWithValues.py:58-62). The scan goes through the
  * reference's WIRE FRAMING, not straight to rows: the response body is
  * length-prefixed columnar frames with the in-stream "Unexpected" error
  * magic (openmeteo_requests/Client.py:31-43), streamed lazily through
  * [[WireFraming.decodeChunks]] (memory bounded by one frame). Option
  * `inject_wire_error` exercises the error path end-to-end.
  *
  * The source is batch-only: the reference is a cron-scheduled batch job
  * (deploy.sh:36-37), and `WeatherIngest.run` is that job — its cursor
  * is the sink's `max(ts)`, not a stream offset log.
  *
  * Scan-level pushdown, both kinds:
  *  - ts range predicates narrow the generated grid
  *    (SupportsPushDownFilters) — the analog of passing
  *    `past_days`/`forecast_days` to the API instead of filtering locally;
  *  - column pruning reaches the generator
  *    (SupportsPushDownRequiredColumns) — unrequested variables are never
  *    computed, the analog of not asking the API for them.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.WeatherGridSource")
  *   .option("start", "2024-01-01 00:00:00").option("end", "2024-01-03 00:00:00")
  *   .option("locations", 4).option("axis", "hourly")
  *   .option("variables", "temperature_2m,cloud_cover").load()
  * }}}
  */
class WeatherGridSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WeatherGridSource.schemaFor(WeatherGridSource.variablesOf(options),
      WeatherGridSource.metadataOf(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WeatherGridTable(new CaseInsensitiveStringMap(properties))
}

object WeatherGridSource {
  /** Test hook: partition readers opened (local-mode single JVM) — lets
    * IngestSpec assert one source scan per ingest run.
    */
  private[graft] val readerOpens = new java.util.concurrent.atomic.AtomicLong(0)

  /** Reference request variables in request order (lambda_function.py:27-36)
    * — the default `variables` list, and the reference sink's measure
    * columns (lambda_function.py:155-165).
    */
  val MEASURES: Seq[String] = Seq(
    "temperature_2m", "relative_humidity_2m", "apparent_temperature", "rain",
    "sunshine_duration", "precipitation", "dew_point_2m", "wind_speed_10m")

  /** Wire-model time-axis groups → grid cadence in seconds
    * (WeatherApiResponse.py:95-142; `current` is a cadence-less point
    * read — model it as a one-slot [start, end) window instead; `monthly`
    * is calendar-stepped, not in this fixed-cadence map).
    */
  val AXES: Map[String, Long] = Map(
    "minutely_15" -> 900L, "hourly" -> 3600L,
    "six_hourly" -> 21600L, "daily" -> 86400L)

  /** Model enum names, indexed by wire id (openmeteo_sdk/Model.py:6-11). */
  val MODELS: Seq[String] = Seq("undefined", "best_match", "gfs_seamless",
    "gfs_global", "gfs_hrrr", "meteofrance_seamless")

  /** The metadata columns `metadata=true` adds, mirroring the response
    * header scalars (WeatherApiResponse.py:32-71).
    */
  val META_FIELDS: Seq[StructField] = Seq(
    StructField("latitude", FloatType, nullable = false),
    StructField("longitude", FloatType, nullable = false),
    StructField("elevation", FloatType, nullable = false),
    StructField("model", StringType, nullable = false))

  def schemaFor(variables: Seq[String], metadata: Boolean = false): StructType = {
    // with metadata=true each variable column also carries its wire
    // header ids as COLUMN metadata (Spark's per-field metadata is the
    // idiomatic surface for per-column facts — they are constant per
    // column, so a row-level column would just repeat them)
    def varField(v: String): StructField =
      if (!metadata) StructField(v, DoubleType, nullable = true)
      else {
        val m = varMeta(v)
        StructField(v, DoubleType, nullable = true,
          new MetadataBuilder()
            .putLong("variable_id", m.variableId.toLong)
            .putString("variable",
              WeatherVocab.VARIABLES(m.variableId))
            .putLong("unit_id", m.unitId.toLong)
            .putString("unit", WeatherVocab.UNITS(m.unitId))
            .putLong("aggregation_id", m.aggregationId.toLong)
            .putLong("altitude_m", m.altitudeM.toLong)
            .build())
      }
    StructType(
      StructField("location_id", LongType, nullable = false) +:
      StructField("ts", TimestampType, nullable = false) +:
      ((if (metadata) META_FIELDS else Seq.empty) ++ variables.map(varField)))
  }

  val SCHEMA: StructType = schemaFor(MEASURES)

  private[sources] def variablesOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("variables"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(MEASURES)

  private[sources] def metadataOf(options: CaseInsensitiveStringMap): Boolean =
    options.getOrDefault("metadata", "false").toBoolean

  private def axisOf(options: CaseInsensitiveStringMap): String = {
    val axis = options.getOrDefault("axis", "minutely_15")
    val accepted = Seq("minutely_15", "hourly", "six_hourly", "daily", "monthly")
    require(accepted.contains(axis),
      s"axis must be one of ${accepted.mkString(", ")}, got '$axis'")
    axis
  }

  private[sources] def monthlyOf(options: CaseInsensitiveStringMap): Boolean =
    axisOf(options) == "monthly"

  private[sources] def intervalMicrosOf(options: CaseInsensitiveStringMap): Long = {
    val axisDefault = AXES.getOrElse(axisOf(options), 900L)
    val raw = options.getOrDefault("interval_s", axisDefault.toString)
    val seconds = raw.toLongOption.filter(_ >= 1)
    require(seconds.nonEmpty, s"interval_s must be >= 1, got $raw")
    seconds.get * 1000000L
  }

  def parseTs(s: String): Long = // micros since epoch, input UTC
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  /** Smallest UTC calendar-month start >= m (micros). */
  private[sources] def monthAlignUp(m: Long): Long = {
    val zone = java.time.ZoneOffset.UTC
    val dt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(m, 1000000L), 0, zone)
    val floor = dt.toLocalDate.withDayOfMonth(1).atStartOfDay
    val floorMicros = floor.toInstant(zone).toEpochMilli * 1000L
    if (floorMicros >= m) floorMicros
    else floor.plusMonths(1).toInstant(zone).toEpochMilli * 1000L
  }

  /** Greatest UTC calendar-month start <= m (micros). */
  private[sources] def monthAlignDown(m: Long): Long = {
    val zone = java.time.ZoneOffset.UTC
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(m, 1000000L), 0, zone)
      .toLocalDate.withDayOfMonth(1).atStartOfDay
      .toInstant(zone).toEpochMilli * 1000L
  }

  /** The monthly axis' slot timestamps in [start, end): successive UTC
    * calendar-month starts — `add_months` semantics, which no fixed
    * `interval_s` reproduces (months are 28..31 days).
    */
  private[sources] def monthSlots(start: Long, end: Long): Iterator[Long] = {
    val zone = java.time.ZoneOffset.UTC
    val first = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(monthAlignUp(start), 1000000L), 0, zone)
    Iterator.iterate(first)(_.plusMonths(1))
      .map(_.toInstant(zone).toEpochMilli * 1000L)
      .takeWhile(_ < end)
  }

  /** Stable per-variable series key: the portable 60-bit hash of the
    * variable NAME — request-order independent, JVM independent.
    */
  def varKey(name: String): Long =
    graft.functions.PortableHashExpr.hash60Bytes(
      name.getBytes("UTF-8"), 0, name.getBytes("UTF-8").length)

  /** Request-measure default units — the public API's response units for
    * unit-less requests (temperature/dew point in celsius, precipitation
    * depths in millimetres, humidity in percent, sunshine in seconds,
    * wind in km/h). Resolved to Unit enum ids via [[WeatherVocab]].
    */
  val MEASURE_UNITS: Map[String, String] = Map(
    "temperature_2m" -> "celsius",
    "relative_humidity_2m" -> "percentage",
    "apparent_temperature" -> "celsius",
    "rain" -> "millimetre",
    "sunshine_duration" -> "seconds",
    "precipitation" -> "millimetre",
    "dew_point_2m" -> "celsius",
    "wind_speed_10m" -> "kilometres_per_hour")

  /** Per-variable wire header ids (VariableWithValues mirror): surface
    * name decomposed by [[WeatherVocab.measureToVariable]], enum names
    * resolved to wire ids; unknown names map to id 0 ("undefined" /
    * "none"), like a FlatBuffers default.
    */
  def varMeta(name: String): WireFraming.VarMeta = {
    val (base, alt) = WeatherVocab.measureToVariable(name)
    WireFraming.VarMeta(
      variableId = math.max(WeatherVocab.VARIABLES.indexOf(base), 0),
      unitId = math.max(
        WeatherVocab.UNITS.indexOf(MEASURE_UNITS.getOrElse(name, "")), 0),
      aggregationId = 0, // instant series — Aggregation.none
      altitudeM = alt)
  }

  /** Deterministic measure value; NaN holes every 50th slot/variable. */
  def value(loc: Long, slotMicros: Long, key: Long): Double = {
    val h = java.lang.Long.rotateLeft(
      (loc * 0x9e3779b97f4a7c15L) ^ (slotMicros / 1000000L) ^ key, 17)
    if (math.floorMod(h, 50L) == 0L) Double.NaN
    else math.floorMod(h, 20000L) / 100.0 - 50.0
  }

  /** Deterministic per-location response metadata. Quarter-degree /
    * quarter-meter quanta: n * 0.25 is exact in BOTH float32 and float64,
    * so the DuckDB oracle (which computes in double and casts) matches
    * the wire's Float32 values bit-for-bit.
    */
  def latitude(loc: Long): Float =
    math.floorMod(loc * 7919L, 720L) * 0.25f - 90.0f
  def longitude(loc: Long): Float =
    math.floorMod(loc * 104729L, 1440L) * 0.25f - 180.0f
  def elevation(loc: Long): Float =
    math.floorMod(loc * 613L, 32000L) * 0.25f
  def modelId(loc: Long): Int = (math.floorMod(loc, 5L) + 1L).toInt

  private val MetaNames = META_FIELDS.map(_.name).toSet

  /** The partition reader: server-side lazy frames → chunked decode →
    * rows. Column pruning reaches the server (only `schema`'s variables
    * are encoded), and per-task memory is bounded by one 256-slot frame
    * regardless of the window ([[WireFraming.decodeChunks]]).
    */
  private[sources] def wireReader(loc: Long, from: Long, until: Long,
                                  interval: Long, monthly: Boolean,
                                  schema: StructType,
                                  injectError: Boolean): PartitionReader[InternalRow] = {
    readerOpens.incrementAndGet() // test hook: scans-per-run
    val varNames = schema.fields.map(_.name)
      .filter(n => n != "location_id" && n != "ts" && !MetaNames.contains(n))
      .toSeq
    // -1 location_id, -2 ts, -3 lat, -4 lon, -5 elevation, -6 model,
    // >= 0: index into the frame's series
    val kinds: Array[Int] = schema.fields.map(_.name match {
      case "location_id" => -1
      case "ts" => -2
      case "latitude" => -3
      case "longitude" => -4
      case "elevation" => -5
      case "model" => -6
      case n => varNames.indexOf(n)
    })
    val chunks =
      if (monthly)
        WireFraming.encodeMonthlyChunks(loc, monthSlots(from, until),
          varNames, injectError)
      else
        WireFraming.encodeResponseChunks(loc, from, until, interval,
          varNames, 256, injectError)
    val frames = WireFraming.decodeChunks(chunks)
    new PartitionReader[InternalRow] {
      private var msg: WireFraming.GridMessage = null
      private var idx = 0
      override def next(): Boolean = {
        if (msg != null && idx + 1 < msg.nSlots) { idx += 1; true }
        else {
          msg = null
          while (msg == null && frames.hasNext) {
            val m = WireFraming.parseMessage(frames.next())
            if (m.nSlots > 0) { msg = m; idx = 0 }
          }
          msg != null
        }
      }
      override def get(): InternalRow = {
        val ts = msg.startMicros + idx * msg.intervalMicros
        val vals = new Array[Any](kinds.length)
        var i = 0
        while (i < kinds.length) {
          vals(i) = kinds(i) match {
            case -1 => loc
            case -2 => ts
            case -3 => msg.latitude
            case -4 => msg.longitude
            case -5 => msg.elevation
            case -6 => UTF8String.fromString(MODELS(msg.model))
            case v => msg.series(v)(idx)
          }
          i += 1
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      }
      override def close(): Unit = ()
    }
  }
}

class WeatherGridTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "weather_grid"
  override def schema(): StructType =
    WeatherGridSource.schemaFor(WeatherGridSource.variablesOf(options),
      WeatherGridSource.metadataOf(options))
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  // parsed here, so a bad `axis` or `interval_s` fails `load()` before
  // any Spark job
  private val monthly = WeatherGridSource.monthlyOf(options)
  private val interval = WeatherGridSource.intervalMicrosOf(options)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // The real API's slots sit on absolute clock boundaries regardless of
    // the request window — anchor the grid to epoch multiples of interval
    // (first slot = smallest aligned ts >= start); calendar months for the
    // monthly axis.
    val rawStart = WeatherGridSource.parseTs(
      options.getOrDefault("start", "2024-01-01 00:00:00"))
    val aligned =
      if (monthly) WeatherGridSource.monthAlignUp(rawStart)
      else ((rawStart + interval - 1) / interval) * interval
    new WeatherGridScanBuilder(
      aligned,
      WeatherGridSource.parseTs(options.getOrDefault("end", "2024-01-03 00:00:00")),
      interval,
      options.getOrDefault("locations", "1").toInt,
      WeatherGridSource.variablesOf(options),
      options.getOrDefault("inject_wire_error", "false").toBoolean,
      monthly,
      WeatherGridSource.metadataOf(options))
  }
}

/** Pushdown: ts bounds tighten [start, end) before generation — rows that
  * a filter excludes are never produced (the API-side cut) — and column
  * pruning reaches the generator: unrequested variables are never
  * computed (the don't-ask-the-API-for-them cut).
  */
class WeatherGridScanBuilder(var start: Long, var end: Long,
                             interval: Long, locations: Int,
                             variables: Seq[String] = WeatherGridSource.MEASURES,
                             injectWireError: Boolean = false,
                             monthly: Boolean = false,
                             metadata: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var readSchema: StructType =
    WeatherGridSource.schemaFor(variables, metadata)

  private def micros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => // full micro precision: getTime is ms-only
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Conservative pruning: tighten [start, end) to grid-aligned bounds
    // that provably contain every qualifying slot, and return ALL filters
    // so Spark re-applies them post-scan — the cut is a pure optimization,
    // correctness never depends on the rounding.
    def alignDown(m: Long): Long = // greatest grid slot <= m
      if (m <= start) start
      else if (monthly) math.max(start, WeatherGridSource.monthAlignDown(m))
      else start + ((m - start) / interval) * interval
    filters.foreach {
      case GreaterThan("ts", v) => micros(v).foreach(m => start = alignDown(m))
      case GreaterThanOrEqual("ts", v) => micros(v).foreach(m => start = alignDown(m))
      case LessThan("ts", v) => micros(v).foreach(m => end = math.min(end, m))
      case LessThanOrEqual("ts", v) => micros(v).foreach(m => end = math.min(end, m + 1))
      case _ =>
    }
    pushed = filters.filter {
      case GreaterThan("ts", _) | GreaterThanOrEqual("ts", _)
         | LessThan("ts", _) | LessThanOrEqual("ts", _) => true
      case _ => false
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    readSchema = requiredSchema

  override def build(): Scan =
    new WeatherGridScan(start, end, interval, locations, readSchema,
      injectWireError, monthly)
}

class WeatherGridScan(start: Long, end: Long, interval: Long, locations: Int,
                      schema: StructType = WeatherGridSource.SCHEMA,
                      injectWireError: Boolean = false,
                      monthly: Boolean = false)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"weather_grid [$start, $end) step=${if (monthly) "month" else interval} " +
      s"locs=$locations cols=${schema.fieldNames.mkString(",")}"

  // one partition per location: the reference's per-invocation unit
  override def planInputPartitions(): Array[InputPartition] =
    (0 until locations).map(l => WeatherGridPartition(l.toLong): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new WeatherGridReaderFactory(start, end, interval, schema,
      injectWireError, monthly)
}

case class WeatherGridPartition(loc: Long) extends InputPartition

/** The batch reader goes through BYTES, exactly like the reference client:
  * the synthetic "server" streams the location's [start, end) grid as
  * length-prefixed columnar frames ([[WireFraming.encodeResponseChunks]] —
  * 256 slots per frame, the batched-response shape), and the reader walks
  * [[WireFraming.decodeChunks]]'s frame iterator (memory bounded by one
  * frame), surfacing the in-stream error magic as a failed task. Pushdown
  * still happens SERVER-side: the frames only ever contain the pruned
  * window and the pruned variable list. Values are the same deterministic
  * generator as always, so the framing layer changes no query result
  * (IngestSpec pins byte-path parity).
  */
class WeatherGridReaderFactory(start: Long, end: Long, interval: Long,
                               schema: StructType,
                               injectWireError: Boolean = false,
                               monthly: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    WeatherGridSource.wireReader(p.asInstanceOf[WeatherGridPartition].loc,
      start, end, interval, monthly, schema, injectWireError)
}
