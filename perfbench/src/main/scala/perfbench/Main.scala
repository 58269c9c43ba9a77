package perfbench

import graft.SparkEntry
import graft.sources.WeatherGridSource.MEASURES
import graft.weather.WeatherIngest
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark process: sets up one workload, runs timed passes over
  * its op list for a given number of seconds from one closed-loop client,
  * and writes a JSON result (and, when traced, the spans and jobs).
  *
  * Arguments are `key=value` pairs; `perfbench/run.py` supplies them.
  */
object Main {
  final case class OpRec(name: String, seconds: Double, ok: Boolean)
  final case class PassRec(wallS: Double, ops: Seq[OpRec], rows: Long,
                           traced: Boolean, layer: Map[String, Double])

  trait Workload {
    /** Untimed: seed inputs and state, then warm up. */
    def setup(): Unit
    def pass(traced: Boolean): PassRec
    /** Output checks that failed, as messages. */
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
    /** Seconds of each op's cold first run, where the workload records it. */
    val warmupS: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  }

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = Paths.get(o("work")).toAbsolutePath
    val t0Ms = o("t0_ms").toLong
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext)
    val load0 = loadavg1()
    val seed = o("seed").toLong
    val w: Workload = o("workload") match {
      case "ingest-cron" => Ingest.cron(spark, tracer, work, seed, o("runs").toInt)
      case "ingest-backfill" =>
        Ingest.backfill(spark, tracer, work, seed, o("runs").toInt, o("locations").toInt)
      case "registry-iterative" | "registry-relational" =>
        new Registry(spark, tracer, work, o("data"), o("queries").split(',').toSeq)
      case other => sys.error(s"unknown workload $other")
    }
    val trace = o("trace") == "1"

    w.setup()
    val firstOpMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (o("seconds").toDouble * 1e9).toLong
    // whole passes: two, and more while another fits before the deadline,
    // so every run measures the same stage of JVM warm-up. Traced runs make
    // at least four, untraced and traced in the order U T T U ..., so the
    // record carries its own tracing overhead, balanced against warm-up
    // drift.
    val passes = mutable.ArrayBuffer[PassRec]()
    def fits = System.nanoTime() + (passes.last.wallS * 1e9).toLong <= deadline
    while (passes.size < (if (trace) 4 else 2) || fits) {
      val traced = trace && passes.size % 4 % 3 != 0
      tracer.enable(traced)
      passes += w.pass(traced)
      tracer.enable(false)
    }
    val peakRssMb = procStatusKb("VmHWM") / 1024.0
    val load1 = loadavg1()

    val plain = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val opS = plain.flatMap(_.ops.map(_.seconds)).sorted
    val e2e = Map(
      "setup_s" -> (firstOpMs - t0Ms) / 1e3,
      "pass_s" -> median(plain.map(_.wallS)),
      "op_s.p50" -> quantile(opS, 0.5),
      "op_s.p90" -> quantile(opS, 0.9),
      "rows_per_s" -> plain.map(_.rows).sum / plain.map(_.wallS).sum,
      "peak_rss_mb" -> peakRssMb)
    val layer: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else traced.flatMap(_.layer.keys).distinct.map(k =>
        k -> median(traced.map(_.layer.getOrElse(k, 0.0)))).toMap ++ Map(
        "trace.pass_s" -> median(traced.map(_.wallS)),
        "trace.overhead_s" -> (median(traced.map(_.wallS)) - median(plain.map(_.wallS))),
        "load.avg1_start" -> load0,
        "load.avg1_end" -> load1)

    val result = Map(
      "workload" -> o("workload"),
      "seed" -> seed,
      "passes" -> passes.map(p => Map("wall_s" -> p.wallS, "traced" -> p.traced,
        "rows" -> p.rows, "layer" -> p.layer,
        "ops" -> p.ops.map(r => Map("name" -> r.name, "s" -> r.seconds, "ok" -> r.ok))
      )).toSeq,
      "op_count" -> opS.size,
      "check_failures" -> w.failures.toSeq,
      "warmup_s" -> w.warmupS,
      "e2e" -> e2e,
      "layer" -> layer,
      "loadavg_start" -> load0,
      "loadavg_end" -> load1,
      // set-up phases, seconds from the benchmark's start
      "phases" -> Map(
        "jvm" -> (java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime - t0Ms) / 1e3,
        "session" -> (sessionMs - t0Ms) / 1e3,
        "first_op" -> (firstOpMs - t0Ms) / 1e3,
        "end" -> (System.currentTimeMillis() - t0Ms) / 1e3))
    Files.writeString(Paths.get(o("out")), Json(result))
    if (trace) Files.writeString(work.resolve("trace.json"), Json(tracer.toJson))
    spark.stop()
  }

  def median(xs: collection.Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear interpolation between closest ranks, over sorted `xs`. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val pos = q * (xs.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, xs.size - 1)
      xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
    }

  def loadavg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0).toDouble
    catch { case _: Throwable => Double.NaN }

  def procStatusKb(field: String): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    catch { case _: Throwable => Double.NaN }

  /** Parquet files under `dir` (recursively) and their total size. */
  def parquetStats(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val fs = s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}

/** The paper's ingest, `WeatherIngest.run`, over schedules of runs.
  * A pass is a list of runs; each run names its sink, its `now` and its
  * expected fetched and inserted counts (from the schedule alone). Sinks
  * are prepared before the pass clock starts and checked after it stops.
  */
final class Ingest(spark: SparkSession, tracer: Tracer, work: Path,
                   locations: Int, pastDays: Int,
                   prepare: Int => Seq[Ingest.Run]) extends Main.Workload {
  import Ingest._
  import Main._
  private var passNo = 0
  private val forecastDays = 1

  /** Writes the empty sink (a sink must exist before its first run),
    * then one warm-up pass. */
  def setup(): Unit = {
    WeatherIngest.fetch(spark, "2024-01-02 00:00:00", 1, 0, locations).limit(0)
      .write.parquet(work.resolve("empty").toString)
    pass(traced = false)
  }

  def pass(traced: Boolean): PassRec = {
    passNo += 1
    val runs = prepare(passNo)
    val baseRows = runs.map(_.sink).distinct.map(s => s -> sinkRows(s)).toMap
    val ops = mutable.ArrayBuffer[OpRec]()
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    var probeNs = 0L
    var inserted = 0L
    val t0 = System.nanoTime()
    for (r <- runs) {
      val files0 = if (traced) parquetStats(r.sink)._1 else 0L
      val (res, sp) = tracer.span("weather.run") {
        WeatherIngest.run(spark, r.sink.toString, r.now, pastDays, forecastDays, locations)
      }
      val ok = res.statusCode == 200 && res.recordsFetched == r.fetched &&
        res.recordsInserted == r.inserted
      if (!ok) failures += s"run ${r.now} on ${r.sink.getFileName}: $res"
      inserted += res.recordsInserted
      ops += OpRec("weather.run", sp.seconds, ok)
      if (traced) {
        val p0 = System.nanoTime()
        val (_, csp) = tracer.span("weather.cursor", sp.id) {
          WeatherIngest.latestCursor(spark, r.sink.toString)
        }
        val (rows, esp) = tracer.span("sources.extract", sp.id) {
          WeatherIngest.fetch(spark, r.now, pastDays, forecastDays, locations).count()
        }
        val (files, bytes) = parquetStats(r.sink)
        tracer.drain()
        val ru = tracer.usage(sp.id)
        val cu = tracer.usage(csp.id)
        acc("weather.run.jobs") += ru.jobs
        acc("weather.run.stages") += ru.stages
        acc("weather.run.tasks") += ru.tasks
        acc("weather.run.task_cpu_s") += ru.cpuS
        acc("weather.run.input_bytes") += ru.inputBytes
        acc("weather.run.input_records") += ru.inputRecords
        acc("weather.run.output_bytes") += ru.outputBytes
        acc("weather.run.output_files") += files - files0
        acc("weather.rows.fetched") += res.recordsFetched
        acc("weather.rows.inserted") += res.recordsInserted
        acc("weather.cursor_s") += csp.seconds
        acc("weather.cursor.input_bytes") += cu.inputBytes
        acc("weather.cursor.input_records") += cu.inputRecords
        acc("weather.sink.files") += files
        acc("weather.sink.bytes") += bytes
        acc("sources.extract_s") += esp.seconds
        acc("sources.rows") += rows
        acc("cpu_s") += ru.cpuS
        probeNs += System.nanoTime() - p0
      }
    }
    val wall = (System.nanoTime() - t0 - probeNs) / 1e9
    check(runs, baseRows)
    val n = runs.size.toDouble
    val layer =
      if (!traced) Map.empty[String, Double]
      else acc.toMap.filter(_._1.contains('.')).map { case (k, v) => k -> v / n } ++ Map(
        "weather.insert_yield" -> acc("weather.rows.inserted") / acc("weather.rows.fetched"),
        "load.wall_over_task_cpu" -> wall / acc("cpu_s"))
    PassRec(wall, ops.toSeq, inserted, traced, layer)
  }

  private def sinkRows(sink: Path): Long =
    spark.read.parquet(sink.toString).count()

  /** Each sink against the model: the schedule's inserted total, exactly
    * one row per (location_id, ts), no row after the last `now`, and no
    * NaN measure. */
  private def check(runs: Seq[Run], baseRows: Map[Path, Long]): Unit =
    for ((sink, rs) <- runs.groupBy(_.sink)) {
      val nan = MEASURES.map(m => when(isnan(col(m)), 1).otherwise(0)).reduce(_ + _)
      val row = spark.read.parquet(sink.toString).agg(count(lit(1)),
        count_distinct(col("location_id"), col("ts")), max(col("ts")),
        coalesce(sum(nan), lit(0L))).first()
      val expected = baseRows(sink) + rs.map(_.inserted).sum
      val lastNow = java.sql.Timestamp.valueOf(rs.map(_.now).max)
      val problems = Seq(
        (row.getLong(0) != expected) -> s"rows ${row.getLong(0)} != expected $expected",
        (row.getLong(1) != row.getLong(0)) -> s"${row.getLong(0) - row.getLong(1)} duplicate keys",
        (row.getTimestamp(2) != null && row.getTimestamp(2).after(lastNow)) -> s"row after now ${row.getTimestamp(2)}",
        (row.getLong(3) != 0L) -> s"${row.getLong(3)} NaN measures")
      problems.collect { case (true, msg) => failures += s"sink ${sink.getFileName}: $msg" }
    }
}

object Ingest {
  final case class Run(sink: Path, now: String, fetched: Long, inserted: Long)

  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** The schedule's first `now`: a 15-minute slot chosen by the seed. */
  def start(seed: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusMinutes(15L * Math.floorMod(seed, 2880L))

  /** The paper's traffic: a template sink holding 30 days of history for
    * 16 locations is seeded once; each pass restores it and makes `runs`
    * consecutive runs with `now` advancing 5 minutes, so every third run
    * inserts one 15-minute slot per location. */
  def cron(spark: SparkSession, tracer: Tracer, work: Path, seed: Long, runs: Int): Ingest = {
    val locations = 16
    val s0 = start(seed)
    val template = work.resolve("template")
    val sink = work.resolve("sink")
    lazy val seeded: Unit = {
      Main.copyTree(work.resolve("empty"), template)
      val r = WeatherIngest.run(spark, template.toString, s0.format(fmt), 30, 1, locations)
      val want = locations * (30L * 96 + 1)
      if (r.statusCode != 200 || r.recordsInserted != want)
        sys.error(s"template seeding inserted ${r.recordsInserted}, expected $want: $r")
    }
    new Ingest(spark, tracer, work, locations, 1, { _ =>
      seeded
      Main.deleteTree(sink)
      Main.copyTree(template, sink)
      (1 to runs).map(k => Run(sink, s0.plusMinutes(5L * k).format(fmt),
        locations * 96L * 2, if (k % 3 == 0) locations.toLong else 0L))
    })
  }

  /** Write-heavy use of the same run: each pass makes three first runs
    * into fresh empty sinks, 30 days of history for `locations` each. */
  def backfill(spark: SparkSession, tracer: Tracer, work: Path, seed: Long, runs: Int,
               locations: Int): Ingest = {
    val s0 = start(seed)
    new Ingest(spark, tracer, work, locations, 30, { pass =>
      Main.deleteTree(work.resolve("sinks"))
      (1 to runs).map { i =>
        val sink = work.resolve("sinks").resolve(s"p$pass-$i")
        Main.copyTree(work.resolve("empty"), sink)
        Run(sink, s0.plusDays(i.toLong).format(fmt), locations * 96L * 31,
          locations * (96L * 30 + 1))
      }
    })
  }
}

/** Registry queries through `SparkEntry.queries`: build (the registry
  * function), plan (forcing the executed plan) and exec (a noop write).
  * The warm-up pass writes each result to parquet for the oracle check,
  * which builds the memoized artifacts inside set-up. */
final class Registry(spark: SparkSession, tracer: Tracer, work: Path,
                     data: String, queries: Seq[String]) extends Main.Workload {
  import Main._
  private val out = work.resolve("out")
  private val rows = mutable.Map[String, Long]()

  def setup(): Unit = {
    Files.createDirectories(out)
    for (q <- queries) try {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, data).write.parquet(out.resolve(q).toString)
      warmupS(q) = (System.nanoTime() - t0) / 1e9
      rows(q) = spark.read.parquet(out.resolve(q).toString).count()
    } catch { case e: Throwable =>
      failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json(queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
  }

  def pass(traced: Boolean): PassRec = {
    val ops = mutable.ArrayBuffer[OpRec]()
    val spans = mutable.ArrayBuffer[(Span, Span, Span, Int, Long)]()
    val t0 = System.nanoTime()
    for (q <- queries) {
      val op0 = System.nanoTime()
      try {
        val (df, b) = tracer.span("registry.build") { SparkEntry.queries(q)(spark, data) }
        val (scans, p) = tracer.span("registry.plan") { Plans.scans(df.queryExecution.executedPlan) }
        val (_, e) = tracer.span("registry.exec") {
          df.write.format("noop").mode("overwrite").save()
        }
        ops += OpRec(q, (System.nanoTime() - op0) / 1e9, rows.contains(q))
        if (traced) spans += ((b, p, e, scans,
          spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
      } catch { case e: Throwable =>
        failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        ops += OpRec(q, (System.nanoTime() - op0) / 1e9, ok = false)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val layer = if (!traced) Map.empty[String, Double] else {
      tracer.drain()
      val n = spans.size.toDouble
      val all = tracer.usage(spans.flatMap { case (b, p, e, _, _) => Seq(b.id, p.id, e.id) }.toSet)
      Map(
        "registry.build_s" -> spans.map(_._1.seconds).sum / n,
        "registry.plan_s" -> spans.map(_._2.seconds).sum / n,
        "registry.exec_s" -> spans.map(_._3.seconds).sum / n,
        "registry.build_jobs" -> spans.map(s => tracer.usage(s._1.id).jobs).sum / n,
        "registry.exec_jobs" -> spans.map(s => tracer.usage(Set(s._2.id, s._3.id)).jobs).sum / n,
        "registry.tasks_per_stage" -> all.tasks.toDouble / all.stages,
        "registry.task_cpu_s" -> all.cpuS / n,
        "registry.input_bytes" -> all.inputBytes / n,
        "registry.input_records" -> all.inputRecords / n,
        "registry.shuffle_write_bytes" -> all.shuffleWriteBytes / n,
        "registry.spill_bytes" -> all.spillBytes / n,
        "registry.plan_scans" -> spans.map(_._4).sum / n,
        "registry.gc_s" -> all.gcS / n,
        "registry.storage_bytes" -> spans.map(_._5).max.toDouble,
        "registry.utilization" -> all.runS / (wall * 4),
        "load.wall_over_task_cpu" -> wall / all.cpuS)
    }
    PassRec(wall, ops.toSeq, queries.flatMap(rows.get).sum, traced, layer)
  }
}

/** Scan nodes of an executed plan, inside adaptive plans and subqueries. */
object Plans extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Int =
    collectWithSubqueries(p) { case n if n.nodeName.contains("Scan") => 1 }.size
}

/** A minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
