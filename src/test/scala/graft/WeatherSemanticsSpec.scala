package graft

import graft.weather.WeatherPipeline
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Reference-semantics tests; each reproduces a cited behavior of
  * /root/reference/lambda_function.py (see WeatherPipeline scaladoc).
  */
class WeatherSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val batch = Seq(
    (ts("2024-01-01 00:00:00"), 1.0),
    (ts("2024-01-01 00:15:00"), 2.0),
    (ts("2024-01-01 00:30:00"), Double.NaN),
    (ts("2024-01-02 00:00:00"), 4.0) // "future" relative to NOW below
  ).toDF("ts", "v")

  test("O3: time grid is half-open [start, end) at 15-min steps") {
    val g = WeatherPipeline.timeGrid(spark, "2024-01-01 00:00:00", "2024-01-03 00:00:00")
    assert(g.count() === 192) // past_days=1 + forecast_days=1 (192 slots)
    val times = g.collect().map(_.getTimestamp(0))
    assert(times.min === ts("2024-01-01 00:00:00"))
    assert(times.max === ts("2024-01-02 23:45:00")) // endpoint excluded
  }

  test("O6+O7: future rows dropped; cursor filter is strictly greater-than") {
    val now = lit("2024-01-01 12:00:00").cast("timestamp")
    val cursor = lit("2024-01-01 00:15:00").cast("timestamp")
    val out = WeatherPipeline.filterNewRecords(batch, "ts", now, Some(cursor))
      .collect().map(_.getTimestamp(0))
    // row at cursor exactly -> dropped; future row -> dropped
    assert(out.toSeq === Seq(ts("2024-01-01 00:30:00")))
  }

  test("O7: None cursor passes everything (minus future)") {
    val now = lit("2024-01-01 12:00:00").cast("timestamp")
    val out = WeatherPipeline.filterNewRecords(batch, "ts", now, None)
    assert(out.count() === 3)
  }

  test("O8: NaN collapses to NULL, real values survive") {
    val out = WeatherPipeline.nanToNull(batch, Seq("v"))
    assert(out.filter($"v".isNull).count() === 1)
    assert(out.filter($"v" === 1.0).count() === 1)
  }

  test("O9: upsert is idempotent — re-applying the same batch inserts 0") {
    val sink = batch.filter($"ts" <= "2024-01-01 00:15:00").select($"ts", $"v")
    val once = WeatherPipeline.upsertNew(batch, sink, "ts")
    assert(once.count() === 2) // the NaN row + the 'future' row are new keys
    val newSink = sink.unionByName(once)
    val twice = WeatherPipeline.upsertNew(batch, newSink, "ts")
    assert(twice.count() === 0)
  }

  test("O9: within-batch duplicate keys keep exactly one row (first write wins)") {
    val dup = batch.unionByName(batch)
    val out = WeatherPipeline.upsertNew(dup, batch.limit(0), "ts")
    assert(out.count() === batch.count())
  }

  test("O9: upsertNew of an empty batch returns no rows") {
    val out = WeatherPipeline.upsertNew(batch.limit(0), batch, "ts")
    assert(out.count() === 0)
  }

  test("w09: ranges are maximal, disjoint, and cover the planted outage") {
    import java.sql.Timestamp
    val out = WeatherPipeline.queries("w09_backfill_ranges")(spark, sf)
      .as[(Long, Timestamp, Timestamp, Long)].collect()
    assert(out.nonEmpty)
    val step = 900000L // 15 min
    out.foreach { case (_, s0, e0, n) =>
      // [start, end) spans exactly n_slots grid steps
      assert(e0.getTime - s0.getTime === n * step)
    }
    out.groupBy(_._1).values.foreach { rs =>
      rs.sortBy(_._2.getTime).sliding(2).foreach {
        case Array(a, b) =>
          // maximal coalescing: a PRESENT slot separates consecutive
          // ranges, so end < next start strictly
          assert(a._3.getTime < b._2.getTime,
            s"ranges not disjoint/maximal at ${a._3} vs ${b._2}")
        case _ =>
      }
    }
    // the planted 12 h outage on location 1 sits inside one range
    val o1 = Timestamp.valueOf("2024-01-11 06:00:00").getTime
    val o2 = Timestamp.valueOf("2024-01-11 18:00:00").getTime
    val covering = out.filter(r => r._1 == 1 &&
      r._2.getTime <= o1 && r._3.getTime >= o2)
    assert(covering.length === 1, "planted outage not covered by one range")
    assert(covering.head._4 >= 48) // >= 12h of 15-min slots
  }
}
