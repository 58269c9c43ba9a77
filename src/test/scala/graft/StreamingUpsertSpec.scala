package graft

import graft.weather.WeatherPipeline
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The reference's load stage under Structured Streaming: foreachBatch +
  * anti-join upsert into Parquet — overlapping micro-batches (the
  * reference's deliberate over-fetch) must not produce duplicate keys.
  */
class StreamingUpsertSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch upsert: overlapping micro-batches, exactly-once per key") {
    val srcDir = tempDir("graft_upsert_src")
    val sinkDir = tempDir("graft_upsert_sink").toString

    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"value")
    // two overlapping slices staged as separate files = separate micro-batches
    ev.filter($"event_id" < 600).coalesce(1)
      .write.parquet(srcDir.resolve("b1").toString)
    ev.filter($"event_id" >= 400 && $"event_id" < 1000).coalesce(1)
      .write.parquet(srcDir.resolve("b2").toString)
    ev.limit(0).write.mode(SaveMode.Overwrite).parquet(sinkDir) // empty sink (O10)

    val schema = ev.schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(s"$srcDir/*/")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sink = batch.sparkSession.read.parquet(sinkDir)
        WeatherPipeline.upsertNew(batch, sink, "event_id")
          .write.mode(SaveMode.Append).parquet(sinkDir)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.read.parquet(sinkDir)
    assert(out.count() === 1000)
    assert(out.groupBy($"event_id").count().filter($"count" > 1).count() === 0)
  }
}
