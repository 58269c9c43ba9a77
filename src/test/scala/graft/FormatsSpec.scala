package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format breadth: CSV and JSON round-trips with explicit
  * schemas (never inferSchema — SURVEY §1.2's fixed-schema rule).
  */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)
    .select($"doc_id", $"lang", $"n_chars")
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_chars", LongType)))

  test("CSV round-trip with explicit schema") {
    val dir = tempDir("graft_csv").toString
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
    assert(back.orderBy($"doc_id").collect().toSeq ===
           docs.orderBy($"doc_id").collect().toSeq)
  }

  test("JSON-lines round-trip with explicit schema") {
    val dir = tempDir("graft_json").toString
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.schema(schema).json(dir)
    assert(back.orderBy($"doc_id").collect().toSeq ===
           docs.orderBy($"doc_id").collect().toSeq)
  }

  test("ORC round-trip preserves types and pushes filters") {
    val dir = tempDir("graft_orc").toString
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).filter($"n_chars" > 100)
    assert(back.orderBy($"doc_id").collect().toSeq ===
           docs.filter($"n_chars" > 100).orderBy($"doc_id").collect().toSeq)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars)"),
      "ORC scan did not receive the pushed filter:\n" + plan.take(600))
  }

  test("text source reads raw lines; binaryFile exposes payload bytes") {
    val dir = tempDir("graft_text").toString
    docs.select(concat_ws(",", $"doc_id", $"lang").as("value"))
      .write.mode("overwrite").text(dir)
    val lines = spark.read.text(dir)
    assert(lines.count() === docs.count())
    assert(lines.schema.map(_.name) === Seq("value"))
    // binaryFile: the multimodal ingest path for opaque assets
    val bin = spark.read.format("binaryFile").load(dir)
      .select($"path", $"length", $"content")
    assert(bin.count() >= 1)
    assert(bin.schema("content").dataType === BinaryType)
  }
}
