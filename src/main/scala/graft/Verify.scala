package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated name prefixes); the driver
    // sets no filter and dumps every query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drops SQL-cached relations between queries; localCheckpoint
      // blocks are NOT covered (they free via the ContextCleaner) —
      // see the matching Bench.scala note
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Round-9 lesson: a query that errors here simply has no parquet dir,
    // so it vanishes from the driver's correctness file and the round's
    // pass-rate silently overstates. Make every failure a first-class
    // artifact (errors.json) and assert the dumped-vs-registered count so
    // a fixture change can never again hide a fifth of the registry.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val okCount = selected.size - failures.size
    System.err.println(s"[verify] $okCount/${selected.size} queries dumped" +
      (if (failures.isEmpty) "" else s"; FAILED: ${failures.keys.mkString(",")}"))
    if (only.isEmpty && failures.nonEmpty)
      System.err.println(s"[verify] INVARIANT VIOLATED: ${failures.size} of " +
        s"${SparkEntry.queries.size} registered queries produced no output — " +
        "the driver's correctness file will under-count; STOP-SHIP")
    spark.stop()
    // exit 0 stays the driver contract (it reads errors.json); local/CI
    // runs can opt into a hard gate instead of parsing artifacts —
    // mirrors Bench's SPARK_GRAFT_BENCH_STRICT
    if (sys.env.get("SPARK_GRAFT_VERIFY_STRICT").contains("1") &&
        failures.nonEmpty) sys.exit(1)
  }
}
