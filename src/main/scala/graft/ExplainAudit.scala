package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump formatted physical plans for selected queries so the
  * pushdown/broadcast/codegen properties can be audited.
  *
  * Usage: runMain graft.ExplainAudit [--final] [--out <dir>] [query ...]
  *  - no query names: every registered query, in name order;
  *  - `--final`: execute each query first (rows discarded) and dump the
  *    post-AQE plan — ReusedExchange and runtime join switches only
  *    appear there, never in the static explain;
  *  - `--out <dir>`: write one `<query>.txt` per query instead of
  *    printing (the plan evidence files committed under plans/rNN/).
  * Reads SPARK_GRAFT_SF_DIR (default: the sf0.01 fixtures).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val finalPlan = args.contains("--final")
    val outAt = args.indexOf("--out")
    val out = if (outAt < 0) None
      else Some(args.lift(outAt + 1).getOrElse(sys.error("--out needs a directory")))
    val picked = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") && (outAt < 0 || i != outAt + 1) => a
    }.toSeq
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (picked.nonEmpty) picked else SparkEntry.queries.keys.toSeq.sorted
    try dump(spark, names, d, finalPlan, out)
    finally spark.stop()
  }

  def dump(spark: SparkSession, names: Seq[String], sfDir: String,
           finalPlan: Boolean, out: Option[String]): Unit = {
    out.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // drives THIS DataFrame's QueryExecution to completion (a noop
      // write would plan and run a separate one, leaving this plan's
      // AdaptiveSparkPlan at isFinalPlan=false)
      if (finalPlan) df.queryExecution.toRdd.foreach(_ => ())
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      out match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"$name.txt"), plan)
          println(s"dumped $name -> $d/$name.txt")
        case None =>
          println(s"==== $name ====")
          println(plan)
      }
      spark.catalog.clearCache()
    }
  }
}
