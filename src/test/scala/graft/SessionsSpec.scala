package graft

import java.nio.file.{Files, Path}

/** The shared session builder's config parsing and the plan-dump tool
  * that runs on it. */
class SessionsSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS: unset means every core, a bad value names itself") {
    assert(Sessions.parseCpus(None) === Runtime.getRuntime.availableProcessors)
    assert(Sessions.parseCpus(Some("8")) === 8)
    for (bad <- Seq("four", "0", "-2", "1.5", "")) {
      val e = intercept[IllegalArgumentException](Sessions.parseCpus(Some(bad)))
      assert(e.getMessage === s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$bad'")
    }
  }

  test("ExplainAudit --final --out writes the post-AQE plan per query") {
    val dir: Path = tempDir("explain-audit")
    ExplainAudit.dump(spark, Seq("q01_pricing_summary"), sf,
      finalPlan = true, out = Some(dir.toString))
    val plan = Files.readString(dir.resolve("q01_pricing_summary.txt"))
    // formatted mode prints the root's flag on its details entry:
    // "(22) AdaptiveSparkPlan / Output [..] / Arguments: isFinalPlan=true"
    val root = """\(\d+\) AdaptiveSparkPlan\nOutput [^\n]*\nArguments: isFinalPlan=(\w+)""".r
    assert(root.findAllMatchIn(plan).map(_.group(1)).toList === List("true"),
      plan.take(2000))
    assert(plan.contains("== Final Plan =="))
    // the shared session is still usable afterwards
    assert(spark.range(3).count() === 3)
  }
}
