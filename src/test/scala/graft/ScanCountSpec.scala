package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Final-plan parquet-scan-count pins — the r20/r21 duplicated-
  * subtree regression guard. The r20 census (final-plan scan counts
  * over every query, recorded in OPTIMIZATION_r20.md) found frames
  * consumed by >= 2 branches re-executing their whole upstream pipeline
  * per branch (zero runtime exchange reuse across differently-aliased
  * branches; lazy `.cache()` races inside a job), and the fix was eager
  * localCheckpoints on the shared frames. A
  * future edit that drops one of those checkpoints would silently
  * reintroduce 2-5x kernel re-execution — these pins make that loud.
  *
  * The count is read from the plan that ran: the query's own
  * QueryExecution is driven to completion and the post-AQE final plan
  * (`isFinalPlan=true`, the `== Final Plan ==` section of
  * `ExplainAudit --final`) is searched, so exchanges AQE reused are not
  * counted twice. A frame read back from a localCheckpoint carries no
  * parquet scan in this plan at all.
  *
  * The caps are measured counts at the TEST config (local[4],
  * sf0.001) plus slack; a breach means a shared frame lost its
  * materialization barrier (or a scan-wrapping helper was bypassed),
  * not ordinary plan drift.
  */
class ScanCountSpec extends SparkSpec {

  private def scanCount(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, sf)
    // a noop write would plan and run a separate QueryExecution, leaving
    // this one's AdaptiveSparkPlan at isFinalPlan=false
    df.queryExecution.toRdd.foreach(_ => ())
    val p = df.queryExecution.executedPlan match {
      // the root's own tree string repeats the initial plan after the
      // final one; count the final plan alone
      case a: AdaptiveSparkPlanExec =>
        assert(a.simpleString(1) === "AdaptiveSparkPlan isFinalPlan=true")
        a.executedPlan.toString
      case other => other.toString
    }
    spark.catalog.clearCache()
    p.sliding("Scan parquet".length).count(_ == "Scan parquet")
  }

  // (query, max final-plan parquet scans) — r20's census fixes + the
  // r21 t20 narrow-checkpoint rewrite. Final-plan counts at local[4],
  // sf0.001: t20 0, d08 3, s33 5 (8 in the pre-AQE plan), s31 0, d02 0,
  // d33 0, d38 0, q78 1.
  private val pins = Seq(
    "t20_curation_pipeline" -> 3,  // r20: 51 scans (word-stats kernel 3x)
    "d08_incremental_dedup" -> 6,  // r20: 23 scans (signature kernels ~5x)
    "s33_build_knob_plan"   -> 10, // r20: 20 scans (per-config kernel/branch)
    "s31_imi_cells"         -> 4,  // r20: 15 scans (trainer+assignment 2x/layout)
    "d02_minhash_lsh"       -> 4,  // r20: 12-15 scans (sig kernel ~4x)
    "d33_containment"       -> 4,  // r20: 15 scans (df-capped index 4 branches)
    "d38_cascade_report"    -> 10, // r20: stage-3 index re-ran 4x
    "q78_quantile_rollup"   -> 4)  // r20: racy cache on the shared rollup

  pins.foreach { case (name, cap) =>
    test(s"$name: executed plan stays under $cap parquet scans") {
      GraftExtensions.register(spark)
      val n = scanCount(name)
      assert(n <= cap,
        s"$name final plan carries $n parquet scans (cap $cap) — a " +
        "shared frame likely lost its eager materialization; see the " +
        "r20 census notes in OPTIMIZATION_r20.md")
    }
  }
}
