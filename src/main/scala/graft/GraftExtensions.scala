package graft

import graft.functions.{BottomKAgg, CosineSim, NearestCentroid, PortableHashExpr, SimHashFp, SortedIntersectCount, WinnowFingerprints, WordStats}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graft.FunctionBridge

/** Registers the library's custom expressions as SQL functions, so SQL-API
  * users get them too:
  *
  *   spark.sql.extensions=graft.GraftExtensions   (cluster config), or
  *   GraftExtensions.register(spark)              (existing session).
  *
  * Functions: graft_phash(s), cosine_sim(a, b),
  * sorted_intersect_count(a, b), bottom_k(x, k).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, b) =>
      e.injectFunction(FunctionBridge.injectable(name, b))
    }
    // the custom-operator ladder's Rule rung: naive global running-total
    // windows re-plan distributed (see plans.GlobalRunningTotalPlan)
    e.injectOptimizerRule(_ => graft.plans.RewriteGlobalRunningTotal)
    e.injectPlannerStrategy(_ => graft.plans.GlobalRunningTotalStrategy)
  }
}

object GraftExtensions {
  private[graft] val builders
      : Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression]
                 => org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "graft_phash" -> (es => PortableHashExpr(es.head)),
    "cosine_sim" -> (es => CosineSim(es(0), es(1))),
    "nearest_centroid" -> (es => NearestCentroid(es(0), es(1))),
    "simhash_fp" -> (es => SimHashFp(es(0),
      es(1).eval().asInstanceOf[Number].intValue())),
    "winnow_fps" -> (es => WinnowFingerprints(es(0),
      es(1).eval().asInstanceOf[Number].intValue(),
      es(2).eval().asInstanceOf[Number].intValue())),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
    "word_stats" -> (es => WordStats(es.head)),
    "bottom_k" -> (es => BottomKAgg(es(0),
      es(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression())
  )

  /** Idempotent direct registration into a live session: a name the
    * session already holds is skipped, like the rule and strategy. */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, b) =>
      FunctionBridge.registerTempIfAbsent(spark, name, b)
    }
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.RewriteGlobalRunningTotal))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.RewriteGlobalRunningTotal
    if (!spark.experimental.extraStrategies
          .contains(graft.plans.GlobalRunningTotalStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+
          graft.plans.GlobalRunningTotalStrategy
  }
}
