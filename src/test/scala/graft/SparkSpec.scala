package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, UTC, small
  * shuffle partitioning for test speed). Pinned at 4 cores whatever
  * SPARK_GRAFT_CPUS says: the plan and scan-count pins are measured at
  * local[4].
  */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.local(cpus = 4)
  val SF = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.SF
}
