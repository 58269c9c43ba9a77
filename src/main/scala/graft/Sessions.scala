package graft

import org.apache.spark.sql.SparkSession

/** The one place a local Spark session is built: master `local[cpus]`,
  * shuffle partitions = cpus, UTC session time zone, UI off. Bench,
  * Verify, ExplainAudit, the scale tools and the test suites all start
  * their session here.
  */
object Sessions {
  /** `SPARK_GRAFT_CPUS`, parsed once; unset means every core the JVM
    * sees. A bad value fails the first session build, naming itself. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'"))
  }

  /** `conf` adds (or overrides) static settings before the session
    * starts, e.g. Bench's codegen cache size. */
  def local(cpus: Int = Sessions.cpus,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
