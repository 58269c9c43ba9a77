package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
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

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.SF

  private var tempRoot: Option[java.nio.file.Path] = None

  /** A fresh scratch directory, made under one temp root per suite; the
    * root and everything in it is deleted when the suite finishes. */
  def tempDir(prefix: String): java.nio.file.Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory(
        s"graft_${getClass.getSimpleName}_")
      tempRoot = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try synchronized {
      tempRoot.foreach { root =>
        val paths = java.nio.file.Files.walk(root)
        try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally paths.close()
      }
      tempRoot = None
    } finally super.afterAll()

  /** Spark jobs started, and records read by parquet file scans, while
    * `f` runs. Listener events arrive asynchronously: a marker job is run
    * afterwards, and its end event means every earlier event has been
    * delivered. */
  def usage[T](f: => T): (T, Int, Long) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val marker = "graft.test.drain"
    val drained = new java.util.concurrent.CountDownLatch(1)
    var jobs = 0
    var records = 0L // parquet file-scan records
    val listener = new SparkListener {
      private var markerJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null)
          markerJob = e.jobId
        else jobs += 1
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          records += e.stageInfo.taskMetrics.inputMetrics.recordsRead
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener events did not drain")
      (r, jobs, records)
    } finally sc.removeSparkListener(listener)
  }
}
