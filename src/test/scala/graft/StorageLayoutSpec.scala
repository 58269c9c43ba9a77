package graft

import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** Storage-layout techniques the 100 TB design depends on: date-partitioned
  * sinks with partition pruning, bucketed tables whose joins need no
  * shuffle (the co-located join), and clustered snapshot compactions
  * whose row-group stats stay selective.
  */
class StorageLayoutSpec extends SparkSpec {
  import spark.implicits._

  /** How many row groups of version `v`'s live files a pushed
    * `colName = key` filter must read: a row group is skippable iff its
    * footer [min, max] excludes the key. Returns (containing, total). */
  private def groupsContaining(dir: String, v: Int, colName: String,
                               key: Long): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    var total = 0; var containing = 0
    SnapshotLog.dataEntries(SnapshotLog.manifest(dir, v)).foreach { f =>
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir, f),
        new org.apache.hadoop.conf.Configuration(false)))
      try rdr.getFooter.getBlocks.asScala.foreach { b =>
        val st = b.getColumns.asScala
          .find(_.getPath.toDotString == colName).get.getStatistics
        total += 1
        val mn = st.genericGetMin.asInstanceOf[java.lang.Long]
        val mx = st.genericGetMax.asInstanceOf[java.lang.Long]
        if (mn <= key && key <= mx) containing += 1
      } finally rdr.close()
    }
    (containing, total)
  }

  test("sort-clustered rewrite: row-group stats become selective for key filters") {
    val base = Tables.events(spark, sf)
    val unsorted = tempDir("graft_uns").toString
    val vu = SnapshotLog.appendVersion(base.repartition(8), unsorted)
    val clustered = tempDir("graft_cls").toString
    SnapshotLog.appendVersion(base.repartition(8), clustered)
    val vc = SnapshotLog.compactVersion(spark, clustered,
      targetBytes = 24L * 1024, clusterBy = Some("user_id"))
    val (uc, ut) = groupsContaining(unsorted, vu, "user_id", 7L)
    val (cc, ct) = groupsContaining(clustered, vc, "user_id", 7L)
    // random layout: every row group spans the whole key range — zero
    // skipping; clustered: the key lives in a small fraction of groups
    assert(uc === ut, s"random layout unexpectedly skippable ($uc/$ut)")
    assert(ct > 1 && cc <= math.max(1, ct / 4),
      s"clustered layout not selective: $cc of $ct row groups contain the key")
    // and the data is intact
    assert(SnapshotLog.readVersion(spark, clustered, vc).count() === base.count())
  }

  test("partitioned sink: date filter prunes partitions at the scan") {
    val dir = tempDir("graft_part").toString
    Tables.events(spark, sf)
      .withColumn("event_date", to_date($"ts"))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)

    val read = spark.read.parquet(dir)
      .filter($"event_date" === "2024-01-05")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(600))
    assert(plan.contains("event_date"), "partition column not in filters")
    // pruning actually works: only that day's rows are read
    val expected = Tables.events(spark, sf)
      .filter(to_date($"ts") === "2024-01-05").count()
    assert(read.count() === expected && expected > 0)
  }

  test("dynamic partition pruning: selective dim filter prunes fact partitions") {
    val dir = tempDir("graft_dpp").toString
    Tables.events(spark, sf)
      .withColumn("event_date", to_date($"ts"))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Tables.events(spark, sf)
      .select(to_date($"ts").as("event_date"), $"event_type").distinct()
      .filter($"event_type" === "purchase" && dayofmonth($"event_date") === 3)
    val joined = fact.join(dim, Seq("event_date"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      "no dynamic partition pruning in plan:\n" + plan.take(800))
    assert(joined.count() > 0)
  }

  test("bucketed tables: equi-join on the bucket key plans without exchange") {
    // default warehouse dir (./spark-warehouse, gitignored) — the
    // warehouse conf is static and can't move per-test. A previous JVM's
    // orphaned table dirs conflict with the fresh in-memory catalog:
    // drop + delete locations first.
    Seq("ev_bucketed_a", "ev_bucketed_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val ev = Tables.events(spark, sf).select($"event_id", $"user_id", $"value")
    ev.write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
      .saveAsTable("ev_bucketed_a")
    ev.groupBy($"user_id").agg(sum($"value").as("total"))
      .write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
      .saveAsTable("ev_bucketed_b")

    val joined = spark.table("ev_bucketed_a")
      .join(spark.table("ev_bucketed_b"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed join still shuffles:\n" + plan.take(1000))
    assert(joined.count() === ev.count())
  }

  test("z-order rewrite: row groups are selective on BOTH keys; " +
       "single-key sort only on its own") {
    // the full 200x200 grid: a and b independent by construction
    val grid = spark.range(40000).select(
      ($"id" % 200).as("a"), expr("(id div 200) % 200").as("b"),
      $"id".as("payload"))
    def freshStore(): String = {
      val d = tempDir("graft_z").toString
      SnapshotLog.appendVersion(grid.repartition(8), d)
      d
    }
    val zdir = freshStore()
    val zv = SnapshotLog.compactVersionZOrder(spark, zdir, "a", "b",
      targetBytes = 24L * 1024)
    val sdir = freshStore()
    val sv = SnapshotLog.compactVersion(spark, sdir,
      targetBytes = 24L * 1024, clusterBy = Some("a"))
    val (za, zt) = groupsContaining(zdir, zv, "a", 7L)
    val (zb, _) = groupsContaining(zdir, zv, "b", 7L)
    val (sa, st) = groupsContaining(sdir, sv, "a", 7L)
    val (sb, _) = groupsContaining(sdir, sv, "b", 7L)
    assert(zt > 4, s"too few row groups ($zt) for a meaningful check")
    // z-order: a 1-D stripe crosses O(sqrt(files)) 2-D tiles — both
    // columns must skip most groups
    assert(za <= zt / 2 && zb <= zt / 2,
      s"z-order not selective on both keys: a=$za/$zt b=$zb/$zt")
    // single-key sort: selective on its own key, blind on the other
    assert(sa <= st / 4, s"single-key sort not selective on a: $sa/$st")
    assert(sb >= st * 3 / 4,
      s"expected single-key layout blind on b, got $sb/$st")
    // and the data survives both rewrites
    assert(SnapshotLog.readVersion(spark, zdir, zv).count() === 40000L)
    assert(SnapshotLog.readVersion(spark, sdir, sv).count() === 40000L)
  }
}
