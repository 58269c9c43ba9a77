package graft

import org.apache.spark.sql.functions._

/** Structured Streaming path: the ingest stream over the events parquet
  * must agree with the equivalent batch computation (batch-equivalence is
  * the verification strategy — the DuckDB oracle is batch-only).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The cron-form CDC consumer: for each primary version after
    * `cursor`, one batch read of the feed filtered to that version,
    * applied in commit order with batch id v-1. Returns the new cursor
    * (the head it shipped), which the caller keeps as its checkpoint. */
  private def replicateFrom(primary: String, cursor: Int)
      (apply: (org.apache.spark.sql.DataFrame, Long) => Unit): Int = {
    import graft.sources.{ChangeFeed, SnapshotLog}
    val head = SnapshotLog.latestVersion(primary)
    ((cursor + 1) to head).foreach { v =>
      apply(ChangeFeed.readBatch(spark, primary, fromVersion = v - 1)
        .filter($"_change_version" === v), v - 1L)
    }
    head
  }

  test("streaming ingest (watermark + dedup + hourly counts) equals batch") {
    // file streaming source requires a directory; stage the parquet there
    val dir = tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = streaming.Streaming.ingestStream(spark, dir.toString, "stream_sink")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_sink")
        .select($"window.start".as("win_start"), $"event_type", $"n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      val batch = Tables.events(spark, sf)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select($"window.start".as("win_start"), $"event_type", $"n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("session_window end = last event + gap (streaming construct, batch run)") {
    val out = streaming.Streaming.queries("q42_session_window")(spark, sf)
    val bad = out.filter($"sess_end" < $"sess_start" + expr("INTERVAL 30 MINUTES"))
    assert(bad.count() === 0)
  }

  test("RocksDB state store: same results as the default store (scale path)") {
    // at 100 TB the state store must spill off-heap — RocksDB is the
    // provider for that; results must not depend on the store backend
    val dir = tempDir("graft_rocks")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = streaming.Streaming.ingestStream(spark, dir.toString, "rocks_sink")
      try {
        q.processAllAvailable()
        val streamed = spark.table("rocks_sink")
          .select($"window.start".as("ws"), $"event_type", $"n")
          .as[(java.sql.Timestamp, String, Long)].collect().toSet
        val batch = Tables.events(spark, sf)
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"))
          .select($"window.start".as("ws"), $"event_type", $"n")
          .as[(java.sql.Timestamp, String, Long)].collect().toSet
        assert(streamed === batch)
      } finally q.stop()
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dropDuplicatesWithinWatermark: dups suppressed, state evicted after horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = input.toDS().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory").queryName("ddww_sink")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")),
                    (1L, ts("2024-01-01 10:01:00")), // dup within watermark
                    (2L, ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      assert(spark.table("ddww_sink").count() === 2) // one per id
      // 3 hours later the watermark has LONG passed id 1's expiry — its
      // dedup state was evicted, so the key may legitimately re-emit
      // (bounded state: the store holds only the watermark horizon)
      input.addData((1L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 13:00:30"))) // dup in NEW horizon
      q.processAllAvailable()
      val ids = spark.table("ddww_sink").as[(Long, java.sql.Timestamp)]
        .collect().toSeq.sorted
      assert(ids.count(_._1 == 1L) === 2, s"expected re-emission after eviction: $ids")
      assert(ids.count(_._1 == 2L) === 1)
    } finally q.stop()
  }

  test("streaming text-cleaning gate: the t09 chain streams unchanged") {
    // the LLM-pipeline gates are map-only + one aggregate, so the SAME
    // function behind t09 runs under readStream — micro-batched corpus
    // ingest produces the batch report bit-for-bit
    val dir = tempDir("graft_docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$sf/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val q = datapipe.TextAnalysis.cleanPipeline(stream)
      .writeStream.format("memory").queryName("t09_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("t09_stream")
        .select($"lang", $"n_docs", $"n_q_fail", $"n_len_fail", $"n_kept")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val batch = datapipe.TextAnalysis
        .queries("t09_clean_pipeline")(spark, sf)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming classifier inference: the t23 transform streams unchanged") {
    // model-based scoring is THE curation stage most often deployed as a
    // stream (score docs as they arrive); the same classifierScore
    // function runs under readStream — broadcast static model joined to
    // a streaming side, keyed aggregate under complete mode — and the
    // micro-batched scores equal the batch registry entry bit-for-bit
    val dir = tempDir("graft_docs_clf")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$sf/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val q = datapipe.TextAnalysis.classifierScore(stream)
      .writeStream.format("memory").queryName("t23_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("t23_stream")
        .as[(Long, Long, Double, String)].collect().toSet
      val batch = datapipe.TextAnalysis
        .queries("t23_classifier_score")(spark, sf)
        .as[(Long, Long, Double, String)].collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("change feed source: batch read tags versions, O(delta) planning, column pruning, resume from a version cursor") {
    import graft.sources.{ChangeFeed, SnapshotLog}
    val root = tempDir("graft_cdf")
    val dir = root.resolve("table").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def frame(ks: Seq[Long]) = ks.map(k => (k, k * 10.0)).toDF("k", "x")
    SnapshotLog.appendVersion(frame(Seq(1L, 2L)).coalesce(1), dir)   // v1
    SnapshotLog.appendVersion(frame(Seq(3L)).coalesce(1), dir)       // v2
    SnapshotLog.compactVersion(spark, dir)                           // v3
    SnapshotLog.appendVersion(frame(Seq(4L, 5L)).coalesce(1), dir)   // v4
    // O(delta) planning unit: an append version plans exactly its
    // added files; a rewrite version plans NOTHING (dataChange=false)
    assert(ChangeFeed.addedDataFiles(dir, 2).size === 1)
    assert(ChangeFeed.addedDataFiles(dir, 3).isEmpty,
      "compaction must feed zero files")
    // batch read decodes rows with their version tags
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select($"_change_version", $"k", $"x")
        .as[(Long, Long, Double)].collect().toSet
    val batch = canon(ChangeFeed.readBatch(spark, dir, fromVersion = 0))
    assert(batch === Set((1L, 1L, 10.0), (1L, 2L, 20.0), (2L, 3L, 30.0),
      (4L, 4L, 40.0), (4L, 5L, 50.0)), s"batch feed: $batch")
    // column pruning survives the parquet-layer projection
    val pruned = ChangeFeed.readBatch(spark, dir, fromVersion = 0)
      .groupBy($"_change_version").count()
      .as[(Long, Long)].collect().toMap
    assert(pruned === Map(1L -> 2L, 2L -> 1L, 4L -> 2L))
    // RESUME: a new commit after the first read; reading from the
    // consumer's cursor (the head it last saw, v4) picks up ONLY the
    // new version
    SnapshotLog.appendVersion(frame(Seq(9L)).coalesce(1), dir)       // v5
    val batch2 = canon(ChangeFeed.readBatch(spark, dir, fromVersion = 4))
    assert(batch2 === Set((5L, 9L, 90.0)),
      s"resume re-emitted already-consumed versions: $batch2")
    // and the feed concatenated over both reads equals the q104-style
    // batch statement on the same store: per-version aggregates agree
    // (the registry q111 pin, restated locally)
    val agg = (batch ++ batch2).toSeq.groupBy(_._1).view
      .mapValues(rs => (rs.size, rs.map(_._3).sum)).toMap
    assert(agg === Map(1L -> ((2, 30.0)), 2L -> ((1, 30.0)),
      4L -> ((2, 90.0)), 5L -> ((1, 90.0))))
  }

  test("end-to-end CDC: the change feed replicates one store into another exactly-once") {
    // the full 100 TB replication loop, assembled from the pieces each
    // spec pins alone: a cron-run consumer reads the PRIMARY's change
    // feed one committed version at a time from its version cursor
    // (O(delta) files read) and applies each version into a REPLICA
    // store through the exactly-once batch-append path (the batch id
    // rides the replica's manifest claim, so a replayed batch no-ops)
    // — a second table stays row-identical to the primary without ever
    // scanning it. SCOPE here: an APPEND-ONLY primary (+ compactions,
    // which move bytes not rows and feed nothing); the DML surface
    // (deletes, merges — explicit change files since r19) is
    // replicated by the next spec through a keyed apply.
    import graft.sources.{ChangeFeed, SnapshotLog}
    val root = tempDir("graft_cdcrep")
    val primary = root.resolve("primary").toString
    val replica = root.resolve("replica").toString
    Seq(primary, replica).foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    def frame(ks: Seq[Long]) = ks.map(k => (k, k * 10.0)).toDF("k", "x")
    SnapshotLog.appendVersion(frame(Seq(1L, 2L)).coalesce(1), primary)
    SnapshotLog.appendVersion(frame(Seq(3L, 4L)).coalesce(1), primary)
    SnapshotLog.compactVersion(spark, primary) // rewrite: no feed rows
    var cursor = 0
    def replicate(): Unit =
      cursor = replicateFrom(primary, cursor) { (b, id) =>
        val rows = b.drop("_change_version", "_change_type", "_change_timestamp")
        if (!rows.isEmpty)
          SnapshotLog.appendVersionForBatch(rows.coalesce(1), replica, id)
      }
    replicate()
    def keys(dir: String): Set[Long] =
      SnapshotLog.readVersion(spark, dir, SnapshotLog.latestVersion(dir))
        .select($"k").as[Long].collect().toSet
    assert(keys(replica) === Set(1L, 2L, 3L, 4L))
    val replicaVersions = SnapshotLog.versions(replica).size
    // primary advances; the same cursor ships ONLY the delta
    SnapshotLog.appendVersion(frame(Seq(9L)).coalesce(1), primary)
    replicate()
    assert(keys(replica) === Set(1L, 2L, 3L, 4L, 9L))
    assert(SnapshotLog.versions(replica).size === replicaVersions + 1,
      "catch-up run must append exactly the one new version")
    // batch replay (crash between the replica's manifest commit and
    // the cursor update): the same batch id no-ops on the replica
    val last = ChangeFeed.readBatch(spark, primary, fromVersion = 0)
      .filter($"_change_version" === SnapshotLog.latestVersion(primary))
      .drop("_change_version", "_change_type", "_change_timestamp")
    val before = keys(replica)
    // batch ids are 0-based over the primary's versions, so the
    // batch that shipped primary vN carried id N-1
    SnapshotLog.appendVersionForBatch(last.coalesce(1), replica,
      SnapshotLog.latestVersion(primary).toLong - 1)
    assert(keys(replica) === before &&
      SnapshotLog.versions(replica).size === replicaVersions + 1,
      "replayed CDC batch re-appended rows into the replica")
  }

  test("end-to-end CDC over DML: deletes and merges replicate through the feed; replica equals primary at head") {
    // the round-18 gap closed: a COW delete, a MoR delete, and a MERGE
    // each write explicit row-level change files at commit time, the
    // consumer reads them one version per batch, and a keyed apply
    // (remove delete/update_preimage keys, add insert/update_postimage
    // rows) keeps a replica row-identical to the primary through the
    // FULL DML surface — the replication a byte-level rewrite feed
    // cannot do. Replica state is batch-keyed deterministic overwrite,
    // so a replayed batch rewrites its own version identically:
    // exactly-once end to end.
    import graft.sources.{ChangeFeed, SnapshotLog}
    val root = tempDir("graft_cdcdml")
    val primary = root.resolve("primary").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(primary))
    def frame(ks: Seq[Long]) = ks.map(k => (k, k * 10.0)).toDF("k", "x")
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), primary) // v1
    SnapshotLog.appendVersion(frame(Seq(4L, 5L, 6L)).coalesce(1), primary) // v2
    SnapshotLog.deleteWhere(spark, primary, "k", 2L, 2L)                   // v3
    SnapshotLog.deleteWhereMoR(spark, primary, "k", 5L, 5L)                // v4
    SnapshotLog.mergeInto(spark, primary,
      Seq((3L, 7.0, "upsert"), (4L, 0.0, "delete"), (9L, 90.0, "upsert"))
        .toDF("key", "amt", "action"), "k", "x")                           // v5
    val stateDir = root.resolve("state").toString
    // seed (batch = -1, below every real batch): the empty table
    frame(Seq.empty).write.parquet(s"$stateDir/batch=-1")
    def applyCdc(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val vs = new java.io.File(stateDir).listFiles.toSeq
        .map(_.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
      require(!vs.exists(_ > id), "stale generation")
      val prev = spark.read.parquet(
        s"$stateDir/batch=${vs.filter(_ < id).max}")
      val dels = b.filter(
          $"_change_type".isin("delete", "update_preimage"))
        .select($"k")
      val adds = b.filter(
          $"_change_type".isin("insert", "update_postimage"))
        .select($"k", $"x")
      prev.join(dels, Seq("k"), "left_anti").unionByName(adds)
        .write.mode("overwrite").parquet(s"$stateDir/batch=$id")
    }
    var cursor = 0
    def replicate(): Unit = cursor = replicateFrom(primary, cursor)(applyCdc)
    replicate()
    def state(): Set[(Long, Double)] = {
      val last = new java.io.File(stateDir).listFiles.toSeq
        .map(_.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).max
      spark.read.parquet(s"$stateDir/batch=$last")
        .as[(Long, Double)].collect().toSet
    }
    def primaryHead(): Set[(Long, Double)] =
      SnapshotLog.readVersion(spark, primary,
          SnapshotLog.latestVersion(primary))
        .select($"k", $"x").as[(Long, Double)].collect().toSet
    assert(state() === Set((1L, 10.0), (3L, 37.0), (6L, 60.0), (9L, 90.0)))
    assert(state() === primaryHead(),
      "replica diverged from the primary through DML")
    // replayed batch (crash before the cursor update): deterministic
    // overwrite of its own state version — byte-identical state
    val lastBatch = ChangeFeed.readBatch(spark, primary, fromVersion = 4)
    applyCdc(lastBatch, 4L)
    assert(state() === primaryHead(), "replayed DML batch diverged")
    // the primary keeps moving: append + another delete; same
    // cursor ships only the delta
    SnapshotLog.appendVersion(frame(Seq(20L, 21L)).coalesce(1), primary) // v6
    SnapshotLog.deleteWhere(spark, primary, "k", 21L, 21L)               // v7
    replicate()
    assert(state() === primaryHead(),
      "catch-up through append + delete diverged")
  }
}
