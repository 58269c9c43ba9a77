package graft

import org.apache.spark.sql.functions._

/** Structured Streaming path: the ingest stream over the events parquet
  * must agree with the equivalent batch computation (batch-equivalence is
  * the verification strategy — the DuckDB oracle is batch-only).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

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

  test("streamed CDC merge: final state equals the batch three-clause merge; replay is idempotent") {
    val root = tempDir("graft_merge")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    operators.Extras.mergeSeed(
      operators.Extras.mergeTarget(spark, sf), s"$root/store")
    // q100's exact change feed, arrival-split into 3 micro-batches by
    // key % 3 — every clause (update/delete/insert) lands in several
    // different triggers
    val feed = operators.Extras.mergeFeed(spark, sf)
    (0 until 3).foreach { i =>
      val tmp = root.resolve(s"tmp$i")
      feed.filter($"key" % 3 === i).coalesce(1).write.parquet(tmp.toString)
      val part = {
        val st = java.nio.file.Files.list(tmp)
        try st.filter(_.toString.endsWith(".parquet")).findFirst.get
        finally st.close()
      }
      val dst = inDir.resolve(f"chunk$i%03d.parquet")
      java.nio.file.Files.move(part, dst)
      dst.toFile.setLastModified(60000L * (i + 1))
    }
    val stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val q = operators.Extras.mergeApplyStream(
      stream, s"$root/store", s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()
    // the split must not matter: streamed final state == batch q100
    val streamed = operators.Extras.mergeState(spark, s"$root/store")
      .as[(Long, Double)].collect().toSeq
    val batch = operators.Extras.queries("q100_merge_into")(spark, sf)
      .select($"key", $"bal").as[(Long, Double)].collect().toSeq
    assert(streamed === batch && streamed.nonEmpty)
    // at-least-once replay: re-running the LAST trigger's batchId with
    // the same delta must rewrite version 2 to the same state
    val lastChunk = spark.read.parquet(inDir.resolve("chunk002.parquet").toString)
    operators.Extras.mergeApplyBatch(lastChunk, 2L, s"$root/store")
    val replayed = operators.Extras.mergeState(spark, s"$root/store")
      .as[(Long, Double)].collect().toSeq
    assert(replayed === streamed, "replayed trigger changed the state")
    // a version ABOVE the replayed batchId is a stale generation
    val e = intercept[IllegalArgumentException] {
      operators.Extras.mergeApplyBatch(lastChunk, 1L, s"$root/store")
    }
    assert(e.getMessage.contains("stale generation"))
    // deletes processed in an EARLY trigger stay deleted at the end
    val deletedKeys = feed.filter($"action" === "delete" && $"key" % 3 === 0)
      .select($"key").as[Long].collect()
    assert(deletedKeys.nonEmpty, "no early-trigger delete — clause untested")
    deletedKeys.foreach(k =>
      assert(!streamed.exists(_._1 == k), s"deleted key $k resurfaced"))
  }

  test("CDC merge with event sequence: sequential apply — a delete-then-reinsert batch keeps the reinsert") {
    // the round-16 advice case: a real CDC feed can land delete and
    // reinsert for one key in ONE micro-batch; the seq-less delete-wins
    // collapse would drop the reinsert. With a `seq` column the
    // collapse must be the sequential apply: a delete RESETS the key,
    // later upserts restart the balance from their own sum.
    val root = tempDir("graft_merge_seq")
    val target = Seq((1L, 10.0), (3L, 10.0)).toDF("key", "bal")
    operators.Extras.mergeSeed(target, s"$root/store")
    val batch = Seq(
      // key 1 (exists, bal 10): upsert +5, delete, reinsert 7 -> 7
      (1L, 5.0, "upsert", 1L), (1L, 0.0, "delete", 2L),
      (1L, 7.0, "upsert", 3L),
      // key 2 (new): upsert then delete -> absent
      (2L, 5.0, "upsert", 1L), (2L, 0.0, "delete", 2L),
      // key 3 (exists, bal 10): delete then reinsert 4 -> 4, NOT 14
      (3L, 0.0, "delete", 1L), (3L, 4.0, "upsert", 2L),
      // key 4 (new): two upserts accumulate -> 5
      (4L, 2.0, "upsert", 1L), (4L, 3.0, "upsert", 2L)
    ).toDF("key", "amt", "action", "seq")
    operators.Extras.mergeApplyBatch(batch, 0L, s"$root/store")
    val st = operators.Extras.mergeState(spark, s"$root/store")
      .as[(Long, Double)].collect().toMap
    assert(st === Map(1L -> 7.0, 3L -> 4.0, 4L -> 5.0), s"got $st")
    // the seq-LESS path on the same events is the documented
    // delete-wins contract: every deleted-at-any-point key stays out
    val root2 = tempDir("graft_merge_seq2")
    operators.Extras.mergeSeed(target, s"$root2/store")
    operators.Extras.mergeApplyBatch(batch.drop("seq"), 0L, s"$root2/store")
    val st2 = operators.Extras.mergeState(spark, s"$root2/store")
      .as[(Long, Double)].collect().toMap
    assert(st2 === Map(4L -> 5.0), s"got $st2")
  }

  test("change feed source: streamed tail equals batch read, one version per batch, O(delta) planning, resume") {
    import graft.sources.{ChangeFeed, SnapshotLog}
    import org.apache.spark.sql.streaming.Trigger
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
    // streamed tail: AvailableNow drains to the head, ONE VERSION PER
    // BATCH (admission control), then stops. foreachBatch sink — the
    // deployment shape AND the only local sink that supports
    // checkpoint recovery for the resume leg below.
    val ckpt = s"$root/ckpt"
    def drain(): Seq[(Long, Set[(Long, Long, Double)])] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, (Long, Long, Double))]()
      val q = ChangeFeed.readStream(spark, dir, fromVersion = 0)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.select(col("_change_version"), col("k"), col("x")).collect()
            .foreach(r => buf.add(
              (id, (r.getLong(0), r.getLong(1), r.getDouble(2)))))
          ()
        }.start()
      try q.awaitTermination() finally q.stop()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (id, rs) => id -> rs.map(_._2).toSet }
    }
    val batches = drain()
    assert(batches.flatMap(_._2).toSet === batch,
      "streamed feed diverged from the batch read")
    // one committed VERSION per micro-batch, in commit order
    assert(batches.map(_._2.map(_._1)).forall(_.size == 1),
      s"a micro-batch mixed versions: $batches")
    assert(batches.map(_._2.head._1) === Seq(1L, 2L, 4L),
      s"version-per-batch order: $batches")
    // RESUME: a new commit after the drain; the same checkpoint picks
    // up ONLY the new version (the offset log is the cursor)
    SnapshotLog.appendVersion(frame(Seq(9L)).coalesce(1), dir)       // v5
    val batches2 = drain()
    assert(batches2.flatMap(_._2).toSet === Set((5L, 9L, 90.0)),
      s"resume re-emitted already-consumed versions: $batches2")
    // and the streamed feed concatenated over versions equals the
    // q104-style batch statement on the same store: per-version
    // aggregates agree (the registry q111 pin, restated locally)
    val perVersion = batches.flatMap(_._2) ++ batches2.flatMap(_._2)
    val agg = perVersion.groupBy(_._1).view
      .mapValues(rs => (rs.size, rs.map(_._3).sum)).toMap
    assert(agg === Map(1L -> ((2, 30.0)), 2L -> ((1, 30.0)),
      4L -> ((2, 90.0)), 5L -> ((1, 90.0))))
  }

  test("end-to-end CDC: the change feed replicates one store into another exactly-once") {
    // the full 100 TB replication loop, assembled from the pieces each
    // spec pins alone: ChangeFeed tails the PRIMARY's snapshot log
    // (one committed version per micro-batch, O(delta) files read) and
    // foreachBatch applies each batch into a REPLICA store through the
    // exactly-once streamed-append path (the batchId rides the
    // replica's manifest claim, so a replayed trigger no-ops) — a
    // second table stays row-identical to the primary without ever
    // scanning it. SCOPE here: an APPEND-ONLY primary (+ compactions,
    // which move bytes not rows and feed nothing) applied through the
    // exactly-once streamed-append path; the DML surface (deletes,
    // merges — explicit change files since r19) is replicated by the
    // next spec through a keyed apply.
    import graft.sources.{ChangeFeed, SnapshotLog}
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("graft_cdcrep")
    val primary = root.resolve("primary").toString
    val replica = root.resolve("replica").toString
    Seq(primary, replica).foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    def frame(ks: Seq[Long]) = ks.map(k => (k, k * 10.0)).toDF("k", "x")
    SnapshotLog.appendVersion(frame(Seq(1L, 2L)).coalesce(1), primary)
    SnapshotLog.appendVersion(frame(Seq(3L, 4L)).coalesce(1), primary)
    SnapshotLog.compactVersion(spark, primary) // rewrite: no feed rows
    def replicate(): Unit = {
      val q = ChangeFeed.readStream(spark, primary, fromVersion = 0)
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = b.drop("_change_version", "_change_type", "_change_timestamp")
          if (!rows.isEmpty)
            SnapshotLog.appendVersionForBatch(rows.coalesce(1), replica, id)
          ()
        }.start()
      try q.awaitTermination() finally q.stop()
    }
    replicate()
    def keys(dir: String): Set[Long] =
      SnapshotLog.readVersion(spark, dir, SnapshotLog.latestVersion(dir))
        .select($"k").as[Long].collect().toSet
    assert(keys(replica) === Set(1L, 2L, 3L, 4L))
    val replicaVersions = SnapshotLog.versions(replica).size
    // primary advances; the same checkpoint ships ONLY the delta
    SnapshotLog.appendVersion(frame(Seq(9L)).coalesce(1), primary)
    replicate()
    assert(keys(replica) === Set(1L, 2L, 3L, 4L, 9L))
    assert(SnapshotLog.versions(replica).size === replicaVersions + 1,
      "catch-up run must append exactly the one new version")
    // trigger replay (crash between the replica's manifest commit and
    // the checkpoint commit): the same batchId no-ops on the replica
    val last = ChangeFeed.readBatch(spark, primary, fromVersion = 0)
      .filter($"_change_version" === SnapshotLog.latestVersion(primary))
      .drop("_change_version", "_change_type", "_change_timestamp")
    val before = keys(replica)
    // micro-batch ids are 0-based over the primary's change versions,
    // so the batch that shipped primary vN carried id N-1
    SnapshotLog.appendVersionForBatch(last.coalesce(1), replica,
      SnapshotLog.latestVersion(primary).toLong - 1)
    assert(keys(replica) === before &&
      SnapshotLog.versions(replica).size === replicaVersions + 1,
      "replayed CDC batch re-appended rows into the replica")
  }

  test("end-to-end CDC over DML: deletes and merges replicate through the feed; replica equals primary at head") {
    // the round-18 gap closed: a COW delete, a MoR delete, and a MERGE
    // each write explicit row-level change files at commit time, the
    // feed emits them one version per micro-batch, and a keyed apply
    // (remove delete/update_preimage keys, add insert/update_postimage
    // rows) keeps a replica row-identical to the primary through the
    // FULL DML surface — the replication a byte-level rewrite feed
    // cannot do. Replica state is batch-keyed deterministic overwrite
    // (the mergeApplyBatch discipline), so a replayed trigger rewrites
    // its own version identically: exactly-once end to end.
    import graft.sources.{ChangeFeed, SnapshotLog}
    import org.apache.spark.sql.streaming.Trigger
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
    // seed (batch = -1, below every real trigger): the empty table
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
    def replicate(): Unit = {
      val q = ChangeFeed.readStream(spark, primary, fromVersion = 0)
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          applyCdc(b, id); ()
        }.start()
      try q.awaitTermination() finally q.stop()
    }
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
    // replayed trigger (crash before checkpoint commit): deterministic
    // overwrite of its own state version — byte-identical state
    val lastBatch = ChangeFeed.readBatch(spark, primary, fromVersion = 4)
    applyCdc(lastBatch, 4L)
    assert(state() === primaryHead(), "replayed DML batch diverged")
    // the primary keeps moving: append + another delete; same
    // checkpoint ships only the delta
    SnapshotLog.appendVersion(frame(Seq(20L, 21L)).coalesce(1), primary) // v6
    SnapshotLog.deleteWhere(spark, primary, "k", 21L, 21L)               // v7
    replicate()
    assert(state() === primaryHead(),
      "catch-up through append + delete diverged")
    // and a ROLLBACK: the CDC restore states its file-diff deletes +
    // inserts, so the same keyed apply converges the replica onto the
    // restored snapshot — the feed is total over row-changing ops
    SnapshotLog.restoreVersion(spark, primary, 5)                        // v8
    replicate()
    assert(state() === primaryHead(),
      "restore did not replicate through the feed")
  }
}
