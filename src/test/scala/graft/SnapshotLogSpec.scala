package graft

import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** The snapshot/time-travel layer (SnapshotLog): version
  * isolation, compaction's history preservation, crash-mid-compaction
  * safety, and vacuum's retention contract.
  */
class SnapshotLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    tempDir("graft_snap").toString

  private def rows(dir: String, v: Int): Set[Long] =
    SnapshotLog.readVersion(spark, dir, v)
      .select($"k").as[Long].collect().toSet

  private def frame(ks: Seq[Long]) =
    ks.map(k => (k, k * 10.0)).toDF("k", "x")

  test("appends accumulate; every version reads its own snapshot") {
    val dir = freshDir()
    assert(SnapshotLog.versions(dir).isEmpty)
    assert(SnapshotLog.appendVersion(frame(Seq(1L, 2L)), dir) === 1)
    assert(SnapshotLog.appendVersion(frame(Seq(3L)), dir) === 2)
    assert(SnapshotLog.appendVersion(frame(Seq(4L, 5L)), dir) === 3)
    assert(rows(dir, 1) === Set(1L, 2L))
    assert(rows(dir, 2) === Set(1L, 2L, 3L))
    assert(rows(dir, 3) === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("compaction is a NEW version with fewer files; every prior snapshot still reads") {
    val dir = freshDir()
    (1 to 3).foreach(i => SnapshotLog.appendVersion(
      frame(Seq(i.toLong * 2 - 1, i.toLong * 2)), dir))
    val filesBefore = SnapshotLog.manifest(dir, 3).size
    val v4 = SnapshotLog.compactVersion(spark, dir)
    assert(v4 === 4)
    assert(SnapshotLog.manifest(dir, 4).size < filesBefore,
      "compaction did not shrink the file count")
    // the compacted snapshot is row-identical to its source version...
    assert(rows(dir, 4) === rows(dir, 3))
    // ...and compaction preserved EVERY earlier snapshot byte-for-row
    assert(rows(dir, 1) === Set(1L, 2L))
    assert(rows(dir, 2) === Set(1L, 2L, 3L, 4L))
    // an append after compaction builds on the compacted file set
    val v5 = SnapshotLog.appendVersion(frame(Seq(99L)), dir)
    assert(rows(dir, v5) === Set(1L, 2L, 3L, 4L, 5L, 6L, 99L))
  }

  test("crash mid-compaction (data files in, manifest never committed) changes no committed version") {
    val dir = freshDir()
    (1 to 2).foreach(i => SnapshotLog.appendVersion(
      frame(Seq(i.toLong)), dir))
    val before = (1 to 2).map(v => rows(dir, v))
    // the crash point: writeCompacted moves the rewritten files into
    // the table dir and stops BEFORE commitManifest — exactly what a
    // died driver leaves behind
    val orphans = SnapshotLog.writeCompacted(spark, dir,
      SnapshotLog.latestVersion(dir), 128L * 1024 * 1024)(_.repartition(_))
    assert(orphans.nonEmpty)
    assert(SnapshotLog.latestVersion(dir) === 2,
      "a crashed compaction must not advance the version")
    assert((1 to 2).map(v => rows(dir, v)) === before,
      "a crashed compaction changed a committed snapshot")
    // recovery is just running the compaction again to completion
    val v3 = SnapshotLog.compactVersion(spark, dir)
    assert(v3 === 3 && rows(dir, 3) === rows(dir, 2))
    // vacuum retaining only v3 sweeps the crash orphans AND the
    // replaced originals; the retained snapshot still reads
    SnapshotLog.vacuum(dir, retainFrom = 3, graceMillis = 0)
    val left = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(left === SnapshotLog.manifest(dir, 3).toSet,
      s"vacuum left unreferenced files: $left")
    assert(rows(dir, 3) === Set(1L, 2L))
    // vacuumed history fails loud, not wrong
    val e = intercept[IllegalArgumentException] { rows(dir, 1) }
    assert(e.getMessage.contains("vacuumed or never committed"))
  }

  test("streamed appends are exactly-once: one version per micro-batch, replay no-ops, crash orphans stay invisible") {
    val root = tempDir("graft_snapstream")
    val dir = root.resolve("table").toString
    // three one-file micro-batches of disjoint keys, batch ids 0, 1, 2
    val chunks = (0 until 3).map(i => frame(Seq(i * 2L + 1, i * 2L + 2)).coalesce(1))
    chunks.zipWithIndex.foreach { case (c, i) =>
      SnapshotLog.appendVersionForBatch(c, dir, i.toLong)
    }
    assert(SnapshotLog.versions(dir) === Seq(1, 2, 3))
    assert(rows(dir, 3) === (1L to 6L).toSet)
    assert(rows(dir, 1).size === 2 && rows(dir, 2).size === 4)
    // post-commit replay (crash between manifest commit and checkpoint
    // commit): the trigger re-runs with the SAME batchId — must no-op
    val lastChunk = chunks(2)
    val v = SnapshotLog.appendVersionForBatch(lastChunk, dir, 2L)
    assert(v === 3 && SnapshotLog.versions(dir) === Seq(1, 2, 3),
      "replayed batch appended a duplicate version")
    assert(rows(dir, 3) === (1L to 6L).toSet, "replay duplicated rows")
    // pre-commit crash (data files moved in, no manifest): the next
    // batch's append must neither see nor resurrect the orphans
    lastChunk.coalesce(1).write.parquet(s"$root/orphan")
    new java.io.File(s"$root/orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(dir, "orphan-" + f.getName)))
    val v4 = SnapshotLog.appendVersionForBatch(frame(Seq(9L)), dir, 3L)
    assert(rows(dir, v4) === (1L to 6L).toSet + 9L,
      "crash orphans leaked into a committed snapshot")
    // stale generation: a fresh checkpoint restarting batch numbering
    // below the committed high-water mark fails loud
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.appendVersionForBatch(frame(Seq(11L)), dir, 1L)
    }
    assert(e.getMessage.contains("stale generation"))
    // vacuum sweeps the orphans; the retained snapshot is intact
    SnapshotLog.vacuum(dir, retainFrom = 4, graceMillis = 0)
    val left = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(left === SnapshotLog.manifest(dir, 4).toSet)
    assert(rows(dir, 4) === (1L to 6L).toSet + 9L)
    // vacuum deleted every batch-tagged manifest (v1..v3) — the
    // exactly-once guarantees must SURVIVE retention via the persisted
    // high-water mark (round-17 review): a replay of the high-water
    // batch still no-ops, and an older batch still fails loud
    val v2 = SnapshotLog.appendVersionForBatch(lastChunk, dir, 3L)
    assert(v2 === SnapshotLog.latestVersion(dir) &&
      rows(dir, SnapshotLog.latestVersion(dir)) === (1L to 6L).toSet + 9L,
      "post-vacuum replay of the high-water batch re-appended rows")
    val e2 = intercept[IllegalArgumentException] {
      SnapshotLog.appendVersionForBatch(lastChunk, dir, 0L)
    }
    assert(e2.getMessage.contains("stale generation"))
  }

  test("manifest-level data skipping: footer-stats pruning reads fewer files, identical rows") {
    val dir = operators.Extras.timeTravelStoreClustered(spark, sf)
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MAXKEY")), "UTF-8").trim.toLong
    // a range inside the middle third touches exactly one of the three
    // range-clustered files
    val (pruned, kept, total) = SnapshotLog.readVersionWhere(
      spark, dir, 3, "o_orderkey", m / 3 + 1, m / 2)
    assert(total === 3 && kept === 1,
      s"expected 1 of 3 files kept, got $kept of $total")
    val full = SnapshotLog.readVersion(spark, dir, 3)
      .filter($"o_orderkey".between(m / 3 + 1, m / 2))
    val a = pruned.select($"o_orderkey").as[Long].collect().sorted.toSeq
    val b = full.select($"o_orderkey").as[Long].collect().sorted.toSeq
    assert(a === b && a.nonEmpty, "pruned read diverged from full scan")
    // a predicate spanning two thirds keeps two files; one outside all
    // ranges keeps none and yields an empty (not failing) frame
    val (_, kept2, _) = SnapshotLog.readVersionWhere(
      spark, dir, 3, "o_orderkey", m / 3, 2 * m / 3 + 1)
    assert(kept2 === 3 || kept2 === 2, s"spanning range kept $kept2")
    val (empty, kept0, _) = SnapshotLog.readVersionWhere(
      spark, dir, 3, "o_orderkey", m + 1000, m + 2000)
    assert(kept0 === 0 && empty.count() === 0)
  }

  test("clustered compaction keeps data skipping alive; unclustered would smear the ranges") {
    val dir = freshDir()
    // interleaved appends: every file spans the whole key range, so
    // pre-compaction pruning can keep nothing
    (0 until 3).foreach(i => SnapshotLog.appendVersion(
      frame(Seq(i.toLong, 100L + i, 200L + i)).coalesce(1), dir))
    val (_, keptBefore, totBefore) = SnapshotLog.readVersionWhere(
      spark, dir, 3, "k", 100L, 105L)
    assert(totBefore === 3 && keptBefore === 3,
      "interleaved files should defeat pruning pre-compaction")
    // clusterBy re-sorts the rewrite into contiguous key ranges; a
    // tiny targetBytes forces multiple output files so pruning can bite
    val v4 = SnapshotLog.compactVersion(spark, dir,
      targetBytes = 1L, clusterBy = Some("k"))
    val (pruned, keptAfter, totAfter) = SnapshotLog.readVersionWhere(
      spark, dir, v4, "k", 100L, 105L)
    assert(keptAfter < totAfter,
      s"clustered compaction did not restore pruning ($keptAfter/$totAfter)")
    assert(pruned.select($"k").as[Long].collect().toSet ===
      Set(100L, 101L, 102L))
  }

  test("copy-on-write delete rewrites only the touched files; history keeps the rows") {
    val dir = freshDir()
    // three single-file appends with disjoint key ranges
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(101L, 102L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(201L, 202L)).coalesce(1), dir)
    val (v, rewritten, kept) =
      SnapshotLog.deleteWhere(spark, dir, "k", 100L, 150L)
    assert(v === 4 && rewritten === 1 && kept === 2,
      s"COW granularity: rewrote $rewritten, kept $kept")
    // the delete landed; untouched ranges intact
    assert(rows(dir, 4) === Set(1L, 2L, 3L, 201L, 202L))
    // history is the undo: the pre-delete version still reads the rows
    assert(rows(dir, 3) === Set(1L, 2L, 3L, 101L, 102L, 201L, 202L))
    // the two untouched files are SHARED verbatim (same names)
    val m3 = SnapshotLog.manifest(dir, 3).toSet
    val m4 = SnapshotLog.manifest(dir, 4).toSet
    assert((m3 & m4).size === 2)
    // a partial-file delete keeps the survivors of the touched file
    val (v5, rw5, _) = SnapshotLog.deleteWhere(spark, dir, "k", 2L, 2L)
    assert(rw5 === 1 && rows(dir, v5) === Set(1L, 3L, 201L, 202L))
  }

  test("merge-on-read delete: zero rewrites, vector-scoped reads, reinsert visible, compaction materializes") {
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(101L, 102L)).coalesce(1), dir)
    val (v3, scanned) = SnapshotLog.deleteWhereMoR(spark, dir, "k", 100L, 150L)
    assert(v3 === 3 && scanned === 1)
    // ZERO data files rewritten: v3's data entries are v2's, verbatim
    assert(SnapshotLog.dataEntries(SnapshotLog.manifest(dir, 3)) ===
      SnapshotLog.dataEntries(SnapshotLog.manifest(dir, 2)))
    assert(SnapshotLog.dvEntries(SnapshotLog.manifest(dir, 3)).size === 1)
    assert(rows(dir, 3) === Set(1L, 2L, 3L))
    assert(rows(dir, 2) === Set(1L, 2L, 3L, 101L, 102L), "history intact")
    // the pruned read applies the vector too
    val (pruned, keptN, _) = SnapshotLog.readVersionWhere(
      spark, dir, 3, "k", 90L, 200L)
    assert(keptN === 1 && pruned.count() === 0,
      "vector must mask the pruned read")
    // REINSERT: an append lands AFTER the vector and is outside its
    // scope — the key returns without waiting for a compaction
    val v4 = SnapshotLog.appendVersion(frame(Seq(101L)).coalesce(1), dir)
    assert(rows(dir, v4) === Set(1L, 2L, 3L, 101L),
      "reinserted key swallowed by an older deletion vector")
    // COW after MoR reads touched files WITH the vector applied —
    // never resurrects MoR-deleted rows
    val (v5, rw5, _) = SnapshotLog.deleteWhere(spark, dir, "k", 2L, 2L)
    assert(rw5 === 1 && rows(dir, v5) === Set(1L, 3L, 101L))
    // compaction materializes the vector away
    val v6 = SnapshotLog.compactVersion(spark, dir)
    assert(SnapshotLog.dvEntries(SnapshotLog.manifest(dir, v6)).isEmpty)
    assert(rows(dir, v6) === Set(1L, 3L, 101L))
    // vacuum keeps the vector file while a dv-bearing version is
    // retained, and the retained versions still read correctly
    SnapshotLog.vacuum(dir, retainFrom = 3, graceMillis = 0)
    assert(rows(dir, 3) === Set(1L, 2L, 3L))
    assert(rows(dir, v6) === Set(1L, 3L, 101L))
  }

  test("persisted merge: per-key probe rewrites only the owning file; inserts ride the rewrite; history intact") {
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(101L, 102L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(201L, 202L)).coalesce(1), dir)
    // update 101 (+5), delete 102, insert 9999 (matches no file range
    // — the per-key probe must NOT drag file 3 in the way an interval
    // hull [101, 9999] would)
    val src = Seq((101L, 5.0, "upsert"), (102L, 0.0, "delete"),
      (9999L, 77.0, "upsert")).toDF("key", "amt", "action")
    val (v, rewritten, kept) = SnapshotLog.mergeInto(spark, dir, src, "k", "x")
    assert(v === 4 && rewritten === 1 && kept === 2,
      s"merge granularity: rewrote $rewritten, kept $kept")
    val merged = SnapshotLog.readVersion(spark, dir, 4)
      .select($"k", $"x").as[(Long, Double)].collect().toMap
    assert(merged === Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0,
      101L -> 1015.0, 201L -> 2010.0, 202L -> 2020.0, 9999L -> 77.0),
      s"got $merged")
    // pre-merge version still reads the deleted/pre-update rows
    assert(rows(dir, 3) === Set(1L, 2L, 3L, 101L, 102L, 201L, 202L))
    // a merge whose source matches nothing rewrites nothing; the kept
    // count is whatever v4 committed (the rewrite's part-file count is
    // an engine detail, not a contract)
    val v4files = SnapshotLog.dataEntries(SnapshotLog.manifest(dir, 4)).size
    val far = Seq((55555L, 1.0, "upsert")).toDF("key", "amt", "action")
    val (v5, rw5, kp5) = SnapshotLog.mergeInto(spark, dir, far, "k", "x")
    assert(rw5 === 0 && kp5 === v4files &&
      rows(dir, v5).contains(55555L), s"insert-only merge rw=$rw5 kp=$kp5")
    // the 'replace' action RESTARTS the balance instead of
    // accumulating onto it
    val rep = Seq((101L, 7.0, "replace")).toDF("key", "amt", "action")
    val (v6, _, _) = SnapshotLog.mergeInto(spark, dir, rep, "k", "x")
    val after = SnapshotLog.readVersion(spark, dir, v6)
      .select($"k", $"x").as[(Long, Double)].collect().toMap
    assert(after(101L) === 7.0,
      s"replace accumulated instead of restarting: ${after(101L)}")
  }

  test("delete-everything keeps the version readable; NULL-key rows survive a range delete") {
    // deleting every row used to commit an empty manifest (all
    // zero-row rewrite outputs dropped) whose read failed with an
    // uninferrable schema — round-17 review finding #1
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L)).coalesce(1), dir)
    val (v, _, _) = SnapshotLog.deleteWhere(spark, dir, "k", 0L, 10L)
    val emptied = SnapshotLog.readVersion(spark, dir, v)
    assert(emptied.count() === 0 &&
      emptied.columns.toSeq === Seq("k", "x"),
      "delete-everything must stay readable with the original schema")
    // ...and the table keeps working after
    val v3 = SnapshotLog.appendVersion(frame(Seq(5L)), dir)
    assert(rows(dir, v3) === Set(5L))
    // NULL-key rows are NOT in [lo, hi]: the rewrite keeps them —
    // round-17 review finding #2 (three-valued filter erased them)
    val dir3 = freshDir()
    val src = Seq((Option(1L), 10.0), (Option.empty[Long], 20.0),
      (Option(9L), 90.0)).toDF("k", "x").coalesce(1)
    SnapshotLog.appendVersion(src, dir3)
    val (v2, _, _) = SnapshotLog.deleteWhere(spark, dir3, "k", 0L, 5L)
    val left = SnapshotLog.readVersion(spark, dir3, v2)
      .select($"k", $"x").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getDouble(1))).toSet
    assert(left === Set((None, 20.0), (Some(9L), 90.0)),
      s"NULL-key row must survive a range delete, got $left")
  }

  test("model property: random append/compact/delete sequences match an in-memory model at EVERY version; a feed-built replica matches too") {
    // seeded-Gen sampling (the PropertySpec discipline — Spark jobs are
    // too slow for large example counts): each sequence drives the real
    // store and a Vector[Set[Long]] model through the same ops; the
    // invariant is total — every committed version equals its model
    // snapshot, not just the head
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    sealed trait Op
    case class Append(ks: Seq[Long]) extends Op
    case class Compact(zorder: Boolean) extends Op
    case class Delete(loFrac: Double, hiFrac: Double, mor: Boolean)
      extends Op
    def opGen(i: Int): Gen[Op] = Gen.frequency(
      5 -> Gen.choose(1, 4).map(n =>
        Append((1 to n).map(j => i * 100L + j))), // globally unique keys
      2 -> Gen.oneOf(true, false).map(Compact.apply), // linear OR z-order
      3 -> Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0),
        Gen.oneOf(true, false)).map {
        case (a, b, mor) => Delete(math.min(a, b), math.max(a, b), mor) })
    (1 to 2).foreach { seq =>
      val dir = freshDir()
      var model = Vector.empty[Set[Long]]
      val ops = (1 to 8).map(i =>
        opGen(i).pureApply(Gen.Parameters.default, Seed(seq * 1000L + i)))
      // ensure the store opens with an append
      (Append(Seq(1L)) +: ops).zipWithIndex.foreach { case (op, idx) =>
        op match {
          case Append(ks) =>
            SnapshotLog.appendVersion(frame(ks).coalesce(1), dir)
            model :+= model.lastOption.getOrElse(Set.empty) ++ ks
          case Compact(z) =>
            // both rewrite flavors must be row-preserving no-ops to
            // the model: linear clustering AND the z-order curve
            if (z) SnapshotLog.compactVersionZOrder(spark, dir, "k", "k",
              targetBytes = 1L)
            else SnapshotLog.compactVersion(spark, dir, targetBytes = 1L,
              clusterBy = Some("k"))
            model :+= model.last
          case Delete(lf, hf, mor) =>
            val keys = model.last.toSeq.sorted
            if (keys.isEmpty) {
              // deleting from empty is a no-op version in the model too
              SnapshotLog.appendVersion(frame(Seq(9999L + idx)), dir)
              model :+= model.last + (9999L + idx)
            } else {
              val lo = keys((lf * (keys.size - 1)).toInt)
              val hi = keys((hf * (keys.size - 1)).toInt)
              // COW and MoR must be observationally identical
              if (mor) SnapshotLog.deleteWhereMoR(spark, dir, "k", lo, hi)
              else SnapshotLog.deleteWhere(spark, dir, "k", lo, hi)
              model :+= model.last.filterNot(k => k >= lo && k <= hi)
            }
        }
        assert(SnapshotLog.versions(dir).max === model.size,
          s"seq $seq op $idx: version count diverged")
      }
      // the total invariant: EVERY version equals its model snapshot
      model.zipWithIndex.foreach { case (exp, i) =>
        assert(rows(dir, i + 1) === exp,
          s"seq $seq: version ${i + 1} diverged from the model")
      }
      // CDC TOTALITY under the same random history: a replica built
      // ONLY from the change feed (appends feed inserts, both delete
      // flavors feed preimages, compactions feed nothing) must match
      // the model at EVERY version — the replication loop's
      // correctness, property-tested
      val byVersion = graft.sources.ChangeFeed
        .readBatch(spark, dir, fromVersion = 0)
        .select($"_change_version".cast("int"), $"_change_type", $"k")
        .as[(Int, String, Long)].collect().toSeq
        .groupBy(_._1)
      var replica = Set.empty[Long]
      (1 to model.size).foreach { v =>
        val ch = byVersion.getOrElse(v, Seq.empty)
        val dels = ch.collect {
          case (_, t, k) if t == "delete" || t == "update_preimage" => k }
        val ins = ch.collect {
          case (_, t, k) if t == "insert" || t == "update_postimage" => k }
        replica = replica -- dels ++ ins
        assert(replica === model(v - 1),
          s"seq $seq: feed-built replica diverged at version $v")
      }
    }
  }

  test("racing committers of one version: exactly one wins, the loser fails loud, never a duplicate") {
    // the round-17 hole: two cross-process streamed appends of version
    // N under DIFFERENT batchIds both succeeded (the batch-suffixed
    // manifest name defeated the same-name conflict), leaving two
    // manifests claiming one version. The commit is now an atomic
    // claim of the bare name — batch tags ride the body — so exactly
    // one writer wins regardless of tags. 20 rounds of a two-thread
    // race; each round must end with ONE committed manifest whose
    // content is the winner's.
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L)).coalesce(1), dir)
    (2 to 21).foreach { v =>
      val results =
        new java.util.concurrent.ConcurrentHashMap[String, Option[Throwable]]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq("a", "b").map { who =>
        val t = new Thread(() => {
          start.await()
          try {
            SnapshotLog.commitManifest(dir, v, Seq(s"file-$who.parquet"),
              batchId = Some(if (who == "a") 100L + v else 200L + v))
            results.put(who, None)
          } catch { case e: Throwable => results.put(who, Some(e)) }
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join())
      val winners = Seq("a", "b").filter(results.get(_).isEmpty)
      assert(winners.size === 1,
        s"v$v: expected exactly one winner, got ${winners.size}")
      val loserErr = results.get(if (winners.head == "a") "b" else "a").get
      assert(loserErr.isInstanceOf[IllegalStateException] ||
             loserErr.isInstanceOf[IllegalArgumentException],
        s"v$v: loser threw ${loserErr.getClass}")
      assert(loserErr.getMessage.contains("concurrently committed") ||
             loserErr.getMessage.contains("not the next version"),
        s"v$v: loser's error is not a clear conflict: ${loserErr.getMessage}")
      // exactly one manifest file for v, and its content is the winner's
      assert(SnapshotLog.versions(dir).count(_ == v) === 1)
      assert(SnapshotLog.manifest(dir, v) ===
        Seq(s"file-${winners.head}.parquet"),
        s"v$v: committed content is not the claim winner's")
    }
  }

  test("delta manifests bound the log's metadata growth; vacuum materializes the retention boundary") {
    val dir = freshDir()
    (1 to 30).foreach(i =>
      SnapshotLog.appendVersion(frame(Seq(i.toLong)).coalesce(1), dir))
    val ld = java.nio.file.Paths.get(dir, "_graft_log")
    def manifestFiles = {
      val st = java.nio.file.Files.list(ld)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".manifest")).toSeq
      } finally st.close()
    }
    val sizes = manifestFiles.map(p =>
      p.getFileName.toString -> java.nio.file.Files.size(p)).toMap
    // checkpoints land exactly where the K=10 policy forces them; every
    // other commit is an O(1-edit) delta
    def isDelta(v: Int) = new String(java.nio.file.Files.readAllBytes(
      ld.resolve(f"v$v%05d.manifest")), "UTF-8").startsWith("#delta")
    val fulls = (1 to 30).filterNot(isDelta)
    assert(fulls === Seq(1, 11, 21), s"checkpoints at $fulls")
    // a delta is one edit line + its file's range header + the
    // O(columns) #schema header — CONSTANT for a fixed schema, never
    // O(files) (the r19 schema-in-log header rides every manifest)
    (1 to 30).filter(isDelta).foreach(v =>
      assert(sizes(f"v$v%05d.manifest") < 500L,
        s"delta v$v is ${sizes(f"v$v%05d.manifest")} bytes"))
    // the whole log is a small fraction of what all-full manifests
    // would cost (the O(versions x files) growth this bounds) —
    // estimated from the REAL v21 checkpoint, which carries the same
    // per-file line + range and per-manifest schema overhead
    val actualBytes = sizes.values.sum
    val s21 = sizes("v00021.manifest")
    val allFullBytes = (1 to 30).map(v => s21 * v / 21).sum
    assert(actualBytes < allFullBytes / 2,
      s"log is $actualBytes bytes vs ~$allFullBytes all-full")
    // resolution is correct at checkpoint, mid-chain, and head
    assert(rows(dir, 17) === (1L to 17L).toSet)
    assert(rows(dir, 11) === (1L to 11L).toSet)
    assert(rows(dir, 30) === (1L to 30L).toSet)
    // vacuum at a DELTA boundary: v15's chain (v11 full + deltas) is
    // about to be deleted, so vacuum materializes v15 as a checkpoint
    SnapshotLog.vacuum(dir, retainFrom = 15, graceMillis = 0)
    assert(!isDelta(15), "retention boundary was not materialized")
    assert(rows(dir, 15) === (1L to 15L).toSet)
    assert(rows(dir, 16) === (1L to 16L).toSet, "chain through boundary")
    assert(rows(dir, 30) === (1L to 30L).toSet)
    val e = intercept[IllegalArgumentException] { rows(dir, 14) }
    assert(e.getMessage.contains("vacuumed or never committed"))
    // the log keeps working after: appends continue the chain
    val v31 = SnapshotLog.appendVersion(frame(Seq(31L)).coalesce(1), dir)
    assert(rows(dir, v31) === (1L to 31L).toSet)
  }

  test("rewrites on a schema-evolved store preserve the evolved column (never sampled away)") {
    // round-17 advice #1: compaction/COW delete/merge read the snapshot
    // with mergeSchema=false, so Spark could infer the schema from a
    // pre-evolution file and silently DROP the evolved column from the
    // rewritten version. All rewrite paths now merge file schemas.
    val dir = freshDir()
    SnapshotLog.appendVersion(
      Seq((1L, 10.0), (3L, 30.0)).toDF("k", "x").coalesce(1), dir)
    SnapshotLog.appendVersion(
      Seq((2L, 20.0, "b2"), (4L, 40.0, "b4")).toDF("k", "x", "note")
        .coalesce(1), dir)
    def noteMap(v: Int): Map[Long, Option[String]] =
      SnapshotLog.readVersion(spark, dir, v, mergeSchema = true)
        .select($"k", $"note").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // COMPACTION: the rewrite spans both schemas; note must survive
    val v3 = SnapshotLog.compactVersion(spark, dir, clusterBy = Some("k"))
    assert(noteMap(v3) === Map(1L -> None, 2L -> Some("b2"), 3L -> None,
      4L -> Some("b4")), "compaction dropped the evolved column")
    // COW DELETE whose touched set spans both schemas (fresh store:
    // overlapping key ranges force both files into the rewrite)
    val dir2 = freshDir()
    SnapshotLog.appendVersion(
      Seq((1L, 10.0), (3L, 30.0)).toDF("k", "x").coalesce(1), dir2)
    SnapshotLog.appendVersion(
      Seq((2L, 20.0, "n2"), (4L, 40.0, "n4")).toDF("k", "x", "note")
        .coalesce(1), dir2)
    val (v3b, rw, _) = SnapshotLog.deleteWhere(spark, dir2, "k", 3L, 3L)
    assert(rw === 2, s"overlapping ranges must rewrite both files, got $rw")
    val left = SnapshotLog.readVersion(spark, dir2, v3b, mergeSchema = true)
      .select($"k", $"note").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(left === Map(1L -> None, 2L -> Some("n2"), 4L -> Some("n4")),
      s"COW delete lost the evolved column: $left")
    // MERGE: extra columns ride the rewrite (kept/updated keep theirs,
    // inserts get NULL)
    val src = Seq((2L, 5.0, "upsert"), (99L, 9.0, "upsert"))
      .toDF("key", "amt", "action")
    val (v4b, _, _) = SnapshotLog.mergeInto(spark, dir2, src, "k", "x")
    val after = SnapshotLog.readVersion(spark, dir2, v4b, mergeSchema = true)
      .select($"k", $"x", $"note").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), Option(r.getString(2)))))
      .toMap
    assert(after(2L) === ((25.0, Some("n2"))),
      s"merge dropped the evolved column on an updated row: ${after(2L)}")
    assert(after(99L) === ((9.0, None)))
    assert(after(4L) === ((40.0, Some("n4"))))
  }

  test("z-order compaction: data skipping bites on BOTH columns; linear clustering only on one") {
    import spark.implicits._
    // a 32x32 uniform grid of independent (a, b) keys — the workload
    // where one-column clustering must choose which queries to serve
    val grid = for (a <- 0L until 32L; b <- 0L until 32L)
      yield (a * 100, b * 100, a * 32 + b)
    def build(): String = {
      val dir = freshDir()
      // interleaved appends: every file spans both full ranges
      (0 until 4).foreach(i => SnapshotLog.appendVersion(
        grid.filter(_._3 % 4 == i).map(t => (t._1, t._2))
          .toDF("a", "b").coalesce(1), dir))
      dir
    }
    def prune(dir: String, v: Int, c: String): (Int, Int, Set[(Long, Long)]) = {
      val (df, kept, total) = SnapshotLog.readVersionWhere(
        spark, dir, v, c, 0L, 700L) // first quarter of either dimension
      (kept, total, df.select($"a", $"b").as[(Long, Long)].collect().toSet)
    }
    val expectA = grid.collect { case (a, b, _) if a <= 700 => (a, b) }.toSet
    val expectB = grid.collect { case (a, b, _) if b <= 700 => (a, b) }.toSet
    // Z-ORDER: both dimensions prune below a full scan, rows exact
    val zdir = build()
    val vz = SnapshotLog.compactVersionZOrder(spark, zdir, "a", "b",
      targetBytes = 512L) // force several output files
    val (ka, ta, rowsA) = prune(zdir, vz, "a")
    val (kb, tb, rowsB) = prune(zdir, vz, "b")
    assert(ta >= 4 && tb >= 4, s"rewrite produced too few files ($ta)")
    assert(ka < ta, s"z-order did not prune on a: $ka/$ta")
    assert(kb < tb, s"z-order did not prune on b: $kb/$tb")
    assert(rowsA === expectA && rowsB === expectB,
      "z-ordered pruned reads diverged from the full scan")
    // LINEAR clusterBy(a): a prunes, b keeps EVERY file — the
    // counter-case that makes z-order worth its rewrite
    val ldir = build()
    val vl = SnapshotLog.compactVersion(spark, ldir,
      targetBytes = 512L, clusterBy = Some("a"))
    val (la, lta, lrowsA) = prune(ldir, vl, "a")
    val (lb, ltb, lrowsB) = prune(ldir, vl, "b")
    assert(la < lta, s"linear clustering must prune its own column: $la/$lta")
    assert(lb === ltb,
      s"linear clustering unexpectedly pruned the other column: $lb/$ltb")
    assert(lrowsA === expectA && lrowsB === expectB)
  }

  test("stats-planned ops read ranges from the LOG: zero footer opens; stripped headers fall back") {
    // the Delta stats-in-log idea: every commit records its added
    // files' long-column [min,max] as #range: manifest headers
    // (checkpoints carry the live map forward), so skipping reads,
    // COW/MoR deletes, and the merge probe plan from O(files) log TEXT
    // — at 100 TB, no per-operation storm of remote footer opens.
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(101L, 102L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(201L, 202L)).coalesce(1), dir)
    val (pruned, kept, total) = SnapshotLog.readVersionWhere(
      spark, dir, 3, "k", 100L, 150L)
    assert(kept === 1 && total === 3)
    assert(pruned.count() === 2)
    val (_, rw, _) = SnapshotLog.deleteWhere(spark, dir, "k", 201L, 201L)
    assert(rw === 1)
    SnapshotLog.deleteWhereMoR(spark, dir, "k", 1L, 1L)
    val src = Seq((102L, 5.0, "upsert"), (9999L, 7.0, "upsert"))
      .toDF("key", "amt", "action")
    val (v6, mrw, _) = SnapshotLog.mergeInto(spark, dir, src, "k", "x")
    assert(mrw === 1, s"merge probe touched $mrw files")
    assert(rows(dir, v6) === Set(2L, 3L, 101L, 102L, 202L, 9999L))
    // a store whose manifests carry no #range headers has no stats:
    // every file is read (kept = total) and the rows are unchanged
    val prunedRows = pruned.select($"k").as[Long].collect().toSet
    import scala.jdk.CollectionConverters._
    val ld = java.nio.file.Paths.get(dir, "_graft_log")
    val st = java.nio.file.Files.list(ld)
    try st.iterator().asScala
      .filter(_.toString.endsWith(".manifest")).foreach { p =>
        val kept = java.nio.file.Files.readAllLines(p).asScala
          .filterNot(_.startsWith("#range:"))
        java.nio.file.Files.write(p,
          (kept.mkString("\n") + "\n").getBytes("UTF-8"))
      }
    finally st.close()
    val (prunedL, keptL, totalL) = SnapshotLog.readVersionWhere(
      spark, dir, 3, "k", 100L, 150L)
    assert(keptL === 3 && totalL === 3,
      "a file without a stat must be read")
    assert(prunedL.select($"k").as[Long].collect().toSet === prunedRows,
      "the unpruned read diverged from the pruned one")
  }

  test("concurrent appends both land: unique staging + claim retry, no lost rows, no cross-attribution") {
    // appends commute (pure file additions), so a lost claim retries
    // against the new head instead of failing — 8 writers racing
    // pairwise; every append must land exactly once, in SOME order
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(0L)).coalesce(1), dir)
    (0 until 4).foreach { round =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 2).map { t =>
        val ks = Seq(100L * round + 10 + t)
        val th = new Thread(() => {
          start.await()
          try SnapshotLog.appendVersion(frame(ks).coalesce(1), dir)
          catch { case e: Throwable => errs.add(e) }
        })
        th.start(); th
      }
      start.countDown(); threads.foreach(_.join())
      assert(errs.isEmpty, s"round $round: a concurrent append failed: " +
        Option(errs.peek()).map(_.getMessage).getOrElse(""))
    }
    // 1 seed + 8 appends = 9 versions; every key present exactly once
    assert(SnapshotLog.versions(dir).size === 9)
    val expect = Set(0L) ++
      (for (r <- 0 until 4; t <- 0 until 2) yield 100L * r + 10 + t)
    assert(rows(dir, 9) === expect, "a concurrent append lost rows")
    // no cross-attribution: every version adds EXACTLY one file
    (2 to 9).foreach { v =>
      val prev = SnapshotLog.manifest(dir, v - 1).toSet
      val cur = SnapshotLog.manifest(dir, v).toSet
      assert((cur -- prev).size === 1 && (prev -- cur).isEmpty,
        s"version $v attribution: ${(cur -- prev).size} added")
    }
  }

  test("vacuum grace protects in-flight staged files; boundary materialization keeps its commit time") {
    // review #2: an unreferenced data file younger than the grace may
    // be a concurrent append's staged-but-uncommitted output — the
    // default grace must NOT delete it (the append's later commit
    // would point a committed version at missing files)
    val dir = freshDir()
    (1 to 12).foreach(i =>
      SnapshotLog.appendVersion(frame(Seq(i.toLong)).coalesce(1), dir))
    val staged = java.nio.file.Paths.get(dir, "append-v00013-ffff-p00000.parquet")
    java.nio.file.Files.write(staged, Array[Byte](1, 2, 3)) // fresh mtime
    SnapshotLog.vacuum(dir, retainFrom = 12) // default grace
    assert(java.nio.file.Files.exists(staged),
      "default-grace vacuum deleted a freshly staged file")
    // an old orphan at an ALREADY-COMMITTED version (a lost-claim
    // attempt's leftovers) is swept once past the grace
    val lost = java.nio.file.Paths.get(dir, "append-v00012-eeee-p00000.parquet")
    java.nio.file.Files.write(lost, Array[Byte](1, 2, 3))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600L * 1000)
    java.nio.file.Files.setLastModifiedTime(lost, old)
    java.nio.file.Files.setLastModifiedTime(staged, old)
    SnapshotLog.vacuum(dir, retainFrom = 12)
    assert(!java.nio.file.Files.exists(lost),
      "vacuum left a committed-version orphan older than the grace")
    // but a file whose embedded version is ABOVE the newest committed
    // version is NEVER swept, however old — it can only belong to an
    // in-flight writer, and vacuum(grace = 0) racing a live append
    // must not make the append's later commit reference missing files
    // (round-18 advice #3)
    assert(java.nio.file.Files.exists(staged),
      "vacuum deleted a possibly-in-flight future-version file")
    // once a later commit passes that version, the stale attempt is a
    // plain orphan and sweeps normally
    SnapshotLog.appendVersion(frame(Seq(99L)).coalesce(1), dir) // v13
    SnapshotLog.vacuum(dir, retainFrom = 12, graceMillis = 0)
    assert(!java.nio.file.Files.exists(staged),
      "vacuum left a stale attempt behind a committed version")
    // review #3: materializing a delta retention boundary must keep
    // the manifest's ORIGINAL mtime — it IS the commit time the feed
    // stamps on `_change_timestamp`
    val dir2 = freshDir()
    (1 to 15).foreach(i =>
      SnapshotLog.appendVersion(frame(Seq(i.toLong)).coalesce(1), dir2))
    val ld = java.nio.file.Paths.get(dir2, "_graft_log")
    (1 to 15).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        ld.resolve(f"v$v%05d.manifest"),
        java.nio.file.attribute.FileTime.fromMillis(v * 1000L))
    }
    SnapshotLog.vacuum(dir2, retainFrom = 14, graceMillis = 0) // delta boundary
    assert(SnapshotLog.commitTimeMillis(dir2, 14) === 14000L,
      "materialized boundary lost its commit time")
    assert(SnapshotLog.commitTimeMillis(dir2, 15) === 15000L)
  }

  test("q102's store replays: per-version sets equal the cumulative orders slices") {
    val dir = operators.Extras.timeTravelStore(spark, sf)
    val orders = Tables.orders(spark, sf)
      .select($"o_orderkey").as[Long].collect().toSet
    def expect(v: Int): Set[Long] =
      if (v >= 3) orders else orders.filter(_ % 3 < v)
    (1 to 4).foreach { v =>
      val got = SnapshotLog.readVersion(spark, dir, v)
        .select($"o_orderkey").as[Long].collect().toSet
      assert(got === expect(math.min(v, 3)), s"version $v row set")
    }
  }

  test("row-level CDC: DML commits write change files; the feed covers COW, MoR, and MERGE; vacuum keeps retained ones") {
    import graft.sources.ChangeFeed
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), dir)   // v1
    SnapshotLog.appendVersion(frame(Seq(101L, 102L)).coalesce(1), dir)   // v2
    SnapshotLog.deleteWhere(spark, dir, "k", 2L, 2L)                     // v3 COW
    SnapshotLog.deleteWhereMoR(spark, dir, "k", 102L, 102L)              // v4 MoR
    SnapshotLog.mergeInto(spark, dir,
      Seq((3L, 7.0, "upsert"), (101L, 0.0, "delete"), (9L, 90.0, "upsert"))
        .toDF("key", "amt", "action"), "k", "x")                         // v5
    // append versions carry no change files; every DML version does
    assert(SnapshotLog.cdcFiles(dir, 1).isEmpty &&
      SnapshotLog.cdcFiles(dir, 2).isEmpty)
    assert((3 to 5).forall(SnapshotLog.cdcFiles(dir, _).nonEmpty),
      "a DML commit wrote no change files")
    val feed = ChangeFeed.readBatch(spark, dir, fromVersion = 0)
      .select($"_change_version", $"_change_type", $"k", $"x")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(feed === Set(
      (1L, "insert", 1L, 10.0), (1L, "insert", 2L, 20.0),
      (1L, "insert", 3L, 30.0),
      (2L, "insert", 101L, 1010.0), (2L, "insert", 102L, 1020.0),
      (3L, "delete", 2L, 20.0),
      (4L, "delete", 102L, 1020.0),
      (5L, "update_preimage", 3L, 30.0),
      (5L, "update_postimage", 3L, 37.0),
      (5L, "delete", 101L, 1010.0),
      (5L, "insert", 9L, 90.0)), s"feed: $feed")
    // _change_timestamp rides every row = its version's commit mtime
    // — pinned on synthetic mtimes
    val ld = java.nio.file.Paths.get(dir, "_graft_log")
    (1 to 5).foreach(v => java.nio.file.Files.setLastModifiedTime(
      ld.resolve(f"v$v%05d.manifest"),
      java.nio.file.attribute.FileTime.fromMillis(v * 1000000L)))
    val stamped = ChangeFeed.readBatch(spark, dir, fromVersion = 0)
      .select($"_change_version", $"_change_timestamp".cast("long"))
      .distinct().as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(v => stamped(v) === v * 1000L),
      s"commit stamps: $stamped")
    // a byte-moving rewrite still feeds NOTHING (dataChange = false)
    SnapshotLog.compactVersion(spark, dir)                               // v6
    assert(ChangeFeed.readBatch(spark, dir, fromVersion = 5).isEmpty)
    // vacuum keeps the retained versions' change files and sweeps the
    // dropped versions' (they ride the manifest as per-version refs)
    SnapshotLog.vacuum(dir, retainFrom = 5, graceMillis = 0)
    val afterVac = ChangeFeed.readBatch(spark, dir, fromVersion = 4)
      .select($"_change_version", $"_change_type", $"k")
      .as[(Long, String, Long)].collect().toSet
    assert(afterVac === Set((5L, "update_preimage", 3L),
      (5L, "update_postimage", 3L), (5L, "delete", 101L),
      (5L, "insert", 9L)))
    val leftover = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("cdc-"))
    assert(leftover.forall(_.startsWith("cdc-v00005")),
      s"vacuum left dropped versions' change files: ${leftover.toSeq}")
  }

  test("change feed schema on an evolved store: union across the tailed range; pre-evolution batches NULL-fill") {
    import graft.sources.ChangeFeed
    val dir = freshDir()
    SnapshotLog.appendVersion(
      Seq((1L, 10.0)).toDF("k", "x").coalesce(1), dir)                 // v1
    SnapshotLog.appendVersion(
      Seq((2L, 20.0, "b")).toDF("k", "x", "y").coalesce(1), dir)       // v2
    // the schema rides the LOG (#schema header, O(1) text): v1 pins
    // the producer schema, v2 the evolved one
    assert(SnapshotLog.tableSchema(dir, 1).fieldNames.toSeq ===
      Seq("k", "x"))
    assert(SnapshotLog.tableSchema(dir, 2).fieldNames.toSeq ===
      Seq("k", "x", "y"))
    // the feed schema is the RANGE UNION, not whichever file sorts
    // first: the evolved column is always present, and a pre-evolution
    // batch reads NULL for it
    val feed = ChangeFeed.readBatch(spark, dir, fromVersion = 0)
    assert(feed.columns.toSeq ===
      Seq("k", "x", "y", "_change_type", "_change_version",
        "_change_timestamp"))
    val rows = feed.select($"_change_version", $"k", $"y")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(rows === Set((1L, 1L, None), (2L, 2L, Some("b"))))
    // a range that starts past the evolution still carries the column
    assert(ChangeFeed.readBatch(spark, dir, fromVersion = 1)
      .columns.contains("y"))
  }

  test("log maintenance is bounded: head read and vacuum pay O(checkpoint window) manifest reads on a 100-version store") {
    val dir = freshDir()
    (0 until 100).foreach(i => SnapshotLog.appendVersionForBatch(
      frame(Seq(i.toLong)).coalesce(1), dir, i.toLong))
    // FRESH-PROCESS cost: drop the parsed-manifest cache, then count
    // actual manifest FILE READS (not bytes — the r18 verdict ask)
    SnapshotLog.dropCachedManifests(dir)
    val r0 = SnapshotLog.manifestFileReads.get()
    assert(SnapshotLog.readVersion(spark, dir, 100).count() === 100L)
    val headReads = SnapshotLog.manifestFileReads.get() - r0
    assert(headReads <= 12,
      s"head read cost $headReads manifest reads on 100 versions " +
        "(must be <= the checkpoint window)")
    SnapshotLog.dropCachedManifests(dir)
    val r1 = SnapshotLog.manifestFileReads.get()
    SnapshotLog.vacuum(dir, retainFrom = 95, graceMillis = 0)
    val vacReads = SnapshotLog.manifestFileReads.get() - r1
    assert(vacReads <= 30,
      s"vacuum cost $vacReads manifest reads on 100 versions " +
        "(the BATCH_HWM persisted at commit time must spare the full walk)")
    assert(rows(dir, 100) === (0L until 100L).toSet)
    // the exactly-once no-op branch survives retention: the replayed
    // high-water batch serves the committed head, appends nothing
    val nv = SnapshotLog.versions(dir).max
    assert(SnapshotLog.appendVersionForBatch(
      frame(Seq(999L)).coalesce(1), dir, 99L) === nv)
    assert(SnapshotLog.versions(dir).max === nv)
  }

  test("rewrite re-plan: a delete racing a disjoint append retries and lands; conflicting histories fail loud") {
    // appends already auto-retry a lost claim; this pins the other
    // half (r18 verdict #5): a rewrite whose rival COMMUTES re-plans
    // and lands, anything else fails loud for a caller-level re-plan.
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), dir)   // [1,3]
    SnapshotLog.appendVersion(frame(Seq(101L, 102L)).coalesce(1), dir)   // [101,102]
    // rival 1: a DISJOINT append wins the claim inside the commit
    // window -> the delete re-plans onto the new head and lands
    SnapshotLog.onBeforeRewriteCommit = () => {
      SnapshotLog.onBeforeRewriteCommit = () => ()
      SnapshotLog.appendVersion(frame(Seq(201L, 202L)).coalesce(1), dir)
    }
    try {
      val (v, rewritten, _) = SnapshotLog.deleteWhere(spark, dir, "k", 2L, 2L)
      assert(v === 4 && rewritten === 1,
        "delete racing a disjoint append must land after one re-plan")
    } finally SnapshotLog.onBeforeRewriteCommit = () => ()
    assert(rows(dir, 4) === Set(1L, 3L, 101L, 102L, 201L, 202L),
      "the re-planned delete lost the interleaved append or a row")
    // rival 2: an OVERLAPPING append (rows inside the delete range)
    // does NOT commute -> fail loud, nothing committed
    SnapshotLog.onBeforeRewriteCommit = () => {
      SnapshotLog.onBeforeRewriteCommit = () => ()
      SnapshotLog.appendVersion(frame(Seq(102L)).coalesce(1), dir)
    }
    val e1 = try intercept[IllegalArgumentException] {
      SnapshotLog.deleteWhere(spark, dir, "k", 101L, 105L)
    } finally SnapshotLog.onBeforeRewriteCommit = () => ()
    assert(e1.getMessage.contains("may contain rows matching"))
    val headAfter = SnapshotLog.latestVersion(dir)
    assert(rows(dir, headAfter).contains(102L),
      "the failed delete must leave the winner's append intact")
    // rival 3: a racing DELETE that rewrote this delete's touched
    // file -> write-write conflict, fail loud
    SnapshotLog.onBeforeRewriteCommit = () => {
      SnapshotLog.onBeforeRewriteCommit = () => ()
      SnapshotLog.deleteWhere(spark, dir, "k", 101L, 101L)
    }
    val e2 = try intercept[IllegalArgumentException] {
      SnapshotLog.deleteWhere(spark, dir, "k", 102L, 102L)
    } finally SnapshotLog.onBeforeRewriteCommit = () => ()
    assert(e2.getMessage.contains("rewrote files"))
    // the inner rival committed; the loser changed nothing
    val head = SnapshotLog.latestVersion(dir)
    assert(!rows(dir, head).contains(101L) && rows(dir, head).contains(102L))
  }

  test("typed stats-in-log: timestamp/string/double probes prune with zero footer opens; stripped headers fall back; truncated string bounds stay sound") {
    // round-19 verdict #1: long-only stats silently degraded every
    // timestamp/string/double predicate to a conservative full read.
    // Now #tstat: headers carry them (ts = epoch micros, dbl = exact
    // text, str = 32-char truncation with a bumped upper bound).
    val dir = freshDir()
    val prevTs = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try {
      def tf(rs: Seq[(Long, Long, String, Double)]) =
        rs.toDF("k", "tm", "s", "d")
          .withColumn("t", timestamp_micros($"tm")).drop("tm")
          .withColumn("m", $"d".cast("decimal(10,2)"))
      SnapshotLog.appendVersion(tf(Seq(
        (1L, 1000000L, "apple", 1.0),
        (2L, 2000000L, "banana", 2.0))).coalesce(1), dir)
      SnapshotLog.appendVersion(tf(Seq(
        (3L, 10000000L, "melon", 10.0),
        (4L, 11000000L, "peach", 11.0))).coalesce(1), dir)
      SnapshotLog.appendVersion(tf(Seq(
        (5L, 20000000L, "watermelon", 20.0),
        (6L, 21000000L, "zucchini", 21.0))).coalesce(1), dir)
      // a file of LONG strings sharing a 40-char prefix: its stored
      // bounds are truncated/bumped, still sound
      val longStr = "a" * 40
      SnapshotLog.appendVersion(tf(Seq(
        (7L, 30000000L, longStr, 30.0))).coalesce(1), dir)
      val (dt, kt, tt) = SnapshotLog.readVersionWhereTs(
        spark, dir, 4, "t", 10000000L, 12000000L)
      assert(kt === 1 && tt === 4)
      assert(dt.select($"k").as[Long].collect().toSet === Set(3L, 4L))
      val (ds, ks, ts) = SnapshotLog.readVersionWhereStr(
        spark, dir, 4, "s", "m", "q")
      assert(ks === 1 && ts === 4)
      assert(ds.select($"k").as[Long].collect().toSet === Set(3L, 4L))
      val (dd, kd, td) = SnapshotLog.readVersionWhereDbl(
        spark, dir, 4, "d", 9.5, 11.5)
      assert(kd === 1 && td === 4)
      assert(dd.select($"k").as[Long].collect().toSet === Set(3L, 4L))
      val (dm, km, tm) = SnapshotLog.readVersionWhereDec(
        spark, dir, 4, "m",
        new java.math.BigDecimal("9.50"), new java.math.BigDecimal("11.50"))
      assert(km === 1 && tm === 4)
      assert(dm.select($"k").as[Long].collect().toSet === Set(3L, 4L))
      // truncated bounds: ["b","c"] must PRUNE the long-string file
      // (its bumped max "a"*31+"b" < "b"), a range crossing the real
      // values must KEEP it and read the right rows
      val (_, kp, _) = SnapshotLog.readVersionWhereStr(
        spark, dir, 4, "s", "b", "c")
      assert(kp === 1, "banana's file only") // file A has banana
      val (dl, kl, _) = SnapshotLog.readVersionWhereStr(
        spark, dir, 4, "s", "a" * 33, "a" * 45)
      assert(kl === 1)
      assert(dl.select($"k").as[Long].collect().toSet === Set(7L))
      assert(SnapshotLog.bumpedUpperBound("a" * 40) === Some("a" * 31 + "b"))
      assert(SnapshotLog.bumpedUpperBound("\uffff" * 40) === None)
      // no #tstat: headers -> no typed stats: every file is read
      // (kept = total) and the rows are unchanged
      import scala.jdk.CollectionConverters._
      val ld = java.nio.file.Paths.get(dir, "_graft_log")
      val st = java.nio.file.Files.list(ld)
      try st.iterator().asScala
        .filter(_.toString.endsWith(".manifest")).foreach { p =>
          val kept = java.nio.file.Files.readAllLines(p).asScala
            .filterNot(_.startsWith("#tstat:"))
          java.nio.file.Files.write(p,
            (kept.mkString("\n") + "\n").getBytes("UTF-8"))
        }
      finally st.close()
      val (dtl, ktl, ttl) = SnapshotLog.readVersionWhereTs(
        spark, dir, 4, "t", 10000000L, 12000000L)
      val (dsl, ksl, _) = SnapshotLog.readVersionWhereStr(
        spark, dir, 4, "s", "m", "q")
      val (ddl, kdl, _) = SnapshotLog.readVersionWhereDbl(
        spark, dir, 4, "d", 9.5, 11.5)
      val (dml, kml, _) = SnapshotLog.readVersionWhereDec(
        spark, dir, 4, "m",
        new java.math.BigDecimal("9.50"), new java.math.BigDecimal("11.50"))
      assert(ttl === 4 && ktl === 4 && ksl === 4 && kdl === 4 && kml === 4,
        "a file without a stat must be read")
      Seq(dtl, dsl, ddl, dml).foreach(d =>
        assert(d.select($"k").as[Long].collect().toSet === Set(3L, 4L),
          "the unpruned read diverged from the pruned one"))
    } finally prevTs match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("merge re-plan: racing a disjoint append lands; an in-hull append or racing delete fails loud") {
    // round-19 verdict #3: deletes already re-planned; a merge losing
    // its claim to an append DISJOINT from the source-key hull now
    // lands too, and everything else still fails loud.
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(101L, 102L)).coalesce(1), dir)
    SnapshotLog.onBeforeRewriteCommit = () => {
      SnapshotLog.onBeforeRewriteCommit = () => ()
      SnapshotLog.appendVersion(frame(Seq(201L, 202L)).coalesce(1), dir)
    }
    try {
      val src = Seq((102L, 5.0, "upsert"), (105L, 7.0, "upsert"))
        .toDF("key", "amt", "action") // hull [102,105]: 201+ disjoint
      val (v, rw, _) = SnapshotLog.mergeInto(spark, dir, src, "k", "x")
      assert(v === 4 && rw === 1,
        "merge racing a disjoint append must land after one re-plan")
    } finally SnapshotLog.onBeforeRewriteCommit = () => ()
    assert(rows(dir, 4) === Set(1L, 2L, 3L, 101L, 102L, 105L, 201L, 202L),
      "the re-planned merge lost the interleaved append or a row")
    val bal102 = SnapshotLog.readVersion(spark, dir, 4)
      .filter($"k" === 102L).select($"x").as[Double].head()
    assert(bal102 === 102L * 10.0 + 5.0, "merge update lost on re-plan")
    // rival INSIDE the hull: fail loud, nothing committed by the loser
    SnapshotLog.onBeforeRewriteCommit = () => {
      SnapshotLog.onBeforeRewriteCommit = () => ()
      SnapshotLog.appendVersion(frame(Seq(103L)).coalesce(1), dir)
    }
    val e = try intercept[IllegalArgumentException] {
      SnapshotLog.mergeInto(spark, dir,
        Seq((102L, 1.0, "upsert"), (105L, 1.0, "upsert"))
          .toDF("key", "amt", "action"), "k", "x")
    } finally SnapshotLog.onBeforeRewriteCommit = () => ()
    assert(e.getMessage.contains("may contain rows matching"))
    assert(rows(dir, SnapshotLog.latestVersion(dir)).contains(103L))
    // rival DELETE rewrote a touched file: write-write conflict
    SnapshotLog.onBeforeRewriteCommit = () => {
      SnapshotLog.onBeforeRewriteCommit = () => ()
      SnapshotLog.deleteWhere(spark, dir, "k", 101L, 101L)
    }
    val e2 = try intercept[IllegalArgumentException] {
      SnapshotLog.mergeInto(spark, dir,
        Seq((102L, 1.0, "upsert")).toDF("key", "amt", "action"), "k", "x")
    } finally SnapshotLog.onBeforeRewriteCommit = () => ()
    assert(e2.getMessage.contains("rewrote files"))
  }

  test("compaction re-plan: racing an append lands (appends always commute); a racing MoR delete fails loud") {
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L)).coalesce(1), dir)
    SnapshotLog.appendVersion(frame(Seq(3L, 4L)).coalesce(1), dir)
    SnapshotLog.onBeforeRewriteCommit = () => {
      SnapshotLog.onBeforeRewriteCommit = () => ()
      SnapshotLog.appendVersion(frame(Seq(99L)).coalesce(1), dir)
    }
    val v = try SnapshotLog.compactVersion(spark, dir)
            finally SnapshotLog.onBeforeRewriteCommit = () => ()
    assert(v === 4, "compaction racing an append must land after one re-plan")
    assert(rows(dir, 4) === Set(1L, 2L, 3L, 4L, 99L),
      "the re-planned compaction lost the interleaved append or a row")
    // every pre-race version still reads (history intact through the
    // re-planned rewrite)
    assert(rows(dir, 2) === Set(1L, 2L, 3L, 4L))
    // racing MoR delete: the compacted output predates the vector ->
    // committing would resurrect the deleted row; fail loud
    SnapshotLog.onBeforeRewriteCommit = () => {
      SnapshotLog.onBeforeRewriteCommit = () => ()
      SnapshotLog.deleteWhereMoR(spark, dir, "k", 99L, 99L)
    }
    val e = try intercept[IllegalArgumentException] {
      SnapshotLog.compactVersion(spark, dir)
    } finally SnapshotLog.onBeforeRewriteCommit = () => ()
    assert(e.getMessage.contains("MoR delete"))
    assert(!rows(dir, SnapshotLog.latestVersion(dir)).contains(99L),
      "the rival MoR delete must stand; the loser changed nothing")
  }

  test("column mapping: rename reads history through the new name; drop hides; re-add cannot resurrect; feed carries the latest names") {
    import graft.sources.ChangeFeed
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L)).coalesce(1), dir)      // v1 (k, x)
    assert(SnapshotLog.renameColumn(spark, dir, "x", "y") === 2)        // v2
    SnapshotLog.appendVersion(
      Seq((3L, 30.0)).toDF("k", "y").coalesce(1), dir)                  // v3 (physical x)
    val head = SnapshotLog.readVersion(spark, dir, 3)
    assert(head.columns.toSeq === Seq("k", "y"))
    assert(head.select($"k", $"y").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "pre-rename data must read through the new name with data intact")
    // time travel reads each version under its OWN schema
    assert(SnapshotLog.readVersion(spark, dir, 1).columns.toSeq
      === Seq("k", "x"))
    // stats keep biting through the rename (they key the PHYSICAL)
    val (dw, kept, total) = SnapshotLog.readVersionWhereDbl(
      spark, dir, 3, "y", 25.0, 35.0)
    assert(kept === 1 && total === 2)
    assert(dw.select($"k").as[Long].collect().toSet === Set(3L))
    // DML keeps working after the rename, and its CDC rides the feed
    SnapshotLog.deleteWhere(spark, dir, "k", 2L, 2L)                    // v4
    // DROP hides the column; files keep it (v3 still reads it)
    assert(SnapshotLog.dropColumn(spark, dir, "y") === 5)               // v5
    assert(SnapshotLog.readVersion(spark, dir, 5).columns.toSeq === Seq("k"))
    assert(SnapshotLog.readVersion(spark, dir, 3).columns.toSeq
      === Seq("k", "y"), "time travel must still read the dropped column")
    // the feed over (0, 5] surfaces EVERY generation's files under the
    // LATEST logical name: v1's physical-x rows AND v4's CDC delete
    // preimage come back as 'y'
    val feed = ChangeFeed.readBatch(spark, dir, fromVersion = 0)
    assert(feed.columns.contains("y") && !feed.columns.contains("x"))
    val ev = feed.select($"_change_version", $"_change_type", $"k", $"y")
      .as[(Long, String, Long, Option[Double])].collect().toSet
    assert(ev === Set(
      (1L, "insert", 1L, Some(10.0)), (1L, "insert", 2L, Some(20.0)),
      (3L, "insert", 3L, Some(30.0)),
      (4L, "delete", 2L, Some(20.0))),
      s"feed rows under the renamed column diverged: $ev")
    // RE-ADD under the same name: a fresh physical — dropped data can
    // never resurrect
    SnapshotLog.appendVersion(
      Seq((9L, 99.5)).toDF("k", "y").coalesce(1), dir)                  // v6
    val re = SnapshotLog.readVersion(spark, dir, 6)
    assert(re.columns.toSeq === Seq("k", "y"))
    assert(re.select($"k", $"y").as[(Long, Option[Double])].collect().toMap
      === Map(1L -> None, 3L -> None, 9L -> Some(99.5)),
      "re-added column must NOT resurrect dropped values")
    // a feed range SPANNING the drop + re-add holds two physicals
    // under one name — fail loud with the split escape hatch
    val e = intercept[Exception] {
      ChangeFeed.readBatch(spark, dir, fromVersion = 0).schema
    }
    assert(e.getMessage != null && e.getMessage.contains("drop + re-add"),
      s"conflicting generations must fail loud, got: ${e.getMessage}")
    // ...and the post-re-add range reads cleanly under the new physical
    val feed6 = ChangeFeed.readBatch(spark, dir, fromVersion = 5)
      .select($"_change_version", $"_change_type", $"k", $"y")
      .as[(Long, String, Long, Option[Double])].collect().toSet
    assert(feed6 === Set((6L, "insert", 9L, Some(99.5))))
  }

  test("change-feed predicate skipping: range-disjoint change files are never planned; rows match the filtered full feed") {
    import graft.sources.ChangeFeed
    val dir = freshDir()
    SnapshotLog.appendVersion(frame(Seq(1L, 2L, 3L)).coalesce(1), dir)   // v1
    SnapshotLog.appendVersion(frame(Seq(101L, 102L)).coalesce(1), dir)   // v2
    SnapshotLog.appendVersion(frame(Seq(201L, 202L)).coalesce(1), dir)   // v3
    SnapshotLog.deleteWhere(spark, dir, "k", 101L, 101L)                 // v4 cdc
    SnapshotLog.mergeInto(spark, dir,                                    // v5 cdc
      Seq((201L, 5.0, "upsert")).toDF("key", "amt", "action"), "k", "x")
    val head = SnapshotLog.latestVersion(dir)
    val planned = ChangeFeed.plannedEntries(dir, 0, head,
      Some(("k", 100L, 150L)))
    val keptAppends = planned.collect { case (v, _, false, true) => v }
    val keptCdc = planned.collect { case (v, _, true, true) => v }.toSet
    val prunedCdc = planned.collect { case (v, _, true, false) => v }.toSet
    assert(keptAppends === Seq(2), s"planned appends: $planned")
    assert(keptCdc === Set(4) && prunedCdc === Set(5),
      s"cdc pruning off the manifest stats failed: $planned")
    // the pruned ranged read equals the full feed filtered to the range
    val pruned = ChangeFeed.readBatchWhere(spark, dir, 0, "k", 100L, 150L)
      .select($"_change_version", $"_change_type", $"k")
      .as[(Long, String, Long)].collect().toSet
    val full = ChangeFeed.readBatch(spark, dir, 0)
      .filter($"k".between(100L, 150L))
      .select($"_change_version", $"_change_type", $"k")
      .as[(Long, String, Long)].collect().toSet
    assert(pruned === full && pruned.nonEmpty,
      "feed pruning changed the ranged result")
  }
}
