package graft.datapipe

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index lifecycle — the serving-side shape of s03/s15's
  * coarse quantizer, [[IncrementalDedup]]'s pattern applied to ANN:
  * an index is TRAINED once (centroids frozen) and then INGESTS new
  * vectors continuously; retraining is a deliberate, monitored event
  * (s18's drift report is the trigger), not something every batch pays.
  *
  * The store holds two frames under one root:
  *   `<path>/centroids` — (cell, centroid float array), K tiny rows;
  *   `<path>/assign`    — (vec_id, cell), one row per ingested vector.
  *
  * Ingestion is MAP-ONLY: the frozen centroid row broadcasts and each
  * new vector pays one codegen'd argmax ([[graft.functions.NearestCentroid]]
  * via Similarity.assignCells) — no shuffle of embedding payloads, no
  * touch of the existing assignment rows. Appends are idempotent behind
  * a left-anti on vec_id (the O9 upsert pattern): a retried or
  * overlapping batch inserts zero rows. At 100 TB the assign frame is
  * the only thing that grows, it carries 16 B/vector, and a posting-list
  * consumer reads it partitioned/clustered by cell
  * (SnapshotLog.compactVersion's clusterBy) so cell probes prune row groups.
  *
  * Centroid training uses Similarity.lloydCentroids — s05's
  * exact-decimal convention — from the deterministic vec_id % 8
  * seeding, so the whole lifecycle is oracle-reproducible.
  */
object VectorIndex {
  private val K = 8

  /** Frozen-centroid assignment of a (vec_id, embedding) frame. */
  private def assignAgainst(emb: DataFrame, cents: DataFrame): DataFrame =
    Similarity.assignCells(emb, Similarity.centroidRow(cents), "cell")
      .select(col("vec_id"), col("cell"))

  /** Train centroids on a seed frame: one Lloyd step from %K seeding. */
  private[graft] def trainCentroids(seed: DataFrame): DataFrame =
    Similarity.lloydCentroids(seed.withColumn("cell", col("vec_id") % K))

  // ===== physical store API =====

  /** Create/replace the index at `path` from a seed corpus: train the
    * centroids, assign every seed vector, write both frames. */
  def buildIndex(emb: DataFrame, path: String): Unit = {
    val cents = trainCentroids(emb).localCheckpoint()
    cents.write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    assignAgainst(emb, cents)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/assign")
  }

  /** Ingest a batch against the FROZEN stored centroids and append its
    * assignments idempotently (left-anti on vec_id — a retried batch
    * inserts zero; a re-ingested vector keeps its first assignment,
    * which is also its current one: centroids are frozen). Within-batch
    * duplicates collapse to one decision per vec_id BEFORE the
    * anti-join (the O9 within-batch `dropDuplicates("date")` precedent;
    * the store invariant is one assign row per id, and the store-level
    * anti-join alone cannot see two copies arriving in the same batch).
    * Returns the batch's (vec_id, cell) decisions — checkpointed
    * pre-append, so the returned frame can never silently recompute
    * against the mutated store. */
  def addBatch(batch: DataFrame, path: String): DataFrame = {
    val s = batch.sparkSession
    val cents = s.read.parquet(s"$path/centroids")
    val dec = assignAgainst(batch, cents)
      .dropDuplicates("vec_id").localCheckpoint()
    dec.join(s.read.parquet(s"$path/assign").select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      .write.mode(SaveMode.Append).parquet(s"$path/assign")
    dec
  }

  /** Delete vectors from the index — the right-to-be-forgotten path a
    * training-data deployment cannot skip (takedowns, GDPR erasure,
    * contamination purges). Deletion is TOMBSTONES, not rewrites: the
    * assign frame is append-only at corpus scale, so deletes land as an
    * idempotent append to `<path>/tombstones` (anti-join — a retried
    * delete inserts zero) and readers subtract via [[liveAssign]].
    * Ids need not exist in the index; a tombstone for an absent id is
    * harmless and covers the not-yet-ingested case (delete-before-add:
    * the tombstone still wins at read time). Deletion is FINAL until
    * [[compact]]: re-ingesting a tombstoned vector is blocked from the
    * live view (the anti-join keeps its assign row, the tombstone
    * keeps it dead) — revival requires compact-then-add, a deliberate
    * operator action, exactly the conservative default an erasure
    * obligation wants.
    */
  def removeBatch(ids: DataFrame, path: String): Unit = {
    val s = ids.sparkSession
    val dec = ids.select(col("vec_id")).distinct().localCheckpoint()
    val t0 =
      if (graft.weather.WeatherIngest.sinkExists(s, s"$path/tombstones"))
        s.read.parquet(s"$path/tombstones")
      else dec.limit(0)
    dec.join(t0, Seq("vec_id"), "left_anti")
      .write.mode(SaveMode.Append).parquet(s"$path/tombstones")
  }

  /** The index's live (vec_id, cell) view: assignments minus
    * tombstones — what every probe consumes. One anti-join on the
    * single long key; with no tombstone frame, the assign frame
    * passes through untouched. */
  def liveAssign(s: SparkSession, path: String): DataFrame = {
    val assign = s.read.parquet(s"$path/assign")
    if (graft.weather.WeatherIngest.sinkExists(s, s"$path/tombstones"))
      assign.join(s.read.parquet(s"$path/tombstones"),
        Seq("vec_id"), "left_anti")
    else assign
  }

  /** Fold tombstones into the assign frame (the GC pass a deployment
    * schedules off-peak once dead fraction crosses a threshold —
    * s20's report is the trigger): materialize the live view at a
    * SIBLING path, swap it over assign with two FileSystem renames,
    * then drop the tombstone frame. The write never targets a path the
    * plan reads, and no step relies on executor-local checkpoint
    * blocks, so at every instant at least one complete durable copy of
    * the live view exists on storage: during the temp write the old
    * assign is untouched; between the renames BOTH `assign.old` and
    * the temp copy are durable (recovery from a crash in that window =
    * rename either back); after the swap the new assign is durable. A
    * crash before the final tombstone delete leaves tombstones whose
    * assign rows are already gone — [[liveAssign]]'s anti-join ignores
    * them and the next compact clears them. A leftover temp/old dir
    * from a crashed run is cleared up front. */
  def compact(s: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val assign = new Path(s"$path/assign")
    val tmp = new Path(s"$path/assign.compacting")
    val old = new Path(s"$path/assign.old")
    val tombs = new Path(s"$path/tombstones")
    val fs = assign.getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(tmp, true); fs.delete(old, true)
    liveAssign(s, path).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.rename(assign, old)
    fs.rename(tmp, assign)
    fs.delete(old, true)
    fs.delete(tombs, true)
  }

  // ===== oracle-checked query =====

  /** Deterministic two-phase split of `embeddings`: the index is built
    * from vec_id % 3 != 0 (train + assign); the batch vec_id % 3 == 0
    * arrives later and is assigned against the FROZEN centroids. */
  private def seedSet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T.embeddings(s, d).select($"vec_id", $"embedding")
      .filter($"vec_id" % 3 =!= 0)
  }

  private def batchSet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T.embeddings(s, d).select($"vec_id", $"embedding")
      .filter($"vec_id" % 3 === 0)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-cell occupancy report after an incremental ingest — the
    // capacity-planning view an index operator watches: how the new
    // mass distributes over the frozen cells (a cell absorbing a far
    // larger share of NEW vectors than of seed vectors is the one the
    // corpus drifted toward — the same signal s18 reads from centroid
    // movement, here from the serving side without any retrain).
    // Query form is side-effect-free (both assignment frames derive
    // in-plan, so the oracle replays them); the physical parquet round
    // trip of the SAME assignment function is buildIndex/addBatch,
    // pinned by VectorIndexSpec (build → add → re-add inserts zero,
    // decisions equal this query's cells). Scale shape: train shuffles
    // (cell, pos, long) partials on the seed only; BOTH assignment
    // passes are map-only against the broadcast centroid row; the
    // report aggregates (cell) longs — K rows out.
    "s19_incremental_index" -> { (s, d) =>
      import s.implicits._
      val cents = trainCentroids(seedSet(s, d)).localCheckpoint()
      val cRow = Similarity.centroidRow(cents)
      val nSeed = Similarity.assignCells(seedSet(s, d), cRow, "cell")
        .groupBy($"cell").agg(count(lit(1)).as("n_seed"))
      val nNew = Similarity.assignCells(batchSet(s, d), cRow, "cell")
        .groupBy($"cell").agg(count(lit(1)).as("n_new"))
      cents.select($"cell")
        .join(nSeed, Seq("cell"), "left")
        .join(nNew, Seq("cell"), "left")
        .select($"cell",
          coalesce($"n_seed", lit(0L)).as("n_seed"),
          coalesce($"n_new", lit(0L)).as("n_new"))
        .withColumn("n_total", $"n_seed" + $"n_new")
        .withColumn("new_frac", $"n_new" / $"n_total".cast("double"))
        .orderBy($"cell")
    },

    // Tombstone/GC report — the view that schedules [[compact]]: after
    // the s19 lifecycle (seed build + batch add) a delete list arrives
    // (every vec_id % 5 == 0 — overlapping both ingest phases, the
    // realistic shape of a takedown that doesn't care when a vector
    // arrived); per cell the report reads total/dead/live counts and
    // the live fraction — the cell whose dead mass is largest is where
    // compaction pays first, and the corpus-wide dead fraction is the
    // GC trigger. Query form is side-effect-free (one aggregate over
    // the in-plan union of both assignment passes; the tombstone test
    // is an integer predicate, no join needed when the delete rule is
    // expressible — the PHYSICAL tombstone anti-join round trip is
    // pinned in VectorIndexSpec); scale shape: the same two map-only
    // assignment passes as s19 + one (cell) aggregate of longs.
    "s20_index_tombstones" -> { (s, d) =>
      import s.implicits._
      val cents = trainCentroids(seedSet(s, d)).localCheckpoint()
      val cRow = Similarity.centroidRow(cents)
      val assigned = Similarity.assignCells(seedSet(s, d), cRow, "cell")
        .unionByName(Similarity.assignCells(batchSet(s, d), cRow, "cell"))
        .select($"vec_id", $"cell")
      val counts = assigned.groupBy($"cell")
        .agg(count(lit(1)).as("n_total"),
             sum(when($"vec_id" % 5 === 0, 1L).otherwise(0L)).as("n_dead"))
      cents.select($"cell")
        .join(counts, Seq("cell"), "left")
        .select($"cell",
          coalesce($"n_total", lit(0L)).as("n_total"),
          coalesce($"n_dead", lit(0L)).as("n_dead"))
        .withColumn("n_live", $"n_total" - $"n_dead")
        .withColumn("live_frac", $"n_live" / $"n_total".cast("double"))
        .orderBy($"cell")
    },

    // RECALL UNDER DELETION — the serving-quality half of the s20 GC
    // report: after the full lifecycle (seed train + batch add + the
    // vec_id % 5 takedown) the centroids are STALE — trained on mass
    // that includes since-deleted vectors — and the question a serving
    // owner asks before scheduling a retrain is whether live recall
    // degraded. Queries are the family's fixed phash-ordered NQ=32
    // sample drawn from LIVE vectors; candidates are live members of
    // the top-2 probed cells (s15's exact-cosine probe rule against
    // the stale quantizer); truth is the exact cosine top-10 over the
    // LIVE corpus. n_dead_pruned counts the dead vectors the probe
    // WOULD have served pre-deletion — the candidate mass the takedown
    // removed (the leak count is structurally zero: the live view
    // filters before candidates form, and the oracle recomputes that
    // same semantics independently). Scale shape: s15's — two map-only
    // assignment passes, one brute-force truth scan over the live
    // slice, control-frame probes.
    "s28_deletion_recall" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.CosineSim.cosine_sim
      val cents = trainCentroids(seedSet(s, d)).localCheckpoint()
      val cRow = Similarity.centroidRow(cents)
      val assigned = Similarity.assignCells(seedSet(s, d), cRow, "cell")
        .unionByName(Similarity.assignCells(batchSet(s, d), cRow, "cell"))
        .select($"vec_id", $"cell")
      val liveEmb = T.embeddings(s, d).select($"vec_id", $"embedding")
        .filter(size($"embedding") > 0 && $"vec_id" % 5 =!= 0)
      val qs0 = liveEmb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(32) // the eval family's fixed-size deterministic sample
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        .localCheckpoint()
      val qcells = qs0.crossJoin(broadcast(cRow))
        .select($"q_id", $"q_emb", explode($"cents").as("c"))
        .withColumn("cos", cosine_sim($"q_emb", $"c.centroid"))
        .withColumn("rn", row_number().over(Window.partitionBy($"q_id")
          .orderBy(isnan($"cos").asc, $"cos".desc, $"c.cell".asc)))
        .filter($"rn" <= 2)
        .select($"q_id", $"c.cell".as("pcell"))
      val probed = assigned
        .join(broadcast(qcells), $"cell" === $"pcell" && $"vec_id" =!= $"q_id")
      val cand = probed.filter($"vec_id" % 5 =!= 0)
        .select($"q_id", $"vec_id")
      val deadPruned = probed.filter($"vec_id" % 5 === 0)
        .agg(count(lit(1)).as("n_dead_pruned"))
      val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      val exact10 = liveEmb.join(broadcast(qs0), $"vec_id" =!= $"q_id")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .filter(!isnan($"cosine"))
        .select($"q_id", $"vec_id", $"cosine")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .select($"q_id", $"vec_id")
        .localCheckpoint() // <= NQ×10 rows; truth runs ONCE
      exact10.join(cand, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(qs0.agg(count(lit(1)).as("n_q"))))
        .crossJoin(broadcast(exact10.agg(count(lit(1)).as("n_truth"))))
        .crossJoin(broadcast(deadPruned))
        .select(lit("live_nprobe_2").as("method"), $"n_q", $"n_truth",
          $"hits", $"n_cand",
          ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
          ($"n_cand" / $"n_q".cast("double")).as("avg_candidates"),
          $"n_dead_pruned")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "s19_incremental_index" ->
      s"""WITH seedemb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0),
         |batchemb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
         |m AS (
         |  SELECT a.cell, u.i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(round(u.v * 1e8) AS BIGINT)) AS DOUBLE)
         |         / COUNT(*) / 1e8 AS REAL) AS m
         |  FROM (SELECT vec_id, vec_id % $K AS cell FROM seedemb) a JOIN (
         |    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
         |      unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |    FROM seedemb) u USING (vec_id)
         |  GROUP BY 1, 2),
         |cent AS (SELECT cell, list(m ORDER BY pos) AS centroid
         |         FROM m GROUP BY cell),
         |aseed AS (${Similarity.assignSql("cent", "seedemb")}),
         |abatch AS (${Similarity.assignSql("cent", "batchemb")}),
         |ns AS (SELECT cell, COUNT(*) AS n_seed FROM aseed GROUP BY cell),
         |nn AS (SELECT cell, COUNT(*) AS n_new FROM abatch GROUP BY cell)
         |SELECT c.cell, COALESCE(ns.n_seed, 0) AS n_seed,
         |  COALESCE(nn.n_new, 0) AS n_new,
         |  COALESCE(ns.n_seed, 0) + COALESCE(nn.n_new, 0) AS n_total,
         |  COALESCE(nn.n_new, 0) /
         |    CAST(COALESCE(ns.n_seed, 0) + COALESCE(nn.n_new, 0) AS DOUBLE)
         |    AS new_frac
         |FROM cent c LEFT JOIN ns USING (cell) LEFT JOIN nn USING (cell)
         |ORDER BY c.cell""".stripMargin,

    "s20_index_tombstones" ->
      s"""WITH seedemb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0),
         |batchemb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
         |m AS (
         |  SELECT a.cell, u.i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(round(u.v * 1e8) AS BIGINT)) AS DOUBLE)
         |         / COUNT(*) / 1e8 AS REAL) AS m
         |  FROM (SELECT vec_id, vec_id % $K AS cell FROM seedemb) a JOIN (
         |    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
         |      unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |    FROM seedemb) u USING (vec_id)
         |  GROUP BY 1, 2),
         |cent AS (SELECT cell, list(m ORDER BY pos) AS centroid
         |         FROM m GROUP BY cell),
         |aseed AS (${Similarity.assignSql("cent", "seedemb")}),
         |abatch AS (${Similarity.assignSql("cent", "batchemb")}),
         |au AS (SELECT * FROM aseed UNION ALL SELECT * FROM abatch),
         |cc AS (
         |  SELECT cell, COUNT(*) AS n_total,
         |    CAST(SUM(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_dead
         |  FROM au GROUP BY cell)
         |SELECT c.cell, COALESCE(cc.n_total, 0) AS n_total,
         |  COALESCE(cc.n_dead, 0) AS n_dead,
         |  COALESCE(cc.n_total, 0) - COALESCE(cc.n_dead, 0) AS n_live,
         |  (COALESCE(cc.n_total, 0) - COALESCE(cc.n_dead, 0))
         |    / CAST(COALESCE(cc.n_total, 0) AS DOUBLE) AS live_frac
         |FROM cent c LEFT JOIN cc USING (cell)
         |ORDER BY c.cell""".stripMargin,

    // s28: the s19/s20 lifecycle CTEs + s15's probe/truth shape over
    // the live slice against the stale seed-trained quantizer.
    "s28_deletion_recall" ->
      s"""WITH seedemb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0),
         |batchemb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
         |m AS (
         |  SELECT a.cell, u.i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(round(u.v * 1e8) AS BIGINT)) AS DOUBLE)
         |         / COUNT(*) / 1e8 AS REAL) AS m
         |  FROM (SELECT vec_id, vec_id % $K AS cell FROM seedemb) a JOIN (
         |    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
         |      unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |    FROM seedemb) u USING (vec_id)
         |  GROUP BY 1, 2),
         |cent AS (SELECT cell, list(m ORDER BY pos) AS centroid
         |         FROM m GROUP BY cell),
         |aseed AS (${Similarity.assignSql("cent", "seedemb")}),
         |abatch AS (${Similarity.assignSql("cent", "batchemb")}),
         |au AS (SELECT * FROM aseed UNION ALL SELECT * FROM abatch),
         |live AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0 AND vec_id % 5 <> 0),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM live
         |  ORDER BY CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)
         |    AS BIGINT), vec_id
         |  LIMIT 32),
         |qc AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q_id, cell, row_number() OVER (PARTITION BY q_id
         |        ORDER BY isnan(cos) ASC, cos DESC, cell ASC) AS rn
         |    FROM (
         |      SELECT q.q_id, c.cell,
         |        ${Similarity.dotSql("q.q_emb", "c.centroid")} /
         |        (sqrt(${Similarity.dotSql("q.q_emb", "q.q_emb")}) *
         |         sqrt(${Similarity.dotSql("c.centroid", "c.centroid")})) AS cos
         |      FROM q, cent c) z) zz
         |  WHERE rn <= 2),
         |probed AS (
         |  SELECT p.q_id, a.vec_id FROM au a
         |  JOIN qc p ON a.cell = p.cell
         |  WHERE a.vec_id <> p.q_id),
         |cand AS (SELECT q_id, vec_id FROM probed WHERE vec_id % 5 <> 0),
         |scored AS (
         |  SELECT q.q_id, e.vec_id,
         |    ${Similarity.dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${Similarity.dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${Similarity.dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |  FROM live e, q WHERE e.vec_id <> q.q_id),
         |exact10 AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |    FROM scored WHERE NOT isnan(cosine)) z
         |  WHERE rn <= 10)
         |SELECT 'live_nprobe_2' AS method,
         |  (SELECT COUNT(*) FROM q) AS n_q,
         |  (SELECT COUNT(*) FROM exact10) AS n_truth,
         |  (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |     (SELECT 1 FROM cand c
         |      WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)) AS hits,
         |  (SELECT COUNT(*) FROM cand) AS n_cand,
         |  (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |     (SELECT 1 FROM cand c
         |      WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id))
         |    / CAST((SELECT COUNT(*) FROM exact10) AS DOUBLE)
         |    AS recall_at_10,
         |  (SELECT COUNT(*) FROM cand)
         |    / CAST((SELECT COUNT(*) FROM q) AS DOUBLE) AS avg_candidates,
         |  (SELECT COUNT(*) FROM probed WHERE vec_id % 5 = 0)
         |    AS n_dead_pruned""".stripMargin
  )
}
