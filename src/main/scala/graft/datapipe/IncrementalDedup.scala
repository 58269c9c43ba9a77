package graft.datapipe

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental cross-run near-duplicate dedup against a persisted
  * fingerprint store — the production shape of d02: dedup runs DAILY
  * against the accumulated corpus, not within one batch.
  *
  * The store holds one fingerprint row per accepted document:
  * (doc_id, sig: array<bigint>[16], hset: array<bigint>) — the MinHash
  * signature plus the sorted 60-bit shingle-hash set [[Dedup.signaturesOf]]
  * computes. An incoming batch is deduped in three steps:
  *
  *  1. candidates — explode the 4 LSH band keys on both sides and
  *     equi-join bands(batch) to bands(store). The store is NEVER
  *     all-pairs-compared: only store docs sharing a band key with some
  *     batch doc are touched, so per-run cost scales with
  *     |batch| x (store candidates per band), not |store| (the
  *     store-size curve measured flat; ARCHITECTURE's scale probes).
  *  2. verify — candidates fetch their hsets by doc_id and pay the exact
  *     Jaccard (codegen'd sorted-merge intersect, >= 0.5 like d02).
  *     Within-batch pairs go through the same verify (a batch can carry
  *     its own dups on day one).
  *  3. decide + append — per batch doc: 'dup_batch' if a smaller-id batch
  *     doc matched (the smaller one is canonical), else 'dup_store' if a
  *     store doc matched, else 'kept'. Kept fingerprints are appended to
  *     the store behind a left-anti on doc_id — the O9 idempotent-upsert
  *     pattern (WeatherPipeline.upsertNew), so a retried/duplicate run
  *     inserts zero rows.
  *
  * 100 TB notes: the band join shuffles only (band_key, doc_id) control
  * rows — hsets stay out of the exploded join and are fetched by doc_id
  * for the candidate set only. On a real lake the store sits clustered by
  * band prefix (SnapshotLog.compactVersion(clusterBy)), so the scan side of the
  * candidate join prunes row groups by the batch's band keys; the
  * decision output is linear in |batch|.
  */
object IncrementalDedup {
  private val THRESHOLD = 0.5 // exact-Jaccard accept bar, shared with d02

  /** Candidate (left, right) doc-id pairs: band-key equi-join between two
    * fingerprint frames, pairs deduped. `cond` further restricts pairs
    * (e.g. ordering for a self-join).
    */
  private def bandCandidates(lf: DataFrame, rf: DataFrame,
                             selfOrdered: Boolean): DataFrame = {
    val lb = lf.select(col("doc_id").as("l_id"),
      explode(Dedup.bandKeyArray).as("band_key"))
    val rb = rf.select(col("doc_id").as("r_id"),
      explode(Dedup.bandKeyArray).as("band_key"))
    val joined =
      if (selfOrdered)
        lb.join(rb, lb("band_key") === rb("band_key") && col("l_id") < col("r_id"))
      else lb.join(rb, "band_key")
    joined.select(col("l_id"), col("r_id")).distinct()
  }

  /** Verified near-dup pairs: candidates that pass exact Jaccard >=
    * THRESHOLD over the full shingle-hash sets. hsets are fetched by
    * doc_id AFTER candidate generation, so only candidates carry arrays
    * through the shuffle.
    */
  private def verifiedPairs(cand: DataFrame, lf: DataFrame,
                            rf: DataFrame): DataFrame = {
    import graft.functions.SortedIntersectCount.sorted_intersect_count
    cand
      .join(lf.select(col("doc_id").as("l_id"), col("hset").as("lh")), "l_id")
      .join(rf.select(col("doc_id").as("r_id"), col("hset").as("rh")), "r_id")
      .withColumn("inter", sorted_intersect_count(col("lh"), col("rh")))
      .withColumn("jaccard", expr("inter / (size(lh) + size(rh) - inter)"))
      .filter(col("jaccard") >= THRESHOLD)
      .select(col("l_id"), col("r_id"))
  }

  /** Per-incoming-doc dedup decision against a store fingerprint frame:
    * (doc_id, status in {dup_batch, dup_store, kept}, matched_id — the
    * smallest matching canonical, NULL when kept). Pure (no side
    * effects): the physical [[ingestBatch]] and the d08 oracle query both
    * run exactly this.
    */
  private[datapipe] def decisions(storeFp: DataFrame, incFp: DataFrame,
                                  incoming: DataFrame): DataFrame = {
    val batchDup = verifiedPairs(
        bandCandidates(incFp, incFp, selfOrdered = true), incFp, incFp)
      .groupBy(col("r_id").as("doc_id"))
      .agg(min(col("l_id")).as("batch_match"))
    val storeDup = verifiedPairs(
        bandCandidates(incFp, storeFp, selfOrdered = false), incFp, storeFp)
      .groupBy(col("l_id").as("doc_id"))
      .agg(min(col("r_id")).as("store_match"))
    incoming.select(col("doc_id"))
      .join(batchDup, Seq("doc_id"), "left")
      .join(storeDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("batch_match").isNotNull, lit("dup_batch"))
          .when(col("store_match").isNotNull, lit("dup_store"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("batch_match"), col("store_match")).as("matched_id"))
  }

  // ===== physical store API =====

  /** Create/replace the fingerprint store at `path` from a seed corpus. */
  def buildStore(docs: DataFrame, path: String): Unit =
    Dedup.signaturesOf(docs).write.mode(SaveMode.Overwrite).parquet(path)

  /** Dedup `batch` against the store (and itself), append the kept docs'
    * fingerprints, and return the decision frame. Append is idempotent:
    * a left-anti on doc_id vs the store means a retried or duplicate run
    * inserts zero rows (and re-ingested docs report dup_store — they
    * match their own stored fingerprint).
    *
    * doc_ids are immutable once stored: the store keeps the FIRST
    * fingerprint ever appended under an id. A batch doc reusing a stored
    * id with DIFFERENT content would otherwise be silently judged
    * against the stale fingerprint, so it is surfaced as a fourth status
    * 'id_conflict' (matched_id = NULL) and its fingerprint is NOT
    * appended — the operator decides whether to re-key or overwrite.
    */
  def ingestBatch(batch: DataFrame, storePath: String): DataFrame = {
    val spark = batch.sparkSession
    val storeFp = spark.read.parquet(storePath)
    val incFp = Dedup.signaturesOf(batch).cache()
    // Conflict check runs on ALL batch doc_ids, not just fingerprinted
    // ones: a too-short doc (< 3 words, so signaturesOf drops it) reusing
    // a stored id is still a content change — its null sig never equals
    // the stored one (stored rows always carry a sig), so the null-safe
    // compare surfaces it instead of silently reporting 'kept' while the
    // stale stored fingerprint survives.
    val conflicts = batch.select(col("doc_id"))
      .join(incFp.select(col("doc_id"), col("sig")), Seq("doc_id"), "left")
      .join(storeFp.select(col("doc_id"), col("sig").as("store_sig")), "doc_id")
      .filter(!(col("sig") <=> col("store_sig")))
      .select(col("doc_id"), lit(true).as("id_conflict"))
    // localCheckpoint, not cache: the decision plan READS the store this
    // method is about to append to, and a cached plan can silently
    // recompute (block eviction, executor loss) against the mutated store
    // — checkpointing truncates the lineage so the returned frame is
    // fixed at pre-append state
    val dec = decisions(storeFp, incFp, batch)
      .join(conflicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("id_conflict"), lit("id_conflict"))
          .otherwise(col("status")).as("status"),
        when(col("id_conflict"), lit(null).cast("long"))
          .otherwise(col("matched_id")).as("matched_id"))
      .localCheckpoint()
    val novel = incFp
      .join(dec.filter(col("status") === "kept"), Seq("doc_id"), "left_semi")
      .join(storeFp.select("doc_id"), Seq("doc_id"), "left_anti")
    novel.write.mode(SaveMode.Append).parquet(storePath)
    incFp.unpersist()
    dec
  }

  // ===== oracle-checked query =====

  /** Deterministic two-run split of `documents` the d08 query (and its
    * oracle) both compute: run 1 stored docs with doc_id % 3 != 0; the
    * incoming run-2 batch is the rest plus planted cross-batch near-dups
    * (+1e6, perturbed) and exact dups (+2e6). Copy sources with
    * doc_id % 3 == 0 live in the BATCH, so their copies exercise the
    * dup_batch path; the others exercise dup_store.
    */
  private def storeBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T.documents(s, d).select($"doc_id", $"text").filter($"doc_id" % 3 =!= 0)
  }

  private def incomingBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = T.documents(s, d).select($"doc_id", $"text")
    docs.filter($"doc_id" % 3 === 0)
      .unionByName(docs.filter($"doc_id" % 10 === 1)
        .select(($"doc_id" + 1000000L).as("doc_id"),
                concat($"text", lit(" near duplicate suffix")).as("text")))
      .unionByName(docs.filter($"doc_id" % 7 === 1)
        .select(($"doc_id" + 2000000L).as("doc_id"), $"text"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cross-run dedup decisions for the incoming batch vs the stored
    // corpus. The query form is side-effect-free (both fingerprint frames
    // are derived in-plan so the oracle can replay them); the physical
    // parquet round trip of the SAME decisions function is
    // buildStore/ingestBatch, pinned by IncrementalDedupSpec
    // (run-twice-inserts-zero).
    "d08_incremental_dedup" -> { (s, d) =>
      // the decision plan reads each signature frame through several
      // branches (self-band join, store-band join, two verify joins) —
      // unmaterialized, the signature kernels ran ~5x (23 parquet scans
      // in the executed plan). The PHYSICAL path (ingestBatch) keeps
      // its own checkpoint discipline — see the comment there.
      decisions(Dedup.signaturesOf(storeBatch(s, d)).localCheckpoint(),
                Dedup.signaturesOf(incomingBatch(s, d)).localCheckpoint(),
                incomingBatch(s, d))
        .orderBy(col("doc_id"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "d08_incremental_dedup" -> {
      def jac(x: String, y: String) =
        s"""len(list_filter($x.hset, g -> list_contains($y.hset, g)))
           |      / (len($x.hset) + len($y.hset)
           |         - len(list_filter($x.hset, g -> list_contains($y.hset, g))))"""
          .stripMargin
      s"""WITH store_src AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         |inc_src AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' near duplicate suffix'
         |  FROM documents WHERE doc_id % 10 = 1
         |  UNION ALL
         |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 1),
         |${Dedup.sigCtesSql("store_src", "s")},
         |${Dedup.sigCtesSql("inc_src", "i")},
         |sbands AS (
         |  SELECT doc_id, unnest(${Dedup.bandKeysSql}) AS band_key FROM ssigs),
         |ibands AS (
         |  SELECT doc_id, unnest(${Dedup.bandKeysSql}) AS band_key FROM isigs),
         |batch_cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM ibands a JOIN ibands b
         |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |batch_dup AS (
         |  SELECT c.d2 AS doc_id, MIN(c.d1) AS batch_match
         |  FROM batch_cand c
         |  JOIN isigs x ON x.doc_id = c.d1
         |  JOIN isigs y ON y.doc_id = c.d2
         |  WHERE ${jac("x", "y")} >= $THRESHOLD
         |  GROUP BY c.d2),
         |cross_cand AS (
         |  SELECT DISTINCT i.doc_id AS inc_id, s.doc_id AS store_id
         |  FROM ibands i JOIN sbands s ON i.band_key = s.band_key),
         |cross_dup AS (
         |  SELECT c.inc_id AS doc_id, MIN(c.store_id) AS store_match
         |  FROM cross_cand c
         |  JOIN isigs x ON x.doc_id = c.inc_id
         |  JOIN ssigs y ON y.doc_id = c.store_id
         |  WHERE ${jac("x", "y")} >= $THRESHOLD
         |  GROUP BY c.inc_id)
         |SELECT i.doc_id,
         |  CASE WHEN b.batch_match IS NOT NULL THEN 'dup_batch'
         |       WHEN c.store_match IS NOT NULL THEN 'dup_store'
         |       ELSE 'kept' END AS status,
         |  COALESCE(b.batch_match, c.store_match) AS matched_id
         |FROM inc_src i
         |LEFT JOIN batch_dup b ON b.doc_id = i.doc_id
         |LEFT JOIN cross_dup c ON c.doc_id = i.doc_id
         |ORDER BY i.doc_id""".stripMargin
    }
  )
}
