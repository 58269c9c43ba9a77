package graft

import graft.datapipe.IncrementalDedup

/** Physical round trip of the cross-run dedup store: build from run 1,
  * ingest run 2 against it, re-ingest idempotently. The decision logic
  * itself is oracle-checked (d08); this suite pins the parquet store
  * plumbing the query form cannot exercise.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): String = {
    val dir = tempDir("graft_inc_dedup").toString
    dir + "/store"
  }

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private val longA = ("alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
  private val longB = ("one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen")

  test("cross-batch near-dups are caught against the persisted store") {
    val store = freshStore()
    IncrementalDedup.buildStore(docsDf(1L -> longA, 2L -> longB), store)

    val batch = docsDf(
      10L -> (longA + " tiny suffix"), // near-dup of stored doc 1
      11L -> "completely different words entirely novel content here today",
      12L -> "completely different words entirely novel content here today",
      13L -> longB)                    // exact dup of stored doc 2
    val dec = IncrementalDedup.ingestBatch(batch, store)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap

    assert(dec(10L) === ("dup_store", 1L))
    assert(dec(13L) === ("dup_store", 2L))
    assert(dec(11L) === ("kept", -1L))
    assert(dec(12L) === ("dup_batch", 11L)) // within-batch, smaller id wins
    // store grew by exactly the kept docs
    assert(spark.read.parquet(store).count() === 3)
  }

  test("re-ingesting the same batch inserts zero rows (idempotent upsert)") {
    val store = freshStore()
    IncrementalDedup.buildStore(docsDf(1L -> longA), store)
    val batch = docsDf(20L -> longB, 21L -> (longA + " extra token"))

    IncrementalDedup.ingestBatch(batch, store)
    val afterFirst = spark.read.parquet(store).count()
    assert(afterFirst === 2) // doc 20 kept, doc 21 dup_store of 1

    val dec2 = IncrementalDedup.ingestBatch(batch, store)
    val afterSecond = spark.read.parquet(store).count()
    assert(afterSecond === afterFirst, "second run must insert zero rows")
    // the re-ingested kept doc now matches its own stored fingerprint
    val d20 = dec2.filter($"doc_id" === 20L).select($"status", $"matched_id")
      .as[(String, Long)].head()
    assert(d20 === ("dup_store", 20L))
  }

  test("reused doc_id with different content reports id_conflict, stale fp kept out") {
    val store = freshStore()
    IncrementalDedup.buildStore(docsDf(1L -> longA, 2L -> longB), store)
    // id 1 reused for COMPLETELY different text: judging it against the
    // stale stored fingerprint would silently report 'kept' while future
    // near-dups of the new text go undetected — surface it instead
    val dec = IncrementalDedup.ingestBatch(
      docsDf(1L -> "entirely new content under a recycled identifier today",
             3L -> (longB + " small suffix")), store)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(dec(1L) === ("id_conflict", -1L))
    assert(dec(3L) === ("dup_store", 2L))
    // neither the conflicting fp nor the dup was appended
    assert(spark.read.parquet(store).count() === 2)
    // same id + same content is NOT a conflict — it reports dup_store
    // against its own fingerprint (idempotent re-ingest)
    val dec2 = IncrementalDedup.ingestBatch(docsDf(1L -> longA), store)
      .collect().head
    assert(dec2.getString(1) === "dup_store" && dec2.getLong(2) === 1L)
  }

  test("a SHORT doc reusing a stored id is still an id_conflict") {
    val store = freshStore()
    IncrementalDedup.buildStore(docsDf(1L -> longA), store)
    // "no words" is < 3 words, so it carries no fingerprint — the conflict
    // check must run on batch doc_ids, not fingerprinted ones, or this doc
    // would report 'kept' while the stale stored fp for id 1 survives
    val dec = IncrementalDedup.ingestBatch(docsDf(1L -> "no words"), store)
      .collect()
    assert(dec.length === 1 && dec.head.getString(1) === "id_conflict")
    assert(dec.head.isNullAt(2))
    assert(spark.read.parquet(store).count() === 1) // store unchanged
  }

  test("a doc too short to fingerprint is kept, not dropped") {
    val store = freshStore()
    IncrementalDedup.buildStore(docsDf(1L -> longA), store)
    val dec = IncrementalDedup.ingestBatch(docsDf(30L -> "two words"), store)
      .collect()
    assert(dec.length === 1 && dec.head.getString(1) === "kept")
    // but its (absent) fingerprint adds nothing to the store
    assert(spark.read.parquet(store).count() === 1)
  }
}
