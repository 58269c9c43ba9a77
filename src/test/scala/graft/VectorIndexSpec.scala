package graft

import org.apache.spark.sql.functions._

/** Physical round trip of the persisted IVF index (s19's store form):
  * the side-effect-free query is the oracle-checked twin; this pins the
  * parquet lifecycle — build, incremental add, idempotent retry — to
  * the same assignments.
  */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  test("index lifecycle: build -> add -> re-add inserts zero; store equals the pure query") {
    val dir = tempDir("graft_vidx").toString
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val seed = emb.filter($"vec_id" % 3 =!= 0)
    val batch = emb.filter($"vec_id" % 3 === 0)
    datapipe.VectorIndex.buildIndex(seed, dir)
    val nSeed = spark.read.parquet(s"$dir/assign").count()
    assert(nSeed === seed.count(), "build must assign every seed vector")
    assert(spark.read.parquet(s"$dir/centroids").count() === 8L)
    val dec = datapipe.VectorIndex.addBatch(batch, dir)
    val total = nSeed + batch.count()
    assert(spark.read.parquet(s"$dir/assign").count() === total)
    // retry: the anti-join makes the append idempotent — zero inserts
    datapipe.VectorIndex.addBatch(batch, dir)
    val after = spark.read.parquet(s"$dir/assign")
    assert(after.count() === total, "re-add inserted duplicate assignments")
    assert(after.select($"vec_id").distinct().count() === total)
    // the store's per-cell occupancy IS the pure query's n_total
    val q = datapipe.VectorIndex.queries("s19_incremental_index")(spark, sf)
      .select($"cell", $"n_total").as[(Long, Long)].collect().toMap
      .filter(_._2 > 0)
    val st = after.groupBy($"cell").count().as[(Long, Long)].collect().toMap
    assert(st === q, "store occupancy diverged from the oracle-checked query")
    // batch decisions: one frozen-centroid assignment per batch vector,
    // and exactly what the store recorded for those ids
    assert(dec.count() === batch.count())
    val mismatch = dec.join(after.select($"vec_id", $"cell".as("stored")),
        Seq("vec_id"))
      .filter($"cell" =!= $"stored")
    assert(mismatch.isEmpty, "returned decisions diverged from the store")
  }

  test("delete lifecycle: tombstones hide, deletes are final until compact, GC revives") {
    val dir = tempDir("graft_vidxd").toString
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    datapipe.VectorIndex.buildIndex(emb, dir)
    val total = emb.count()
    val deadIds = emb.filter($"vec_id" % 5 === 0).select($"vec_id")
    val nDead = deadIds.count()
    assert(nDead > 0, "fixture has no delete candidates — pin is vacuous")
    datapipe.VectorIndex.removeBatch(deadIds, dir)
    // live view hides exactly the tombstoned ids; assign is untouched
    assert(spark.read.parquet(s"$dir/assign").count() === total)
    val live = datapipe.VectorIndex.liveAssign(spark, dir)
    assert(live.count() === total - nDead)
    assert(live.filter($"vec_id" % 5 === 0).isEmpty)
    // retried delete inserts zero tombstones; deleting an ABSENT id is
    // harmless and idempotent too
    datapipe.VectorIndex.removeBatch(deadIds, dir)
    assert(spark.read.parquet(s"$dir/tombstones").count() === nDead)
    val ghost = spark.range(1, 2).select(lit(999999999L).as("vec_id"))
    datapipe.VectorIndex.removeBatch(ghost, dir)
    datapipe.VectorIndex.removeBatch(ghost, dir)
    assert(spark.read.parquet(s"$dir/tombstones").count() === nDead + 1)
    // deletion is FINAL until compact: re-adding a tombstoned vector
    // does not resurrect it in the live view
    datapipe.VectorIndex.addBatch(emb.filter($"vec_id" % 5 === 0), dir)
    assert(datapipe.VectorIndex.liveAssign(spark, dir).count()
      === total - nDead)
    // compact folds tombstones in: live set preserved, tombstone frame
    // dropped entirely (liveAssign passes assign through with no
    // anti-join), no swap-machinery leftovers
    datapipe.VectorIndex.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/assign").count() === total - nDead)
    assert(!weather.WeatherIngest.sinkExists(spark, s"$dir/tombstones"))
    assert(!weather.WeatherIngest.sinkExists(spark, s"$dir/assign.compacting"))
    assert(!weather.WeatherIngest.sinkExists(spark, s"$dir/assign.old"))
    // ... and only now does a deliberate re-add revive the vectors
    datapipe.VectorIndex.addBatch(emb.filter($"vec_id" % 5 === 0), dir)
    assert(datapipe.VectorIndex.liveAssign(spark, dir).count() === total)
  }

  test("addBatch collapses within-batch duplicate vec_ids to one assign row") {
    val dir = tempDir("graft_vidxu").toString
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    datapipe.VectorIndex.buildIndex(emb.filter($"vec_id" % 3 =!= 0), dir)
    val n0 = spark.read.parquet(s"$dir/assign").count()
    val batch = emb.filter($"vec_id" % 3 === 0)
    val nB = batch.count()
    // the same micro-batch carries every vector twice — the store-level
    // anti-join alone cannot see that; within-batch dedup must
    val dec = datapipe.VectorIndex.addBatch(batch.unionAll(batch), dir)
    assert(dec.count() === nB, "decisions must be one row per vec_id")
    val after = spark.read.parquet(s"$dir/assign")
    assert(after.count() === n0 + nB, "duplicate rows reached the store")
    assert(after.select($"vec_id").distinct().count() === n0 + nB)
  }
}
