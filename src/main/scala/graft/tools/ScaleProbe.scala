package graft.tools

import graft.datapipe.{Dedup, IncrementalDedup, TextAnalysis, VectorIndex}
import graft.operators.DistributedRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Targeted scale probes for the designs whose 100 TB behavior is a
  * CLAIM in code comments — this tool is the measurement behind each
  * claim (dev-only; run ad hoc, results recorded in ARCHITECTURE.md):
  *
  *  1. d08 store-size curve: ingest one FIXED batch against fingerprint
  *     stores of growing size. The band-key candidate join must make
  *     per-run cost scale with |batch| x candidates, NOT |store| — the
  *     curve over 1x/4x/16x stores should be near-flat.
  *  2. q62 group-cardinality curve: DistributedRank's pass-1 collects
  *     O(partitions x groups) control rows to the driver. Time the rank
  *     over growing group counts to find where "small control data"
  *     stops being true (the operator exists for LOW-cardinality groups;
  *     q16's window path covers high cardinality).
  *  3. d03 adaptive band width: candidate-pair count per document under
  *     the corpus-adaptive width vs a FIXED width as the corpus scales.
  *     Fixed-width blocks saturate (candidates/doc grows ~linearly in
  *     corpus size => quadratic total); the adaptive width must hold
  *     candidates/doc roughly flat.
  *  4. d09 adaptive stop-fp cap: wasted verify pairs (candidates that
  *     fail the n_shared >= 3 threshold) per document under the adaptive
  *     cap vs the old FIXED cap of 8 as the corpus scales — the same
  *     fixed-knob shape d03's band width graduated from.
  *
  *  5. d14 cluster-count knob: within-cell candidate pairs per vector
  *     under a FIXED cluster count (the corpus's 10 labels) vs a count
  *     that grows with the corpus (labels subdivided by sign-LSH bucket,
  *     the stand-in for re-training k-means at larger k). Fixed k must
  *     show pairs/vector growing ~linearly (quadratic total); scaled k
  *     must hold it ~flat. Exact copies always share label AND bucket,
  *     so the planted-dup recall is unaffected by the subdivision;
  *     near-boundary NEAR-dups can straddle finer cells — the recall
  *     caveat shared with every learned-quantizer clustering.
  *
  *  6. q48 hot-key salting: wall-time of the salted join vs the plain
  *     shuffle join (broadcast disabled) as a 50%-hot key scales —
  *     locates the crossover where the build-side replication pays for
  *     itself and shows the unsalted join converging to the one hot
  *     task's time.
  *
  *  7. q79 partition-count curve: the global running total's pass-1
  *     control data is O(partitions) longs — time the rule-rewritten
  *     exec and the RunningTotal helper across a 64x partition-count
  *     sweep; the exec curve must stay flat.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir]
  *                [section csv: store,vindex,rank,simhash,winnow,semdedup,skew,cumsum]
  */
object ScaleProbe {
  private val SHIFT = 100000000L

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val sections = args.lift(1)
      .getOrElse("store,vindex,rank,simhash,winnow,semdedup,skew,cumsum")
      .split(",").map(_.trim).toSet

    val spark = graft.Sessions.local()
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")

    /** k shifted+perturbed copies of the corpus — copies are NOT mutual
      * near-dups (distinct suffix per copy), so growth measures the PLAN,
      * not a quadratic output.
      */
    def scaledDocs(k: Int): DataFrame =
      (0 until k).map { i =>
        if (i == 0) docs
        else docs.select(($"doc_id" + i * SHIFT).as("doc_id"),
          concat($"text", lit(s" s$i")).as("text"))
      }.reduce(_ unionByName _)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    if (sections("store")) {
      println("== d08 store-size curve (fixed batch, growing store) ==")
      println(f"${"store_k"}%-8s ${"store_rows"}%-11s ${"ingest_s"}%-9s decisions")
      // the fixed incoming batch: near-dup + novel mix derived from base
      val batch = docs.filter($"doc_id" % 10 === 1)
        .select(($"doc_id" + 7 * SHIFT).as("doc_id"),
                concat($"text", lit(" near duplicate suffix")).as("text"))
      for (k <- Seq(1, 4, 16)) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_storescale_k$k").toString + "/store"
        IncrementalDedup.buildStore(scaledDocs(k), dir)
        val storeRows = spark.read.parquet(dir).count()
        val (n, t) = timed(IncrementalDedup.ingestBatch(batch, dir).count())
        println(f"$k%-8d $storeRows%-11d $t%-9.2f $n")
      }
    }

    if (sections("vindex")) {
      // s19's production question: does ingesting one FIXED batch stay
      // cheap as the index grows? Assignment is map-only against the
      // K-row broadcast centroids (store-size-independent); the only
      // store-coupled term is the idempotency anti-join's column-pruned
      // scan of the assign frame's single long column (partition-pruned
      // further in production when assign is laid out by ingest date) —
      // so the curve should be near-flat with a shallow scan slope.
      println("== s19 store-size curve (fixed batch, growing index) ==")
      println(f"${"store_k"}%-8s ${"store_rows"}%-11s ${"ingest_s"}%-9s assigned")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id", $"embedding")
      def scaledEmb(k: Int): DataFrame =
        (0 until k).map { i =>
          if (i == 0) emb
          else emb.select(($"vec_id" + i * SHIFT).as("vec_id"), $"embedding")
        }.reduce(_ unionByName _)
      val batch = emb.select(($"vec_id" + 99 * SHIFT).as("vec_id"), $"embedding")
      for (k <- Seq(1, 4, 16, 64)) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_vidxscale_k$k").toString + "/idx"
        VectorIndex.buildIndex(scaledEmb(k), dir)
        val storeRows = spark.read.parquet(s"$dir/assign").count()
        val (n, t) = timed(VectorIndex.addBatch(batch, dir).count())
        println(f"$k%-8d $storeRows%-11d $t%-9.2f $n")
      }
    }

    if (sections("rank")) {
      println("== q62 group-cardinality curve (DistributedRank in-plan control frame) ==")
      println(f"${"groups"}%-9s ${"rows"}%-9s ${"ctrl_rows"}%-10s time_s")
      val rows = 1000000L
      for (g <- Seq(10L, 1000L, 100000L)) {
        val df = spark.range(rows)
          .select(($"id" % g).as("g"), $"id".as("o"))
        val (_, t) = timed {
          DistributedRank.withRankStats(df, Seq("g"), Seq(col("o")), 32)
            .write.format("noop").mode("overwrite").save()
        }
        // pass-1 control volume: at most one row per (partition, group);
        // range partitioning makes a group span ~1-2 partitions, so the
        // practical bound is ~groups + partitions
        println(f"$g%-9d $rows%-9d ${math.min(32 * g, g + 32)}%-10d $t%.2f")
      }
    }

    if (sections("simhash")) {
      println("== d03 candidate growth: adaptive vs fixed band width ==")
      println(f"${"k"}%-4s ${"docs"}%-8s ${"bw_adapt"}%-9s ${"waste/doc adapt"}%-16s ${"waste/doc bw=8"}%-15s")
      for (k <- Seq(1, 4, 16)) {
        val corpus = scaledDocs(k)
        val nDocs = corpus.count()
        def wastePerDoc(bwCol: DataFrame): Double = {
          val fp = Dedup.simhashFps(
            corpus.select($"doc_id", $"text"), bwCol).cache()
          // the blocking-quality metric is WASTED verify work: candidate
          // pairs that then FAIL the hamming<=3 verify. Pairs that pass
          // are output (they grow with genuine corpus density no matter
          // how you block); waste is what the band width controls.
          val c = Dedup.simhashCandidates(fp)
            .join(fp.select(col("doc_id").as("d1"), col("fps").as("h1")), "d1")
            .join(fp.select(col("doc_id").as("d2"), col("fps").as("h2")), "d2")
            .filter(expr("aggregate(zip_with(h1, h2, (a, b) -> bit_count(a ^ b)), " +
              "0, (acc, x) -> acc + x) > 3")).count()
          fp.unpersist()
          c.toDouble / nDocs
        }
        val adaptiveBw = corpus.agg(count(lit(1)).as("n"))
          .select(expr(Dedup.bwExpr("n")).as("bw"))
        val bwVal = adaptiveBw.first().getInt(0)
        val a = wastePerDoc(adaptiveBw)
        val f8 = wastePerDoc(spark.range(1).select(lit(8).as("bw")))
        println(f"$k%-4d $nDocs%-8d $bwVal%-9d $a%-16.2f $f8%-15.2f")
      }
    }

    if (sections("winnow")) {
      println("== d09 stop-fp cap: adaptive vs fixed 8 (plan waste + cluster recall) ==")
      println(f"${"k"}%-4s ${"docs"}%-8s ${"cap"}%-5s ${"waste/doc A"}%-12s ${"waste/doc F8"}%-13s ${"clus_pairs A"}%-13s clus_pairs F8")
      // tagged copies: a per-copy token on every 4th word breaks every
      // shared >= 39-byte span ACROSS copies (untagged runs are ~3 words
      // < 39 bytes), so pair counts measure the PLAN, not the quadratic
      // cross-copy output the suffix-scaled corpus would produce — winnow
      // is BUILT to catch one shared span, unlike d03/d05's global
      // similarity
      def taggedDocs(k: Int): DataFrame =
        (0 until k).map { i =>
          if (i == 0) docs
          else docs.select(($"doc_id" + i * SHIFT).as("doc_id"),
            expr(("array_join(transform(split(text, ' '), " +
              s"(w, j) -> IF(j % 4 = 0, concat(w, 'c$i'), w)), ' ')")).as("text"))
        }.reduce(_ unionByName _)
      // a FIXED-SIZE duplication cluster: the same ~120-byte span planted
      // into 10 base docs (df = 10 at every scale). At n=500 a df-10 fp
      // is 2%-of-corpus boilerplate — dropping it is right; at n=8000 it
      // is clearly meaningful duplication. The adaptive cap crosses 10 as
      // the corpus grows; a fixed cap of 8 can never see the cluster.
      val span = " shared audit sentence for the scale probe cluster " +
        "planted verbatim across ten documents to form one df ten span " +
        "of winnow fingerprints"
      for (k <- Seq(1, 4, 16)) {
        val corpus = taggedDocs(k)
          .withColumn("text",
            when($"doc_id" % 50 === 3 && $"doc_id" < SHIFT,
              concat($"text", lit(span))).otherwise($"text"))
        val nDocs = corpus.count()
        def probe(capRow: Option[DataFrame]): (Double, Long) = {
          val pairs = TextAnalysis.winnowPairs(corpus, capRow).cache()
          // waste = candidate pairs failing the n_shared >= 3 verify —
          // what the cap controls; must stay near-flat as the corpus grows
          val waste = pairs.filter(col("n_shared") < 3).count().toDouble / nDocs
          val clus = pairs.filter(col("n_shared") >= 3 &&
            col("d1") % 50 === 3 && col("d2") % 50 === 3 &&
            col("d1") < SHIFT && col("d2") < SHIFT).count()
          pairs.unpersist()
          (waste, clus)
        }
        val capVal = corpus.agg(count(lit(1)).as("n"))
          .select(expr(TextAnalysis.d09CapExpr("n")).as("cap")).first().getInt(0)
        val (wa, ca) = probe(None)
        val (wf, cf) = probe(Some(spark.range(1).select(lit(8).as("cap"))))
        println(f"$k%-4d $nDocs%-8d $capVal%-5d $wa%-12.3f $wf%-13.3f $ca%-13d $cf")
      }
    }

    if (sections("cumsum")) {
      println("== q79 global running total: time vs partition count ==")
      println("   (the pass-1 control data is O(partitions) longs — the curve")
      println("    over nParts must stay flat; 'rule' is the naive window")
      println("    auto-rewritten to GlobalRunningTotalExec)")
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.register(spark)
      val ev0 = graft.Tables.events(spark, sfDir).select($"event_id", $"value")
      val big = (0 until 64).map { i =>
          if (i == 0) ev0
          else ev0.select(($"event_id" + i * SHIFT).as("event_id"), $"value")
        }.reduce(_ unionByName _)
        .select($"event_id",
          coalesce(($"value".cast("decimal(18,4)") * 10000).cast("long"),
            lit(0L)).as("cents"))
        .localCheckpoint() // isolate cumsum time from the scaling union
      val n = big.count()
      println(f"${"nParts"}%-8s ${"helper_sec"}%-11s rule_sec   (rows = $n)")
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        for (p <- Seq(32, 128, 512, 2048)) {
          val (_, th) = timed {
            graft.operators.RunningTotal
              .inclusivePrefixSum(big, "event_id", "cents", p)
              .write.format("noop").mode("overwrite").save()
          }
          spark.conf.set("spark.sql.shuffle.partitions", p)
          val w = Window.orderBy($"event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val (_, tr) = timed {
            big.withColumn("cum", sum($"cents").over(w))
              .write.format("noop").mode("overwrite").save()
          }
          println(f"$p%-8d $th%-11.2f $tr%.2f")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    }

    if (sections("skew")) {
      println("== q48 salting vs plain shuffle join under a hot key ==")
      println("   (50% of probe rows on ONE user; broadcast disabled = the")
      println("    non-broadcastable build side salting exists for)")
      println(f"${"k"}%-4s ${"rows"}%-9s ${"plain+aqeskew"}%-14s ${"plain_noskew"}%-13s salted(32)")
      import graft.operators.SkewJoin
      val ev0 = graft.Tables.events(spark, sfDir)
        .select($"event_id", $"user_id", $"value")
      def scaledEv(k: Int): DataFrame =
        (0 until k).map { i =>
          if (i == 0) ev0
          else ev0.select(($"event_id" + i * SHIFT).as("event_id"),
                          $"user_id", $"value")
        }.reduce(_ unionByName _)
      val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val savedSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for (k <- Seq(16, 64, 256)) {
          val probe = scaledEv(k).withColumn("user_id",
            when($"event_id" % 2 === 0, lit(42L)).otherwise($"user_id"))
            .localCheckpoint() // isolate join time from the scaling union
          val n = probe.count()
          val build = probe.groupBy($"user_id")
            .agg(count(lit(1)).as("user_events")).localCheckpoint()
          def run(skewOn: Boolean, salted: Boolean): Double = {
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn)
            val joined =
              if (salted) SkewJoin.saltedJoin(probe, build, "user_id", 32)
              else probe.join(build, Seq("user_id"))
            val (_, t) = timed {
              joined.write.format("noop").mode("overwrite").save()
            }
            t
          }
          val tAqe = run(skewOn = true, salted = false)
          val tPlain = run(skewOn = false, salted = false)
          val tSalted = run(skewOn = false, salted = true)
          println(f"$k%-4d $n%-9d $tAqe%-14.2f $tPlain%-13.2f $tSalted%.2f")
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", savedSkew)
      }
    }

    if (sections("semdedup")) {
      println("== d14 cluster-count knob: pairs/vector, fixed k vs k ∝ n ==")
      println(f"${"k"}%-4s ${"vecs"}%-8s ${"cells_fix"}%-10s ${"pairs/vec fix"}%-14s ${"cells_scaled"}%-13s pairs/vec scaled")
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id", $"embedding", $"label")
      def scaledEmb(k: Int): DataFrame =
        (0 until k).map { i =>
          if (i == 0) emb0
          else emb0.select(($"vec_id" + i * SHIFT).as("vec_id"),
            expr(s"transform(embedding, (v, j) -> IF(j = ${i % 64}, -v, v))")
              .as("embedding"),
            $"label")
        }.reduce(_ unionByName _)
      for (k <- Seq(1, 4, 16)) {
        val base = scaledEmb(k)
        // d14's corpus shape: planted exact copies (always co-celled
        // under both schemes — identical vectors hash identically)
        val corpus = base.unionByName(base.filter($"vec_id" % 10 === 0)
            .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding",
              $"label"))
          .withColumn("bucket", graft.datapipe.Similarity.signBucketFrom(0))
          .cache()
        val n = corpus.count()
        // pairs = sum over cells of c*(c-1)/2 — the within-cell
        // quadratic the cluster count controls; pure aggregation, no join
        def pairsPerVec(cellCols: Seq[String]): Double = {
          val p = corpus.groupBy(cellCols.map(col): _*)
            .agg(count(lit(1)).as("c"))
            .agg(sum(expr("c * (c - 1) div 2")).as("p"))
            .first().getLong(0)
          p.toDouble / n
        }
        val fix = pairsPerVec(Seq("label"))
        val sc = pairsPerVec(Seq("label", "bucket"))
        val cellsScaled = corpus.select($"label", $"bucket").distinct().count()
        println(f"$k%-4d $n%-8d ${10}%-10d $fix%-14.1f $cellsScaled%-13d $sc%.1f")
        corpus.unpersist()
      }
    }

    spark.stop()
  }
}
