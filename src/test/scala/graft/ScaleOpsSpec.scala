package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

/** Scale-technique operators: salted skew join equivalence, bottom-k
  * sketch merge-correctness.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join (inner, skewed probe side)") {
    val probe = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"value")
    val build = Tables.events(spark, sf).groupBy($"user_id")
      .agg(count(lit(1)).as("user_events"))
    val plain = probe.join(build, Seq("user_id"))
      .select($"event_id", $"user_events").as[(Long, Long)].collect().toSet
    val salted = SkewJoin.saltedJoin(probe, build, "user_id", salts = 7)
      .select($"event_id", $"user_events").as[(Long, Long)].collect().toSet
    assert(salted === plain)
  }

  test("bottom-k sketch is parallelism-invariant (mergeable state)") {
    import graft.functions.BottomKAgg.bottom_k
    val base = Tables.documents(spark, sf)
    def sketch(parts: Int) = base.repartition(parts)
      .groupBy($"lang")
      .agg(bottom_k(Dets.phash($"text"), 8).as("sk"))
      .select($"lang", $"sk").as[(String, Seq[Long])].collect().toMap
    val a = sketch(1); val b = sketch(13)
    assert(a === b)
    assert(a.values.forall(s => s == s.sorted && s.size <= 8))
  }

  test("saltedJoin rejects non-probe-preserving join types") {
    val df = Tables.events(spark, sf).select($"event_id", $"user_id")
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(df, df, "user_id", salts = 3, joinType = "full_outer")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(df, df, "user_id", salts = 3, joinType = "right")
    }
  }

  test("asofJoin is safe when left and right share a payload column name") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // left ALSO has a 'purchase_value' column — must not pollute the carry
    val l = Seq((1L, ts("2024-01-01 10:00:00"), 100L, 999.0))
      .toDF("user_id", "ts", "event_id", "purchase_value")
    val r = Seq((1L, ts("2024-01-01 09:00:00"), 5.0))
      .toDF("user_id", "ts", "purchase_value")
    val out = operators.TemporalJoins.asofJoin(l, r, "user_id", "ts",
        Seq("purchase_value"))
      .select($"event_id", $"purchase_value", $"purchase_value_right")
      .as[(Long, Double, Double)].collect()
    // left's own column intact; right's carried value under _right suffix
    assert(out.toSeq === Seq((100L, 999.0, 5.0)))
  }

  test("native AsOfJoinExec equals the composed as-of formulation") {
    val native = operators.TemporalJoins.queries("q46_asof_join_native")(spark, sf)
      .select($"event_id", $"purchase_value")
      .as[(Long, Option[Double])].collect().toMap
    val composed = operators.TemporalJoins.queries("q29_asof_join")(spark, sf)
      .select($"event_id", $"purchase_value")
      .as[(Long, Option[Double])].collect().toMap
    assert(native === composed)
  }

  test("Misra–Gries guarantee holds at any parallelism") {
    import graft.functions.FreqItemsAgg.freq_items
    val words = Tables.documents(spark, sf)
      .select($"lang", explode(split($"text", " ")).as("word"))
    val heavy = words.groupBy($"lang", $"word").agg(count(lit(1)).as("cnt"))
    for (parts <- Seq(1, 13)) {
      val sk = words.repartition(parts).groupBy($"lang")
        .agg(freq_items($"word", 64).as("items"), count(lit(1)).as("n"))
      val missing = heavy.join(sk, Seq("lang"))
        .filter($"cnt" * 65 > $"n")
        .filter(!array_contains($"items", $"word"))
      assert(missing.count() === 0, s"parts=$parts: heavy item missing from sketch")
    }
  }

  test("weighted Misra–Gries over pre-counted rows keeps the guarantee") {
    // t07 feeds the sketch (word, cnt) pairs from the shared count frame
    // instead of raw occurrences; a weighted update is a merge of the
    // summary of cnt copies, so the N/(k+1) containment must still hold
    // at any parallelism / input order.
    import graft.functions.FreqItemsAgg.freq_items_weighted
    val wc = Tables.documents(spark, sf)
      .select($"lang", explode(split($"text", " ")).as("word"))
      .groupBy($"lang", $"word").agg(count(lit(1)).as("cnt"))
    for (parts <- Seq(1, 13)) {
      val sk = wc.repartition(parts).groupBy($"lang")
        .agg(freq_items_weighted($"word", $"cnt", 64).as("items"),
             sum($"cnt").as("n"))
      val missing = wc.join(sk, Seq("lang"))
        .filter($"cnt" * 65 > $"n")
        .filter(!array_contains($"items", $"word"))
      assert(missing.count() === 0, s"parts=$parts: heavy item missing from sketch")
    }
  }

  test("q72 TABLESAMPLE: repeatable, in-scan (no pre-shuffle), fraction sane") {
    val q = operators.SetOps.queries("q72_tablesample")
    val a = q(spark, sf).collect().map(_.toSeq)
    val b = q(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq, "seeded sample must be run-repeatable")
    // the sample evaluates before the aggregation's exchange: the only
    // shuffles are the groupBy's and the output sort's — none BELOW the
    // Sample operator
    val plan = q(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("Sample"), "physical Sample operator missing")
    val sampleDepth = plan.linesIterator.indexWhere(_.contains("Sample"))
    val below = plan.linesIterator.drop(sampleDepth + 1).toList
    assert(!below.exists(_.contains("Exchange")),
      "sampling must run inside the scan stage, not after a shuffle:\n" +
        below.mkString("\n"))
    // 10% of orders, binomial: assert within 5 sigma to stay unflaky
    val total = Tables.orders(spark, sf).count()
    val sampled = q(spark, sf).agg(sum($"n_sampled")).as[Long].head()
    val expect = total * 0.1
    val sigma = math.sqrt(total * 0.1 * 0.9)
    assert(math.abs(sampled - expect) < 5 * sigma,
      s"sampled $sampled of $total, expected ~$expect")
  }

  test("q81 sample integrity: sample ∪ complement reconstructs the full table") {
    // the oracle-checkable companion that gives the Sample operator a
    // hard correctness row: both branches must evaluate the SAME seeded
    // sample (determinism over the shared scan partitioning), so their
    // union aggregates to exactly the full-table numbers
    val got = operators.SetOps.queries("q81_sample_integrity")(spark, sf)
    assert(got.queryExecution.executedPlan.toString.contains("Sample"),
      "physical Sample operator missing from the companion's plan")
    val want = Tables.orders(spark, sf)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           Dets.dsum($"o_totalprice").as("total_price"))
      .orderBy($"o_orderpriority")
    assert(got.collect().map(_.toSeq).toSeq ===
      want.collect().map(_.toSeq).toSeq,
      "sample ∪ anti-join complement diverged from the full table")
  }

  test("AQE splits skewed partitions at runtime (skew=true in final plan)") {
    // manual salting (q48) is one answer to skew; AQE's OptimizeSkewedJoin
    // is the zero-code answer — verify it engages on a skewed sort-merge
    // join with test-scale thresholds
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force sort-merge
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of rows share one key -> one giant partition after the shuffle
      val skewed = spark.range(200000)
        .select(when($"id" % 10 < 9, 0L).otherwise($"id").as("k"),
                concat(lit("padpadpadpadpadpadpad-"), $"id").as("payload"))
      val dim = spark.range(200000).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = skewed.join(dim, Seq("k"))
      // collect() drives THIS DataFrame's QueryExecution (count() would
      // spawn a separate one, leaving this plan isFinalPlan=false)
      assert(joined.collect().length === 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "AQE did not mark the skewed join:\n" + finalPlan.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
