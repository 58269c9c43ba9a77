package graft

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Methodology: queries run in sorted name order after a small warmup
  * (session + parquet reader init), and each result is fully materialized
  * through the `noop` sink — `count()` would let Catalyst drop sorts and
  * prune columns, under-measuring the real work.
  *
  * Contamination proofing (round-14 lesson): the record carries
  * /proc/loadavg at start/end, an interleaved q01 sentinel rerun every
  * ~30 queries, and the sentinel max/median spread — a record whose
  * spread exceeds 1.5 had a loaded window inside the run and must not
  * be committed as BENCH_LOCAL (stderr flags it); whole-run uniform
  * load is caught by comparing the sentinel median to the committed
  * record's q01 at close.
  *
  * Salvage (round-15 advice): when a sentinel SPIKE localizes the
  * contamination, the ~30-query windows adjacent to it re-run once at
  * the end (bracketed by fresh sentinels) and land in `reruns` —
  * a contaminated run still yields a usable per-query board, flagged
  * per entry, instead of a dead record.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // JVM-wide compiled-fragment cache (static conf, Spark default
    // 100): a 235-query run cycles the default many times over, so
    // shared fragments (common scans/subtrees) recompile late in the
    // run — part of the position-in-run fixed cost diagnosed in
    // round 15. 4000 measured 0.76×/0.85× of the default total in an
    // order-reversed same-box A/B (see ARCHITECTURE bench notes).
    val spark = Sessions.local(
      conf = Map("spark.sql.codegen.cache.maxEntries" -> "4000"))

    // warmup: JIT + parquet footer caches + codegen paths. q01 runs
    // TWICE — round-15 measurement showed a single warmup leaves the
    // first sentinel rep ~1.5× semi-cold (C2 still compiling), which
    // would false-flag every record's sentinel spread
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    (1 to 2).foreach { _ =>
      SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }

    // contamination sentinel (round-14 lesson: BENCH_r14 shipped 3.7×
    // inflated by external box load, and only after-the-fact forensics
    // could distinguish that from a regression): the same trivial query
    // re-runs every ~30 queries; a contaminated window shows up as
    // sentinel spread, making the record SELF-flagging. Sentinel reps
    // are untimed-region extras — they never enter `queries`/`value`.
    def loadavg(): String =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).trim
      catch { case _: Throwable => "" }
    val loadavgStart = loadavg()
    // guarded like the per-query loop: one failing sentinel must mark
    // the record, not abort a multi-hour run and discard every timing
    def sentinelRun(): Double =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sentinel failed: ${e.getMessage}")
        -1.0
      }
    val sentinels = scala.collection.mutable.ArrayBuffer(sentinelRun())

    // dev-only subset filter (comma-separated name prefixes); the driver
    // sets no filter and gets every query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val results = selected.zipWithIndex.map { case ((name, fn), i) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      // failed queries are reported as -1, never as a (fast) elapsed time
      val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // untimed hygiene: drops any SQL-cached relations. Note the
      // registry now materializes via localCheckpoint, whose
      // MEMORY_AND_DISK blocks this call does NOT release — they free
      // when the ContextCleaner GCs the backing RDDs. At sf0.1 the
      // checkpointed frames are narrow numeric proxies (KBs–MBs), so
      // accumulation between GCs is harmless; revisit (explicit
      // sc.getPersistentRDDs unpersist) if larger fixtures show
      // memory pressure.
      spark.catalog.clearCache()
      if ((i + 1) % 30 == 0) sentinels += sentinelRun()
      name -> elapsed
    }
    sentinels += sentinelRun()
    val loadavgEnd = loadavg()
    // spread = max/MEDIAN over the run's SUCCEEDED sentinel reps —
    // robust to the single GC-hit rep an otherwise-idle run always has
    // (max/min false-flagged clean runs in the round-15 calibration).
    // > 1.5 means a loaded WINDOW inside the run; uniform whole-run
    // load is internally invisible, so the close protocol additionally
    // compares the sentinel median to the committed record's q01. A
    // failed sentinel (-1) poisons the spread to flag the record.
    val okSent = sentinels.filter(_ >= 0).sorted
    // -1 = "spread unknown / record invalid" (a failed sentinel); JSON
    // has no NaN literal, so the sentinel failure is encoded in-band
    val spread =
      if (okSent.isEmpty || okSent.size < sentinels.size) -1.0
      else okSent.max / okSent(okSent.size / 2)
    // `value` and `queries` cover SUCCEEDED queries only; failures are
    // listed by name in `failed` (never as -1.0 sentinels inside the map —
    // round 9 showed consumers summing the map get silently wrong totals,
    // and a partial run must be visibly partial, not just smaller).
    val (ok, bad) = results.partition(_._2 >= 0)

    // contamination salvage (round-15 advice #5): a flagged record used
    // to be a dead record — the whole multi-hour run yielded no usable
    // per-query board. Localize instead: a sentinel SPIKE (> 1.5× the
    // sentinel median) brackets ~30 queries on each side; re-run those
    // once at the end, bracketed by fresh sentinels, and emit BOTH
    // readings — `queries` keeps the in-run timings (the honest record
    // of what happened), `reruns` carries the salvage pass per flagged
    // entry, and `rerun_sentinels` lets a reader judge whether the
    // salvage window itself was clean. Uniform whole-run load shows no
    // spike and gets no salvage — that case is only catchable at close
    // vs the committed record, as before.
    val (salvage, rerunSentinels): (Seq[(String, Double)], Seq[Double]) = {
      val okS = sentinels.filter(_ >= 0).sorted
      val med = if (okS.isEmpty) 0.0 else okS(okS.size / 2)
      val spikes = sentinels.zipWithIndex
        .collect { case (v, j) if v >= 0 && med > 0 && v > 1.5 * med => j }
        .toSet
      if (spikes.isEmpty) (Seq.empty, Seq.empty)
      else {
        // sentinel j ran after query (j*30 - 1); a spike at j taints
        // the windows on both of its sides
        val tainted = results.zipWithIndex.collect {
          case ((n, t), i) if t >= 0 &&
            (spikes.contains(i / 30) || spikes.contains(i / 30 + 1)) => n
        }
        // cap the salvage bill at the worst offenders (by in-run time):
        // a run with spikes everywhere would otherwise double itself
        val byCost = tainted.sortBy(n => -results.find(_._1 == n).get._2)
          .take(48).toSet
        val pre = sentinelRun()
        val rr = results.collect {
          case (n, t) if t >= 0 && byCost.contains(n) =>
            val t0 = System.nanoTime()
            val rerunOk =
              try { SparkEntry.queries(n)(spark, sfDir)
                .write.format("noop").mode("overwrite").save(); true }
              catch { case _: Throwable => false }
            val el = if (rerunOk) (System.nanoTime() - t0) / 1e9 else -1.0
            spark.catalog.clearCache()
            n -> el
        }
        val post = sentinelRun()
        (rr, Seq(pre, post))
      }
    }

    val qs = ok.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedArr = bad.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    // locale-proof rendering: Double.toString never emits a comma
    // decimal (an f"%.3f" under de_DE/fr_FR would produce invalid JSON)
    def num3(v: Double): String = (math.rint(v * 1000) / 1000).toString
    val sentArr = sentinels.map(num3).mkString("[", ",", "]")
    val rerunQs = salvage.filter(_._2 >= 0)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val rerunSentArr = rerunSentinels.map(num3).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedArr,"sf":"$sfDir"""" +
      s""","sentinels":$sentArr,"sentinel_spread":${num3(spread)}""" +
      s""","reruns":$rerunQs,"rerun_sentinels":$rerunSentArr""" +
      s""","loadavg_start":"$loadavgStart","loadavg_end":"$loadavgEnd"}"""
    if (spread > 1.5 || spread < 0)
      System.err.println(s"[bench] CONTAMINATED: sentinel spread ${num3(spread)} " +
        "(gate 1.5; -1 = a sentinel failed) — do not commit this record as " +
        s"BENCH_LOCAL; ${salvage.size} spike-window queries re-run in `reruns`")
    if (bad.nonEmpty)
      System.err.println(s"[bench] STOP-SHIP: ${bad.size} queries failed: " +
        bad.map(_._1).mkString(","))
    // exit 0 stays the driver contract (it parses the JSON regardless);
    // local/CI runs can gate on the exit code instead of parsing `failed`
    val strict = sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1")
    println(json)
    // sidecar file: stdout tail-capture truncated 26 of 86 query timings
    // in round 2 — the file is the complete record. A SUBSET run
    // (SPARK_GRAFT_ONLY set) defaults to BENCH_PARTIAL.json: the
    // committed BENCH_LOCAL record is full-registry by contract, and a
    // forgotten filter must not clobber it with a 4-query total.
    // Likewise a non-sf0.1 run (the verify-skill sf0.001 smoke)
    // defaults to BENCH_SMOKE.json: the committed record is sf0.1 by
    // protocol, and round 14 found five successive sf0.001 smokes had
    // silently replaced it. And a CONTAMINATED or failing full run
    // (sentinel spread over the 1.5 gate, a dead sentinel, or any
    // failed query) routes to BENCH_CONTAMINATED.json: round 16's
    // driver bench (spread 2.937) overwrote BENCH_LOCAL on disk and
    // only git discipline saved the committed idle record — the
    // default sidecar must enforce the gate the run itself computed.
    // BENCH_LOCAL is written ONLY by a complete zero-failure run under
    // the sentinel gate; SPARK_GRAFT_BENCH_OUT still overrides.
    val contaminated = spread > 1.5 || spread < 0 || bad.nonEmpty
    val defaultOut =
      if (only.isDefined) "BENCH_PARTIAL.json"
      else if (!sfDir.endsWith("sf0.1")) "BENCH_SMOKE.json"
      else if (contaminated) "BENCH_CONTAMINATED.json"
      else "BENCH_LOCAL.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    spark.stop()
    if (strict && bad.nonEmpty) sys.exit(1)
  }
}
