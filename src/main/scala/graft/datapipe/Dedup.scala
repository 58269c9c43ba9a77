package graft.datapipe

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and character-n-gram Jaccard. All hash arithmetic uses the
  * portable md5-based 60-bit hash (graft.Dets.phash) reduced mod 2^31, so
  * the DuckDB oracle reproduces every bucket and signature bit-for-bit.
  *
  * The corpus is `documents` unioned with deterministic perturbed/exact
  * copies (doc_id offset by 1e6/2e6) so the testdata provably contains
  * near-duplicates for the operators to find.
  *
  * Scale design (100 TB):
  *  - Exact dedup: hash-groupBy on a 128-bit content hash — one shuffle of
  *    (hash, id), never of document bodies.
  *  - MinHash LSH: per-doc signature (K=16) computed in a single scan
  *    (one md5 per shingle, reused across the K permutations); banding
  *    (4 bands x 4 rows) turns all-pairs O(n^2) into an equi-join on
  *    band keys; only candidate pairs pay the exact-Jaccard verify.
  *  - SimHash: one fused scan to a 60-bit fingerprint; candidate pairs
  *    via 4 disjoint 15-bit bands unioned (pigeonhole: Hamming <= 3
  *    cannot miss all 4 bands — guaranteed recall), verified by Hamming
  *    distance. Band width grows with log n, the blocking scale knob.
  *  - N-gram Jaccard: pair generation blocked on (lang, source, length
  *    bucket) so the quadratic term is bounded per block.
  */
object Dedup {
  private val P = 2147483647L // 2^31 - 1
  private val AB: Seq[(Long, Long)] = Seq(
    (7L, 13L), (29L, 71L), (53L, 101L), (97L, 31L),
    (193L, 67L), (389L, 173L), (769L, 257L), (1543L, 389L),
    (3079L, 521L), (6151L, 769L), (12289L, 1031L), (24593L, 1543L),
    (49157L, 2063L), (98317L, 3089L), (196613L, 4127L), (393241L, 6151L))
  private val BANDS = 4
  private val ROWS = 4 // K = BANDS * ROWS = 16

  /** d17 Bloom sizing: 2^23 bits (1 MB) holds 1M grams at ~2% false
    * positives. A deployment sizes these to the bench-set cardinality;
    * fp rate only prices the confirm join, never changes results. */
  private val BLOOM_ITEMS = 1000000L
  private val BLOOM_BITS = 8388608L

  /** Contamination fixture parameters — d12 and d17 share the same
    * bench/train/planted-leak construction and 8-word gram extraction
    * (one Spark builder, one oracle template), differing only here so
    * their fixtures stay independent. */
  private[graft] case class ContaminationFixture(modulus: Int, offset: Long,
                                          tag: String)
  private val D12_FIX = ContaminationFixture(50, 5000000L, "leak")
  private val D17_FIX = ContaminationFixture(40, 7000000L, "blm")

  /** d40's PARAPHRASED-leak fixture: bench = documents with
    * doc_id % 50 == 0 (d12's bench population); the plant copies the
    * WHOLE bench doc but replaces every 8th word with a unique token —
    * the kept runs max out at 7 consecutive words, so NO 8-word gram
    * survives and the exact-gram gate (d12/d17/d25) is structurally
    * blind to the leak, while ~5/8 of the 3-word shingles survive
    * (doc-level Jaccard ≈ 0.45) — exactly the paraphrase/near-copy
    * contamination class the fuzzy gate exists to catch. */
  private[graft] val D40_OFFSET = 9000000L
  private[graft] def fuzzyContaminationCorpus(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = T.documents(s, d).select($"doc_id", $"text")
    val bench = docs.filter($"doc_id" % 50 === 0)
    val para = bench
      .withColumn("ws", split($"text", " "))
      .select(($"doc_id" + D40_OFFSET).as("doc_id"),
        array_join(expr(
          "transform(sequence(1, size(ws)), i -> IF((i - 1) % 8 = 0, " +
          "concat('fz', CAST(doc_id AS STRING), 'x', CAST(i AS STRING)), " +
          "element_at(ws, i)))"), " ").as("text"))
    (bench, docs.filter($"doc_id" % 50 =!= 0).unionByName(para))
  }

  /** 16 single-row LSH band keys over the full MinHash signature —
    * d40's high-recall banding (d02's 4×4 banding targets J ≥ 0.5
    * dedup; a DECONTAMINATION gate must not miss J ≈ 0.45 paraphrase
    * leaks, and 16 one-row bands read P(candidate) = 1−(1−J)^16 ≈
    * 0.9999 there, vs ≈ 0.1 for 4×4). The cost asymmetry is what makes
    * the aggressive banding affordable: the bench side BROADCASTS, so
    * false candidates only price a map-side array intersection, never
    * a shuffle. */
  private def wideBandKeyArray: org.apache.spark.sql.Column = {
    val keys = (0 until 16).map { j =>
      expr(s"concat_ws('_', '$j', element_at(sig, ${j + 1}))")
    }
    array(keys: _*)
  }
  private def wideBandKeysSql: String =
    "[" + (0 until 16).map { j =>
      s"concat_ws('_', '$j', sig[${j + 1}])"
    }.mkString(", ") + "]"

  /** Bench-gram-fp and train-gram frames for a contamination fixture:
    * bench = documents with doc_id % modulus == 0; train = the rest
    * plus one planted leak per bench doc (its 16-word prefix wrapped in
    * unique filler, id shifted by offset). Grams are distinct 8-word
    * windows, hashed — only (doc_id, fp) longs ever leave the scan. */
  private def contaminationGrams(s: SparkSession, d: String,
      fix: ContaminationFixture): (DataFrame, DataFrame) = {
    val (bg, tg) = contaminationGramsWithIds(s, d, fix)
    (bg.select(col("fp")).distinct(), tg)
  }

  /** [[contaminationGrams]] keeping the bench side's doc ids — d19's
    * eval-exposure report aggregates BY bench doc, where d12/d17 only
    * need the fp set. Same fixture, same gram definition.
    */
  private def contaminationGramsWithIds(s: SparkSession, d: String,
      fix: ContaminationFixture): (DataFrame, DataFrame) = {
    val (bench, train) = contaminationCorpus(s, d, fix)
    (gramFps(bench), gramFps(train))
  }

  /** The (bench, train) document frames of a contamination fixture —
    * bench = every modulus-th doc; train = the rest plus one planted
    * leak per bench doc.
    */
  private def contaminationCorpus(s: SparkSession, d: String,
      fix: ContaminationFixture): (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = T.documents(s, d).select($"doc_id", $"text")
    val bench = docs.filter($"doc_id" % fix.modulus === 0)
    val leaked = bench.select(($"doc_id" + fix.offset).as("doc_id"),
      concat(
        array_join(slice(split($"text", " "), 1, 16), " "),
        lit(" "),
        array_join(expr("transform(sequence(1, 24), i -> " +
          s"concat('${fix.tag}', CAST(doc_id AS STRING), 'x', CAST(i AS STRING)))"),
          " ")).as("text"))
    val train = docs.filter($"doc_id" % fix.modulus =!= 0).unionByName(leaked)
    (bench, train)
  }

  /** Distinct (doc_id, fp) 8-word-gram hashes of a (doc_id, text)
    * frame — the one gram definition shared by d12/d17/d19. Only
    * (doc_id, fp) longs ever leave the scan. */
  private[datapipe] def gramFps(df: DataFrame): DataFrame = gramFpsN(df, 8)

  /** [[gramFps]] at an arbitrary gram size — d37's knob sweep varies n
    * where the shipped gate fixes it at 8. */
  private[datapipe] def gramFpsN(df: DataFrame, n: Int): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    df.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> " +
        s"graft_phash(concat_ws('_', slice(ws, i, $n))))")).as("fp"))
      .distinct()
  }

  /** POSITIONAL (doc_id, i, fp) 8-word-gram hashes — [[gramFps]] keeping
    * every window position (no dedup): d25's span arithmetic needs to
    * know WHERE a gram matched, not just that it did. */
  private def gramFpsPos(df: DataFrame): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    df.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        explode(expr(
          "transform(sequence(1, size(ws) - 7), i -> struct(i AS i, " +
          "graft_phash(concat_ws('_', slice(ws, i, 8))) AS fp))")).as("g"))
      .select(col("doc_id"), col("n_words"),
              col("g.i").cast("long").as("i"), col("g.fp").as("fp"))
  }

  /** The exact-join contamination oracle for a fixture — shared by d12
    * and d17 (the Bloom prefilter has no false negatives and false
    * positives die in the confirm join, so both queries share this
    * exact semantics). */
  private def contaminationSql(fix: ContaminationFixture): String = {
    val fpOf = graft.Dets.phashSql(
      "array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], '_')")
    def gramsSql(src: String) =
      s"""SELECT DISTINCT doc_id, $fpOf AS fp
         |FROM (SELECT doc_id, ws,
         |        unnest(list_transform(range(1, len(ws) - 6), i -> i)) AS i
         |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src)
         |      WHERE len(ws) >= 8)""".stripMargin
    s"""WITH bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % ${fix.modulus} = 0),
       |train AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % ${fix.modulus} <> 0
       |  UNION ALL
       |  SELECT doc_id + ${fix.offset},
       |    array_to_string(string_split(text, ' ')[1:16], ' ') || ' ' ||
       |    array_to_string(list_transform(range(1, 25),
       |      i -> '${fix.tag}' || CAST(doc_id AS VARCHAR) || 'x' ||
       |           CAST(i AS VARCHAR)), ' ')
       |  FROM bench),
       |bg AS (SELECT DISTINCT fp FROM (${gramsSql("bench")})),
       |tg AS (${gramsSql("train")})
       |SELECT tg.doc_id, COUNT(*) AS n_hits
       |FROM tg JOIN bg USING (fp)
       |GROUP BY tg.doc_id ORDER BY doc_id""".stripMargin
  }

  /** SimHash band-width clamps: sub-4-bit bands block nothing; past 15
    * bits the 4 disjoint bands no longer fit ONE 60-bit word, so the
    * fingerprint WIDENS (see [[simhashFps]]) — the cap is 60 (4 words of
    * 60 bits, one band per word), enough for corpora to 2^59 docs.
    */
  private val MIN_BW = 4
  private val MAX_BW = 60

  /** Corpus-adaptive SimHash band width: clamp(floor(log2 n) + 1, 4, 60).
    * 2^bw band values keep the expected block population n/2^bw roughly
    * constant as the corpus grows — a fixed width was measured going
    * quadratic (8-bit bands saturate at 16x, and the old 15-bit cap
    * saturated the same way one scale later; ARCHITECTURE's scaling
    * curves keep the numbers). floor(log2)+1 is
    * engine-exact for integer n: log2 of a power of two is exact in IEEE
    * double on both engines, and any other integer is > 1 ulp away from
    * an integer log, so the floor never straddles a rounding difference.
    * greatest(n, 1) guards the n=0 corpus: Spark log2(0) is NULL (and
    * greatest skips it) while DuckDB raises — clamping the ARGUMENT keeps
    * both engines at bw=4 with an empty result.
    */
  private[graft] def bwExpr(n: String) =
    s"least($MAX_BW, greatest($MIN_BW, CAST(floor(log2(CAST(greatest($n, 1) AS DOUBLE))) AS INT) + 1))"

  /** Wide-fingerprint frame: (doc_id, fps, bw, bpw) from a (doc_id, text)
    * frame and a 1-row band-width frame. bpw = bands per word =
    * floor(60 / bw); the word count 4/bpw (1, 2 or 4) and the band
    * layout both derive from it in-plan. Band k of 0..3 lives in word
    * k div bpw at bit offset (k mod bpw) * bw — bands never straddle a
    * word boundary and stay pairwise DISJOINT at every width, which is
    * what the Hamming-3 pigeonhole recall proof needs.
    */
  private[graft] def simhashFps(docs: DataFrame,
                                bwFrame: DataFrame): DataFrame = {
    import graft.functions.SimHashFps.simhash_fps
    val params = bwFrame
      .withColumn("bpw", expr("CAST(60 div bw AS INT)"))
      .withColumn("nw", expr(
        "CASE WHEN bpw >= 4 THEN 1 WHEN bpw >= 2 THEN 2 ELSE 4 END"))
    docs.crossJoin(broadcast(params))
      .withColumn("fps", simhash_fps(col("text"), 60, col("nw")))
      .select(col("doc_id"), col("fps"), col("bw"), col("bpw"))
  }

  /** d06/d11's ORACLE unroll depth: single-pull min-label-propagation
    * rounds, enough to reach the fixture graphs' fixpoint (dense
    * near-dup cliques, diameter ≤ ~3) with headroom — trailing rounds
    * are no-ops. Since round 11 the Spark loop runs
    * large-star/small-star (round count ~log diameter, unrelated to
    * this constant), so the oracle carries its own convergence guard:
    * [[ccRoundsSql]] unrolls one EXTRA round and the query errors
    * loudly if that round still changes labels — an under-unrolled
    * oracle can never silently under-merge against a converged engine.
    * CC min-labels are algorithm-independent, so both engines still
    * compute the identical function.
    */
  private[graft] val CC_ROUND_BUDGET = 6

  /** d16's ORACLE unroll depth: d03's Hamming-3 pairs chain — on the
    * templated corpus, runs of docs each within 3 bits of the next form
    * paths of measured diameter 16 at sf0.1 (vs the dense near-dup
    * cliques d06/d11 see, diameter ≤ ~3) — and min-label propagation
    * needs O(diameter) pulls. 24 unrolled oracle rounds cover the
    * measured 17-pull fixpoint with headroom (trailing rounds no-ops),
    * and the same +1-round convergence guard as [[CC_ROUND_BUDGET]]
    * makes any future deeper graph fail the oracle loudly.
    */
  private[graft] val D16_ROUND_BUDGET = 24

  /** The Spark loop's cycle budget (one cycle = large-star +
    * small-star). Convergence needs ~log2(diameter) cycles + 1
    * stability-detection cycle — 12 covers a diameter-4000 chain, far
    * past anything a bounded-Hamming candidate graph produces, while
    * still failing loudly (instead of looping forever) on a
    * pathological input. Decoupled from the oracle unroll constants
    * above: the oracle guards its own convergence now.
    */
  private[graft] val CC_STAR_BUDGET = 12

  /** Hub-split threshold (degree): [[connectedComponents]] probes the
    * graph itself and switches to the hub-split formulation once any
    * node's degree (or any tentative component's size — the upper bound
    * on the emergent star's hub degree) exceeds this. 8e6 sits under
    * the measured ~10⁷-row single-task sort-budget crossover (round-12
    * planted-star measurement, recorded in ARCHITECTURE.md: window and
    * hub-split par at H=16e6, 660 vs 141 s at H=64e6) with margin for
    * payload-heavier rows.
    */
  private[graft] val CC_AUTO_HUB_DEGREE = 8L * 1000 * 1000

  /** d21's truth-enumeration doc-frequency cap: shingles appearing in
    * more than this many docs are excluded from the exact-Jaccard
    * ground-truth space (intersections AND sizes — the filtered Jaccard
    * stays internally exact). 64 clears the sf0.01 oracle corpus's
    * measured max df of 50 (so the gate checks uncapped semantics) and
    * bounds the truth join's per-shingle fan-out at 64² pairs on
    * duplicated stress corpora — the knob that makes the recall eval
    * itself runnable at 100 TB.
    */
  private[graft] val D21_DF_CAP = 64

  /** Spark SQL fragment: portable 60-bit hash of expr — the codegen'd
    * PortableHashExpr, registered as `graft_phash` (bit-identical to
    * Dets.phashSql's md5-hex form the oracle uses).
    */
  private def hS(e: String) = s"graft_phash($e)"

  /** The test corpus: originals + perturbed near-copies + exact copies.
    * graft-visible so the specs check the exact corpus the queries run on.
    */
  private[graft] def corpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = T.documents(s, d).select($"doc_id", $"text", $"lang", $"source")
    docs
      .unionByName(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"),
                concat($"text", lit(" near duplicate suffix")).as("text"),
                $"lang", $"source"))
      .unionByName(docs.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 2000000L).as("doc_id"), $"text", $"lang", $"source"))
  }

  private[datapipe] val corpusSql =
    """SELECT doc_id, text, lang, source FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, text || ' near duplicate suffix', lang, source
      |FROM documents WHERE doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id + 2000000, text, lang, source
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** d21/d23's eval corpus: [[corpus]] plus MID-similarity plants (the
    * first ~60% of every 13th doc's words + a distinct tail, J ≈
    * 0.55-0.65) — the dedup corpus's own planted copies are all J ≈ 1,
    * where a banding recall of 1.0 and a removal-rate cliff at τ=0.9
    * are both uninformative; the partials put mass exactly where the
    * curves bend.
    */
  private def evalCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = T.documents(s, d).select($"doc_id", $"text", $"lang", $"source")
    val partial = docs.filter($"doc_id" % 13 === 0)
      .withColumn("w", split($"text", " "))
      .filter(size($"w") >= 6)
      .select(($"doc_id" + 3000000L).as("doc_id"),
        concat(array_join(
            expr("slice(w, 1, greatest(3, (size(w) * 6) div 10))"), " "),
          lit(" mid sim tail pad")).as("text"),
        $"lang", $"source")
    corpus(s, d).unionByName(partial)
  }

  /** Exact-Jaccard ground-truth pairs (d1 < d2, J >= 0.5) over the
    * df-CAPPED shingle space of a signature frame: shingles shared by
    * more than [[D21_DF_CAP]] docs are dropped BEFORE the pair join
    * (fan-out bounded at cap per shingle) and sizes are recounted over
    * the SAME filtered space, so the Jaccard is exact over the filtered
    * representation — the standard stop-shingle trade, its
    * completeness cost quantifiable per run. rare's (h, df<=cap) frame
    * is an aggregate of sh — one extra narrow shuffle, no corpus
    * re-read. Returned frame is localCheckpointed (tiny), so consumers
    * never re-run the pair join.
    */
  private def cappedTruth(sig: DataFrame): DataFrame =
    cappedTruthOf(cappedShingles(sig))

  /** The df-capped (doc_id, h) shingle frame of a signature frame —
    * the FILTERED representation [[cappedTruth]]'s exact Jaccard is
    * defined over. Factored out so d24 can re-derive its MinHash
    * signatures over the SAME space (estimate and truth must share one
    * representation, or the reported error conflates K-quantization
    * with the cap's completeness trade).
    */
  private def cappedShingles(sig: DataFrame): DataFrame = {
    import sig.sparkSession.implicits._
    val shAll = sig.select($"doc_id", explode($"hset").as("h"))
    val rare = shAll.groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" <= D21_DF_CAP).select($"h")
    shAll.join(rare, Seq("h"), "left_semi")
  }

  /** K=16 MinHash signatures recomputed over the df-capped shingle
    * space — the SHARED representation the capped truth and the
    * estimator evals (d24 full-width, d35 b-bit) are all defined over:
    * estimate and truth must share one space, or the reported error
    * conflates K-quantization with the cap's completeness trade.
    */
  private def cappedSigsOf(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    import graft.functions.MinHashSigs.minhash_sigs
    sh.groupBy($"doc_id")
      .agg(collect_list($"h").as("hsetC"))
      .withColumn("mhbase", expr(s"transform(hsetC, h -> h % $P)"))
      .withColumn("sig",
        minhash_sigs(col("mhbase"), AB.map(_._1), AB.map(_._2), P))
      .select($"doc_id", $"sig")
  }

  /** The dedup-eval family's shared fixture as a persisted artifact —
    * the beam/PQ/BPE `_GRAFT_FINGERPRINT` discipline applied to its
    * LAST rebuilt-per-query cost: d21/d23/d24/d32/d35 each re-ran the
    * eval-corpus signature pass and the df-capped exact-Jaccard truth
    * enumeration (the two expensive passes; everything downstream is
    * O(true pairs)). One build per fixture generation persists, keyed
    * on `documents.parquet`:
    *   - `sigs`:        (doc_id, sig, hset) over [[evalCorpus]]
    *   - `capped_sh`:   the df-capped (doc_id, h) shingle frame
    *   - `truth`:       exact capped-Jaccard pairs, J >= 0.5
    *   - `capped_sigs`: K=16 signatures over the capped space (d24/d35)
    * All four are deterministic (sorted-distinct shingle hashes,
    * order-free MinHash minima, integer inter/uni with one IEEE
    * division), so the persisted frames are value-identical to a
    * re-derivation — OperatorSpec pins artifact == direct per frame
    * and every consumer's oracle hash is unchanged. */
  private[graft] def dedupEvalArtifact(s: SparkSession, d: String): String = {
    import org.apache.spark.sql.SaveMode
    graft.operators.Extras.memoizedArtifact(
        s, "graft_dedupeval", d, Seq("documents.parquet")) { dir =>
      val sig = signaturesOf(evalCorpus(s, d)).localCheckpoint()
      sig.write.mode(SaveMode.Overwrite).parquet(s"$dir/sigs")
      val sh = cappedShingles(sig).localCheckpoint()
      sh.write.mode(SaveMode.Overwrite).parquet(s"$dir/capped_sh")
      cappedTruthOf(sh)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/truth")
      cappedSigsOf(sh)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/capped_sigs")
    }
  }

  /** Session-checkpointed artifact frame — one materialized copy per
    * (session, artifact generation, frame), shared by the family. */
  private def evalFrame(s: SparkSession, d: String, name: String): DataFrame = {
    val dir = dedupEvalArtifact(s, d)
    val fp = graft.operators.Extras.sourceFingerprint(
      s, s"$d/documents.parquet")
    graft.operators.Extras.sessionArtifactFrame(s, dir, fp, name)
  }

  /** Artifact + direct twins for the spec's pin. */
  private[graft] def dedupEvalArtifactFrames(s: SparkSession, d: String)
      : Seq[DataFrame] = {
    val dir = dedupEvalArtifact(s, d)
    Seq("sigs", "capped_sh", "truth", "capped_sigs")
      .map(n => s.read.parquet(s"$dir/$n"))
  }
  private[graft] def dedupEvalDirectFrames(s: SparkSession, d: String)
      : Seq[DataFrame] = {
    val sig = signaturesOf(evalCorpus(s, d)).localCheckpoint()
    val sh = cappedShingles(sig).localCheckpoint()
    Seq(sig, sh, cappedTruthOf(sh), cappedSigsOf(sh))
  }

  /** Shared-key pair counts (id1 < id2, inter) of a DISTINCT (id, key)
    * frame — d22's sorted-group combination emitter replacing the key-
    * equi self-join every truth/containment pass used (guide §3.3 /
    * §2.3): the join shuffled the frame TWICE (x and y exchanges), ran
    * join machinery whose fan-out output immediately re-shuffled into
    * the pair count; the emitter shuffles the frame ONCE into per-key
    * sorted id sets and emits the same C(group, 2) pairs in-operator.
    * Requires (id, key) distinct and a bounded per-key group — exactly
    * what every caller guarantees via its df cap (fan-out ≤ C(cap, 2)
    * per key). One emitted row per shared key per pair, so the grouped
    * count equals the self-join's COUNT(*) bit for bit. A duplicate
    * (id, key) fails the query: the ids are collected as a list and the
    * same aggregation asserts them distinct (a set would silently drop
    * the duplicate and under-count `inter`; no extra job either way).
    */
  private[graft] def sharedKeyPairCounts(df: DataFrame, idCol: String,
      keyCol: String, out1: String, out2: String): DataFrame = {
    import df.sparkSession.implicits._
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(assert_true(size(array_distinct($"ids")) === size($"ids"),
          lit(s"sharedKeyPairCounts: duplicate ($idCol, $keyCol) rows — " +
            "the input must be distinct on (id, key)")).isNull &&
        size($"ids") >= 2)
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> " +
        "transform(slice(ids, i + 2, size(ids)), " +
        "b -> named_struct('d1', a, 'd2', b))))")).as("p"))
      .groupBy($"p.d1".as(out1), $"p.d2".as(out2))
      .agg(count(lit(1)).as("inter"))
  }

  /** [[cappedTruth]] from a precomputed [[cappedShingles]] frame. */
  private def cappedTruthOf(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    sharedKeyPairCounts(sh, "doc_id", "h", "d1", "d2")
      .join(sizes.select($"doc_id".as("d1"), $"sz".as("s1")), Seq("d1"))
      .join(sizes.select($"doc_id".as("d2"), $"sz".as("s2")), Seq("d2"))
      .withColumn("uni", expr("s1 + s2 - inter"))
      .withColumn("jaccard", expr("inter / uni"))
      .filter($"jaccard" >= 0.5)
      .select($"d1", $"d2", $"inter", $"uni", $"jaccard")
      .localCheckpoint()
  }

  /** DuckDB mirror of [[evalCorpus]] + [[cappedTruth]]: CTE chain ending
    * in `sigs` (the eval corpus's signatures) and `truth` (df-capped
    * exact-Jaccard pairs, J >= 0.5, MATERIALIZED). Shared by the d21
    * and d23 oracles.
    */
  private def evalTruthCtesSql: String =
    s"""c21 AS (
       |  $corpusSql
       |  UNION ALL
       |  SELECT doc_id + 3000000,
       |    array_to_string(words[1:GREATEST(3, (len(words) * 6) // 10)], ' ') ||
       |      ' mid sim tail pad',
       |    lang, source
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words, lang, source
       |        FROM documents WHERE doc_id % 13 = 0) pz
       |  WHERE len(words) >= 6),
       |${sigCtesSql("c21", "")},
       |shall AS (SELECT doc_id, unnest(hset) AS h FROM sigs),
       |rare AS (SELECT h FROM shall GROUP BY h
       |         HAVING COUNT(*) <= $D21_DF_CAP),
       |sh AS (SELECT doc_id, h FROM shall
       |       WHERE EXISTS (SELECT 1 FROM rare r WHERE r.h = shall.h)),
       |isect AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS inter
       |  FROM sh x JOIN sh y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |truth AS MATERIALIZED (
       |  SELECT d1, d2, inter, uni, jaccard FROM (
       |    SELECT d1, d2, inter, s1.sz + s2.sz - inter AS uni,
       |      inter / (s1.sz + s2.sz - inter) AS jaccard
       |    FROM isect
       |    JOIN sizes s1 ON s1.doc_id = d1
       |    JOIN sizes s2 ON s2.doc_id = d2) z
       |  WHERE jaccard >= 0.5)""".stripMargin

  /** MinHash signature + hashed shingle set per doc (Spark side). Two
    * fused codegen'd passes: WordShinglePHashes turns the text into the
    * sorted distinct 60-bit hashes of its 3-word shingles (shingle
    * strings never materialize — a k-word shingle is a byte range of the
    * text), and MinHashSigs derives all K=16 permutation minima in one
    * loop. Values identical to the declarative split/transform chain
    * (same md5 arithmetic over the same shingle bytes); the >=1-hash
    * filter is the old >=3-words filter (a k-shingle exists iff the doc
    * has >= k words).
    */
  private def signatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(corpus(s, d))

  /** [[signatures]] over an arbitrary (doc_id, text, ...) frame — the
    * fingerprint schema (doc_id, sig, hset) is also what
    * [[IncrementalDedup]] persists as its cross-run store.
    */
  private[datapipe] def signaturesOf(docs: DataFrame): DataFrame = {
    import graft.functions.MinHashSigs.minhash_sigs
    import graft.functions.WordShinglePHashes.word_shingle_phashes
    graft.GraftExtensions.register(docs.sparkSession)
    docs
      .withColumn("hset", word_shingle_phashes(col("text"), 3))
      .filter(size(col("hset")) >= 1)
      .withColumn("mhbase", expr(s"transform(hset, h -> h % $P)"))
      .withColumn("sig", minhash_sigs(col("mhbase"), AB.map(_._1), AB.map(_._2), P))
      .select(col("doc_id"), col("sig"), col("hset"))
  }

  /** The 4 LSH band keys of a MinHash signature column `sig`, as one
    * array expression (explode to get (doc_id, band_key) rows). Shared by
    * d02 and the incremental store.
    */
  private[datapipe] def bandKeyArray: org.apache.spark.sql.Column = {
    val keys = (0 until BANDS).map { k =>
      val parts = (1 to ROWS).map(j => s"element_at(sig, ${k * ROWS + j})")
      expr(s"concat_ws('_', '$k', ${parts.mkString(", ")})")
    }
    array(keys: _*)
  }

  /** DuckDB mirror of [[bandKeyArray]] (a list literal to unnest). */
  private[datapipe] def bandKeysSql: String =
    "[" + (0 until BANDS).map { k =>
      val parts = (1 to ROWS).map(j => s"sig[${k * ROWS + j}]")
      s"concat_ws('_', '$k', ${parts.mkString(", ")})"
    }.mkString(", ") + "]"

  /** DuckDB CTE chain computing (doc_id, hset, sig) from the docs CTE
    * `src`, every CTE name prefixed with `p` so two chains can coexist in
    * one query (IncrementalDedup runs one per batch). Mirrors
    * [[signaturesOf]] exactly — same shingling, same md5 arithmetic.
    */
  private[datapipe] def sigCtesSql(src: String, p: String): String = {
    val sigExpr = "[" + AB.map { case (a, b) =>
      s"list_min(list_transform(mhbase, m -> ($a * m + $b) % $P))"
    }.mkString(", ") + "]"
    s"""${p}worded AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM $src
       |  WHERE len(string_split(text, ' ')) >= 3),
       |${p}based AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(list_transform(
       |      list_transform(range(0, len(words) - 2),
       |        i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]),
       |      s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)))) AS hset
       |  FROM ${p}worded),
       |${p}sigs AS (
       |  SELECT doc_id, hset, $sigExpr AS sig
       |  FROM (SELECT doc_id, hset, list_transform(hset, h -> h % $P) AS mhbase
       |        FROM ${p}based) z)""".stripMargin
  }

  /** DuckDB mirror of [[signatures]]. */
  private def signaturesSql: String = {
    val sigExpr = "[" + AB.map { case (a, b) =>
      s"list_min(list_transform(mhbase, m -> ($a * m + $b) % $P))"
    }.mkString(", ") + "]"
    s"""corpus AS ($corpusSql),
       |worded AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM corpus
       |  WHERE len(string_split(text, ' ')) >= 3),
       |shingled AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(words) - 2),
       |    i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])) AS shingles
       |  FROM worded),
       |based AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(list_transform(shingles,
       |      s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)))) AS hset
       |  FROM shingled),
       |mh AS (
       |  SELECT doc_id, hset, list_transform(hset, h -> h % $P) AS mhbase
       |  FROM based),
       |sigs AS (SELECT doc_id, hset, $sigExpr AS sig FROM mh)""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by full-content hash, keep canonical min id.
    "d01_exact_dedup" -> { (s, d) =>
      import s.implicits._
      corpus(s, d)
        .groupBy(md5($"text").as("content_hash"))
        .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
        .filter($"n_copies" > 1)
        .select($"canonical_id", $"content_hash", $"n_copies")
        .orderBy($"canonical_id")
    },

    // MinHash + LSH banding: candidates from band-key equi-join, verified
    // with exact shingle Jaccard.
    "d02_minhash_lsh" -> { (s, d) =>
      import s.implicits._
      // eager, not .cache(): sig feeds FOUR branches of one job (the
      // band self-join's x/y + the two verify joins), and a lazy cache
      // is racy inside a single job — concurrent branches each compute
      // uncached partitions (measured: 12 parquet scans in the final
      // plan, the signature kernel ran ~4x). localCheckpoint runs it
      // once, before the join job plans.
      val sig = signatures(s, d).localCheckpoint()
      val bands = sig.select(col("doc_id"),
          explode(bandKeyArray).as("band_key"))
      val pairs = bands.as("x").join(bands.as("y"),
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      pairs
        .join(sig.select(col("doc_id").as("d1"), col("sig").as("sig1"),
                         col("hset").as("hs1")), Seq("d1"))
        .join(sig.select(col("doc_id").as("d2"), col("sig").as("sig2"),
                         col("hset").as("hs2")), Seq("d2"))
        // divide by a DOUBLE: `/ 16.0` is decimal division in Spark
        // (decimal(17,6) result) but double in DuckDB — dtype mismatch
        .withColumn("est_jaccard", expr(
          "size(filter(sequence(1, 16), j -> element_at(sig1, j) = element_at(sig2, j))) / CAST(16 AS DOUBLE)"))
        // exact Jaccard over the sorted 60-bit shingle hashes: codegen'd
        // linear merge; only hashes (8B/shingle) cross the shuffle, never
        // shingle strings. Collision odds ~2^-43 per pair (d04 precedent)
        .withColumn("inter",
          graft.functions.SortedIntersectCount
            .sorted_intersect_count(col("hs1"), col("hs2")))
        .withColumn("jaccard",
          expr("inter / (size(hs1) + size(hs2) - inter)"))
        .filter($"jaccard" >= 0.5)
        .select($"d1", $"d2", $"est_jaccard", $"jaccard")
        .orderBy($"d1", $"d2")
    },

    // SimHash: frequency-weighted fingerprint (one fused codegen'd pass
    // per doc), candidate pairs from 4 DISJOINT bands unioned (the d02
    // banding pattern), verified by Hamming distance <= 3 over the FULL
    // fingerprint. Recall is GUARANTEED, not probabilistic: <= 3
    // differing bits cannot touch all 4 disjoint bands, so every
    // qualifying pair shares at least one band key (uncovered bits only
    // ADD candidates, never lose them). Band WIDTH is corpus-ADAPTIVE:
    // bw = clamp(floor(log2 n)+1, 4, 60) derived in-plan from one count
    // and broadcast to every row (no driver scalar, no recompile per
    // corpus) — 2^bw band values keep the expected block population
    // n/2^bw flat as the corpus grows. Past bw=15 the four bands no
    // longer fit one 60-bit word and the FINGERPRINT WIDENS (see
    // [[simhashFps]]): word 1 is the upper md5 half (free), words 2/3 a
    // salted digest — same plan shape at every scale, and more bits =
    // finer similarity resolution (the Hamming-3 criterion tightens as
    // the corpus grows, which is the right direction for dedup: a
    // bigger corpus needs a sharper "near").
    // The verify runs FUSED into the band join: a wide fingerprint is
    // two longs, cheap enough to carry through the band shuffle, so the
    // Hamming filter rejects false candidates inside the join stage —
    // on a correlated (templated) corpus the candidate set can be 100x
    // the output (measured 71.8M -> 398k at stress 16x), and the old
    // candidates->distinct->re-join-fps shape dragged every false pair
    // through a shuffle and two joins before looking at a bit.
    "d03_simhash" -> { (s, d) =>
      import s.implicits._
      d03Pairs(s, d)
        .distinct() // a pair can match in several bands — AFTER the verify
        .orderBy($"d1", $"d2")
    },

    // Canonical-output mode for d03 (the d11 pattern over SimHash
    // pairs): verified Hamming pairs are quadratic on planted-dup
    // corpora by construction, so the scale-safe consumable is
    // (doc_id, canonical_id) — LINEAR in the corpus — via the same
    // star-CC d06/d11 run. Every pair generator in the library now has
    // its linear consumable. d16's graphs are the DEEP case (Hamming
    // chains, diameter grows with the corpus) — the workload the
    // log-round star algorithm exists for.
    "d16_simhash_clusters" -> { (s, d) =>
      import s.implicits._
      // eager: CC reads the pairs twice (edge frame and node roster)
      val pairs = d03Pairs(s, d).select($"d1", $"d2").distinct()
        .localCheckpoint()
      // no >1-member filter: see d06
      connectedComponents(pairs)
        .select($"doc_id", $"lbl".as("canonical_id"))
        .orderBy($"doc_id")
    },

    // Character-4-gram Jaccard with blocked pair generation. Gram sets are
    // pre-hashed to sorted long arrays so the per-pair intersection is a
    // codegen'd linear merge (SortedIntersectCount) instead of an
    // interpreted array_intersect — the pair-verify loop is the quadratic
    // hot path. 60-bit gram hashes: collision odds ~2^-43 per doc pair,
    // far below fp noise; the string-based oracle stays exact.
    "d04_ngram_jaccard" -> { (s, d) =>
      d04Pairs(s, d).orderBy(col("d1"), col("d2"))
    },

    // LSH RECALL/PRECISION EVALUATION — s14's twin for the dedup side:
    // before trusting banded MinHash at 100 TB, measure what the bands
    // actually catch. Ground truth is EXACT and COMPLETE for J > 0: any
    // pair with a shared shingle appears in the shingle-inverted-index
    // join (a pair with Jaccard >= tau > 0 shares >= 1 shingle by
    // definition), and because each doc's shingle hashes are DISTINCT,
    // |intersection| is exactly the pair's match count in that join —
    // groupBy(d1, d2).count() IS the exact verify, so only (d1, d2)
    // longs ever shuffle (map-side combined) and the hash-set arrays
    // never leave the scan side; per-doc set sizes join back as two
    // narrow columns. (The first cut carried both hsets through the
    // pair shuffle for a sorted-merge verify — ~100 longs per pair ×
    // a quadratic pair count OOM'd the 16x stress cell; the count
    // formulation is the standard exact set-similarity join.)
    // Candidates are d02's band-key pairs BEFORE
    // their verify. Per threshold tau: recall = |cand ∩ truth_tau| /
    // |truth_tau| and precision = same hits / |cand| (a candidate with
    // J >= tau IS a truth pair — it shares a shingle a fortiori), so
    // the report is the measured banding S-curve (theory for K=16,
    // b=4, r=4: P(cand|J) = 1-(1-J^4)^4 ~ 0.23 at J=0.5, 0.87 at 0.8)
    // next to the candidate bill. The dedup corpus's planted copies are
    // all J ~ 1 (bands catch those ~always — recall 1.0 tells you
    // nothing), so the eval corpus ADDS mid-similarity plants: the
    // first ~60% of every 13th doc's words plus a distinct tail lands
    // J ~ 0.55-0.65, exactly the region where banding starts dropping
    // pairs and the measured recall@0.5 separates from recall@0.8.
    // Scale honesty: the ground-truth join fans out on shingle
    // doc-frequency (heavy template shingles make it quadratic in the
    // worst case) — it is the EVAL, priced like s14's brute force. The
    // production knob is BUILT IN since round 12: truth enumeration
    // runs over the df-capped shingle space (shingles appearing in more
    // than D21_DF_CAP docs are dropped from BOTH the intersection and
    // the set sizes, so the reported Jaccard is exact over the filtered
    // representation — the standard stop-shingle trick of web-scale
    // dedup evals). The cap does not bind on the sf0.01 oracle corpus
    // (max df 50 < 64 measured), so the gate checks the exact
    // semantics; on duplicated stress corpora it bounds the per-shingle
    // fan-out at cap², making the eval itself runnable at corpus scale
    // at a completeness trade you chose. Candidates are NEVER capped —
    // the cap is a truth-enumeration knob only. Only 60-bit hashes and
    // doc_ids shuffle; checkpointed frames are the tiny verified pair
    // sets, so neither pass runs twice.
    "d21_lsh_recall" -> { (s, d) =>
      import s.implicits._
      // signatures + capped truth off the persisted dedup-eval
      // artifact (one build per fixture generation, shared with
      // d23/d24/d32/d35)
      val sig = evalFrame(s, d, "sigs")
      val bands = sig.select(col("doc_id"), explode(bandKeyArray).as("band_key"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
        .localCheckpoint()
      val truth = evalFrame(s, d, "truth")
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      def row(tau: Double): DataFrame = {
        val tr = truth.filter($"jaccard" >= tau)
        val hits = tr.join(cand, Seq("d1", "d2"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        tr.agg(count(lit(1)).as("n_truth"))
          .crossJoin(broadcast(hits))
          .crossJoin(broadcast(nCand))
          .select(lit(tau).cast("double").as("threshold"),
            $"n_truth", $"n_cand", $"hits",
            ($"hits" / $"n_truth".cast("double")).as("recall"),
            ($"hits" / $"n_cand".cast("double")).as("precision"))
      }
      row(0.5).unionByName(row(0.8)).orderBy($"threshold")
    },

    // DEDUP-RATE CURVE — the report a data-mixing decision reads BEFORE
    // choosing a dedup threshold: at each candidate τ, how many exact
    // ground-truth pairs exist and what fraction of the corpus would a
    // min-id-keep dedup remove (a doc is removed iff a LOWER-id doc with
    // J >= τ exists — d14's domination rule, no transitive closure, so
    // every duplicate neighborhood keeps exactly its minimum). Runs on
    // the mid-similarity eval corpus so the curve actually bends between
    // τ=0.5 and 0.9 instead of cliffing at the planted exact copies.
    // Scale shape: ONE df-capped truth pass ([[cappedTruth]], the
    // checkpointed frame is O(true pairs)); each τ row is then an
    // integer aggregate over that tiny frame — the sweep costs one
    // corpus pass total, not one per threshold. Counts integer; the
    // fraction is one IEEE division.
    "d23_dedup_rate_curve" -> { (s, d) =>
      import s.implicits._
      val sig = evalFrame(s, d, "sigs")
      val truth = evalFrame(s, d, "truth")
      val nDocs = sig.agg(count(lit(1)).as("n_docs"))
      def row(tau: Double): DataFrame =
        truth.filter($"jaccard" >= tau)
          .agg(count(lit(1)).as("n_pairs"),
               countDistinct($"d2").as("n_removed"))
          .crossJoin(broadcast(nDocs))
          .select(lit(tau).cast("double").as("threshold"),
            $"n_docs", $"n_pairs", $"n_removed",
            ($"n_removed" / $"n_docs".cast("double")).as("frac_removed"))
      Seq(0.5, 0.7, 0.8, 0.9).map(row).reduce(_ unionByName _)
        .orderBy($"threshold")
    },

    // MINHASH ESTIMATOR ERROR — the last unmeasured approximation in the
    // dedup family: d02 thresholds on the K=16 signature's Jaccard
    // ESTIMATE (matching-component fraction), d21 measures the BANDING's
    // recall, but nothing measured the estimator itself. Per true-J band
    // ([0.5,0.7), [0.7,0.9), [0.9,1.0]): micro-averaged true Jaccard
    // (Σinter/Σunion — integer sums, one division) vs micro-averaged
    // estimate (Σmatches/16n), plus the count of pairs whose estimate
    // misses truth by > 0.25 — at K=16 the per-pair std is
    // √(J(1-J)/16) ≈ 0.125 at J=0.5, so the tail count is the number
    // that tells you whether K must grow. Determinism: matches and
    // inter/uni are integers; est (k/16) is exactly representable;
    // true J is one division — the |est−J| > 0.25 comparison is
    // IEEE-identical per pair on both engines, and every aggregate is
    // an integer sum divided once. Estimate and truth share ONE space:
    // the K=16 signatures are re-derived over the df-CAPPED shingle
    // sets (the same filtered representation cappedTruth's exact J is
    // defined over), so the reported error is PURE K-quantization even
    // on duplicated corpora where the cap binds — signatures over the
    // full set vs truth over the capped set would conflate the two
    // (non-binding on the oracle corpus, where capped == full and the
    // signatures are bit-identical to d02's). Scale shape: one
    // df-capped shingle pass shared by truth and signatures (cached),
    // the re-minhash is one groupBy over O(capped shingles), capped
    // signatures join back on the two doc-id keys (K longs per row),
    // O(true pairs) everything after.
    "d24_minhash_estimator_error" -> { (s, d) =>
      import s.implicits._
      val truth = evalFrame(s, d, "truth")
      val sigC = evalFrame(s, d, "capped_sigs")
      val sigs1 = sigC.select($"doc_id".as("d1"), $"sig".as("sig1"))
      val sigs2 = sigC.select($"doc_id".as("d2"), $"sig".as("sig2"))
      truth.join(sigs1, Seq("d1")).join(sigs2, Seq("d2"))
        .withColumn("matches", expr(
          "size(filter(zip_with(sig1, sig2, (a, b) -> a = b), x -> x))"))
        .withColumn("j_band",
          when($"jaccard" >= 0.9, "0.90-1.00")
            .when($"jaccard" >= 0.7, "0.70-0.90")
            .otherwise("0.50-0.70"))
        .groupBy($"j_band")
        .agg(count(lit(1)).as("n_pairs"),
             (sum($"inter") / sum($"uni").cast("double"))
               .as("micro_true_j"),
             (sum($"matches") / (count(lit(1)) * 16.0)).as("micro_est_j"),
             sum(when(abs($"matches" / lit(16.0) - $"jaccard") > 0.25, 1L)
               .otherwise(0L)).as("n_large_err"))
        .orderBy($"j_band")
    },

    // B-BIT MINHASH ESTIMATOR — the STORAGE axis of the dedup-eval
    // family (d24 prices the K=16 full-width estimator's variance;
    // s24/s26 price the ANN stack's 8-bit codes; this prices Li &
    // König's b-bit minwise hashing, the trick a 100 TB dedup actually
    // ships: keep only the lowest b bits of each min — 16 bits/doc at
    // b=1 vs ~31 bits/slot full-width, a ~31× signature compression —
    // and correct for random low-bit collisions: E[match] = J +
    // (1−J)/2^b, so Ĵ = (A − 1/2^b)/(1 − 1/2^b)): per true-J band,
    // the full, 2-bit, and 1-bit micro-averaged estimates side by side
    // with the exact capped Jaccard, plus the 1-bit >0.25-error tail —
    // the variance cost of the storage saved, MEASURED on the real
    // corpus instead of assumed from the paper (the correction
    // constant 1/2^b is itself only asymptotic, which is exactly why
    // the bias is worth a table). Scale shape: d24's exactly — the
    // signature and truth passes are shared; per-pair work is three
    // integer slot-match counts over the SAME K=16 signatures (the
    // b-bit views are mod-4/mod-2 of the same mins — no new hashing,
    // the technique's whole point); aggregates all integer, one IEEE
    // expression per estimate at the end.
    "d35_bbit_minhash" -> { (s, d) =>
      import s.implicits._
      val truth = evalFrame(s, d, "truth")
      val sigC = evalFrame(s, d, "capped_sigs")
      truth
        .join(sigC.select($"doc_id".as("d1"), $"sig".as("sig1")), Seq("d1"))
        .join(sigC.select($"doc_id".as("d2"), $"sig".as("sig2")), Seq("d2"))
        .withColumn("mf", expr(
          "size(filter(zip_with(sig1, sig2, (a, b) -> a = b), x -> x))"))
        .withColumn("m2", expr(
          "size(filter(zip_with(sig1, sig2, (a, b) -> a % 4 = b % 4)," +
          " x -> x))"))
        .withColumn("m1", expr(
          "size(filter(zip_with(sig1, sig2, (a, b) -> a % 2 = b % 2)," +
          " x -> x))"))
        .withColumn("j_band",
          when($"jaccard" >= 0.9, "0.90-1.00")
            .when($"jaccard" >= 0.7, "0.70-0.90")
            .otherwise("0.50-0.70"))
        .groupBy($"j_band")
        .agg(count(lit(1)).as("n_pairs"),
             (sum($"inter") / sum($"uni").cast("double"))
               .as("micro_true_j"),
             (sum($"mf") / (count(lit(1)) * 16.0)).as("est_full"),
             ((sum($"m2") / (count(lit(1)) * 16.0) - 0.25) / 0.75)
               .as("est_2bit"),
             ((sum($"m1") / (count(lit(1)) * 16.0) - 0.5) * 2)
               .as("est_1bit"),
             sum(when(
               abs(($"m1" / lit(16.0) - 0.5) * 2 - $"jaccard") > 0.25, 1L)
               .otherwise(0L)).as("n_large_err_1bit"))
        .orderBy($"j_band")
    },

    // LSH BAND-PLAN TABLE — the knob-sizing report for the banding
    // itself (s27 prices IVF's nprobe; this prices MinHash's (b, r)):
    // d21 measures the SHIPPED config (b=4, r=4); before committing a
    // 100 TB dedup run you want the whole frontier — every split of
    // the K=16 signature into b bands of r rows, each priced as
    // measured candidate bill vs measured recall at τ=0.5/0.8 against
    // the SAME df-capped exact truth. Theory says recall rises and
    // precision collapses as r shrinks (P(cand|J) = 1−(1−J^r)^b); the
    // table shows where on that curve the corpus actually sits, which
    // is the number that picks r. Scale shape: the bill is CANDIDATE
    // PROBES Σ_buckets c·(c−1)/2 computed from band-bucket SIZES — one
    // narrow count aggregate per config, never a pair join (the first
    // formulation materialized each config's DISTINCT pair set; on a
    // duplicate-heavy corpus the r=1/r=2 configs' pair sets are
    // quadratic in clique size BY CONSTRUCTION — measured 14/41/225 s
    // at 1/4/16× — which is precisely the explosion the probe-count
    // cost model exists to price without paying); recall is evaluated
    // TRUTH-side — a pair is caught iff some band's r-row signature
    // slices agree, the identical predicate to candidate-set
    // membership, tested on the O(true pairs) checkpointed frame with
    // both endpoints' K-slot signatures joined in ONCE for all four
    // configs. ONE signature pass + ONE truth pass shared; per config
    // one bucket-size aggregate + one map-only pass over the truth
    // frame. Counts integer; each recall is one IEEE division.
    "d32_band_plan" -> { (s, d) =>
      import s.implicits._
      val sig = evalFrame(s, d, "sigs")
      val truth = evalFrame(s, d, "truth")
      val tsig = truth
        .join(sig.select($"doc_id".as("d1"), $"sig".as("sig1")), Seq("d1"))
        .join(sig.select($"doc_id".as("d2"), $"sig".as("sig2")), Seq("d2"))
        .select($"jaccard", $"sig1", $"sig2")
        .localCheckpoint()
      def bandKeys(b: Int, r: Int) = array((0 until b).map { k =>
        val parts = (1 to r).map(j => s"element_at(sig, ${k * r + j})")
        expr(s"concat_ws('_', '$k', ${parts.mkString(", ")})")
      }: _*)
      def row(b: Int, r: Int): DataFrame = {
        val nProbe = sig
          .select($"doc_id", explode(bandKeys(b, r)).as("bk"))
          .groupBy($"bk").agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L))
            .as("n_probe_pairs"))
        val hit = expr((0 until b).map { k =>
          s"(slice(sig1, ${k * r + 1}, $r) = slice(sig2, ${k * r + 1}, $r))"
        }.mkString(" OR "))
        tsig.withColumn("hit", hit)
          .agg(
            sum(when($"jaccard" >= 0.5, 1L).otherwise(0L)).as("n_truth50"),
            sum(when($"jaccard" >= 0.5 && $"hit", 1L).otherwise(0L))
              .as("hits50"),
            sum(when($"jaccard" >= 0.8, 1L).otherwise(0L)).as("n_truth80"),
            sum(when($"jaccard" >= 0.8 && $"hit", 1L).otherwise(0L))
              .as("hits80"))
          .crossJoin(broadcast(nProbe))
          .select(lit(b).cast("int").as("n_bands"),
            lit(r).cast("int").as("n_rows"), $"n_probe_pairs",
            $"n_truth50", $"hits50",
            ($"hits50" / $"n_truth50".cast("double")).as("recall50"),
            $"n_truth80", $"hits80",
            ($"hits80" / $"n_truth80".cast("double")).as("recall80"))
      }
      Seq((2, 8), (4, 4), (8, 2), (16, 1)).map { case (b, r) => row(b, r) }
        .reduce(_ unionByName _)
        .orderBy($"n_rows".desc)
    },

    // CONTAINMENT DEDUP — the ASYMMETRIC half of near-dup detection
    // (d02/d04 score |A∩B|/|A∪B|, which a short quote embedded in a
    // long article can never raise past the length ratio: a 30% prefix
    // quote sits at J ≈ 0.3, invisible to every symmetric detector in
    // the library, yet it is exactly the syndication/quotation
    // redundancy a curation pipeline wants attributed): report every
    // pair with containment C(sub→sup) = |S_sub ∩ S_sup| / |S_sub| ≥
    // 0.8 over 3-word shingles but Jaccard < 0.5 — the pairs ONLY an
    // asymmetric measure finds (J ≥ 0.5 pairs are d02/d04's, excluded
    // so the output is the asymmetric increment). Subject = the
    // smaller shingle set (ties to the smaller id): C ≥ 0.8 with
    // equal sizes forces J ≥ 2/3, so the big-side subject can never
    // pass the filter — the smaller side IS the contained one. The
    // corpus adds planted quotes (first max(5, 30%) words of every
    // 11th doc, id + 4e6) — C = 1.0 by construction since a prefix's
    // shingles are a subset. Scale shape: the d21 df-capped inverted
    // index (stop-shingles dropped before the pair join, fan-out ≤
    // cap per shingle), |A∩B| as a pure pair COUNT — only (doc_id,
    // hash) longs shuffle, sizes join back narrow, output linear in
    // true containment pairs. Integer ppm containment; jaccard is one
    // IEEE division.
    "d33_containment" -> { (s, d) =>
      import s.implicits._
      import graft.functions.WordShinglePHashes.word_shingle_phashes
      graft.GraftExtensions.register(s)
      val docs = T.documents(s, d).select($"doc_id", $"text", $"lang", $"source")
      val quotes = docs.filter($"doc_id" % 11 === 0)
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 10)
        .select(($"doc_id" + 4000000L).as("doc_id"),
          array_join(expr("slice(w, 1, greatest(5, (size(w) * 3) div 10))"),
            " ").as("text"),
          $"lang", $"source")
      val hs = corpus(s, d).unionByName(quotes)
        .withColumn("hset", word_shingle_phashes($"text", 3))
        .filter(size($"hset") >= 1)
        .select($"doc_id", explode($"hset").as("h"))
      val rare = hs.groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" <= D21_DF_CAP).select($"h")
      // materialized ONCE: sh feeds the pair emitter + the two size
      // joins and the executed plan showed NO runtime exchange reuse
      // across them, so the corpus shingle pass re-ran per branch (the
      // checkpointed frame is O(docs x shingles) longs, ~12 MB here)
      val sh = hs.join(rare, Seq("h"), "left_semi").localCheckpoint()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
        .localCheckpoint()
      // pair generation via the sorted-group emitter (one shuffle of
      // sh + in-group C(n,2) emission) instead of the h-equi self-join
      // that shuffled sh twice and re-shuffled the join's fan-out —
      // see sharedKeyPairCounts; identical pair multiset by the df cap
      sharedKeyPairCounts(sh, "doc_id", "h", "da", "db")
        .join(sizes.select($"doc_id".as("da"), $"sz".as("sza")), Seq("da"))
        .join(sizes.select($"doc_id".as("db"), $"sz".as("szb")), Seq("db"))
        .withColumn("aIsSub",
          $"sza" < $"szb" || ($"sza" === $"szb" && $"da" < $"db"))
        .select(
          when($"aIsSub", $"da").otherwise($"db").as("d_sub"),
          when($"aIsSub", $"db").otherwise($"da").as("d_sup"),
          $"inter",
          when($"aIsSub", $"sza").otherwise($"szb").as("sz_sub"),
          when($"aIsSub", $"szb").otherwise($"sza").as("sz_sup"),
          ($"inter" / ($"sza" + $"szb" - $"inter").cast("double"))
            .as("jaccard"))
        .withColumn("cont_ppm", expr("inter * 1000000 DIV sz_sub"))
        .filter($"cont_ppm" >= 800000L && $"jaccard" < 0.5)
        .select($"d_sub", $"d_sup", $"inter", $"sz_sub", $"sz_sup",
          $"cont_ppm", $"jaccard")
        .orderBy($"d_sub", $"d_sup")
    },

    // CROSS-LINGUAL DUPLICATE DETECTION — the dedup blind spot every
    // shingle/minhash/simhash operator in this library shares: a
    // translated or transliterated copy shares ZERO word shingles with
    // its original, so d02/d03/d04 structurally cannot see it. The
    // word-identity-free signal that survives translation-by-
    // substitution is the REPETITION STRUCTURE: token i's fingerprint
    // contribution is the position of the previous occurrence of the
    // SAME word (0 if first occurrence) — a sequence invariant under
    // any injective word mapping, the same idea as normalized-pattern
    // matching in plagiarism detection. Docs with equal structure
    // fingerprints and DIFFERENT langs are cross-lingual duplicate
    // candidates (equal length is implied by equal pattern). The
    // corpus plants word-substitution "translations" (every 19th doc
    // ciphered word-for-word via md5, lang 'xx', id + 5e6) — byte-
    // disjoint from their originals, invisible to every other
    // detector, pattern-identical by construction. Scale shape: one
    // scan → (doc_id, pos, word-hash) longs; the previous-occurrence
    // lag is a window partitioned by (doc_id, word) — max partition =
    // one word's repeats in one doc; fingerprints are one 60-bit hash
    // per doc; the pair join is an equi-join on fp (group sizes =
    // structural-dup cliques). Linear, text never shuffles twice —
    // WITH one guard: docs with no repeated word all share the
    // all-zeros pattern per length, so the fp equi-join would form a
    // clique of every equal-length all-distinct-word doc across
    // languages (quadratic on short-doc corpora, and semantically
    // vacuous — "no repetition" is the ABSENCE of a structure signal,
    // not a match). Such docs are filtered before the join (max pp
    // > 0), which also caps the largest fp group at the true
    // structural-dup clique size.
    "d34_crosslingual" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = T.documents(s, d).select($"doc_id", $"text", $"lang")
      val cipher = docs.filter($"doc_id" % 19 === 0)
        .select(($"doc_id" + 5000000L).as("doc_id"),
          expr("array_join(transform(filter(split(text, ' '), " +
            "x -> x <> ''), w -> concat('z', substring(md5(concat('c:', w))" +
            ", 1, 6))), ' ')").as("text"),
          lit("xx").as("lang"))
      val toks = docs.unionByName(cipher)
        .select($"doc_id", $"lang",
          posexplode(expr("filter(split(text, ' '), x -> x <> '')"))
            .as(Seq("pos", "w")))
      val byWord = Window.partitionBy($"doc_id", $"w").orderBy($"pos")
      val fps = toks
        .withColumn("pp",
          coalesce(lag($"pos", 1).over(byWord) + 1, lit(0)).cast("long"))
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_tokens"),
          graft.Dets.phash(expr(
            "array_join(transform(array_sort(collect_list(struct(pos, pp)))" +
            ", x -> CAST(x.pp AS STRING)), ',')")).as("fp"),
          max($"pp").as("max_pp"))
        .filter($"max_pp" > 0).drop("max_pp")
        // materialized once: the x/y sides of the fp self-join don't
        // reuse each other's exchange at runtime, so the per-(doc,word)
        // window + structure-fingerprint pass ran twice
        .localCheckpoint()
      fps.as("x").join(fps.as("y"),
          col("x.fp") === col("y.fp") &&
          col("x.doc_id") < col("y.doc_id") &&
          col("x.lang") =!= col("y.lang"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.n_tokens").as("n_tokens"),
          col("x.lang").as("lang1"), col("y.lang").as("lang2"))
        .orderBy($"d1", $"d2")
    },

    // DUPLICATE-CLUSTER SIZE PROFILE — the head-heaviness audit that
    // decides HOW a corpus should be deduped (filling the d36 slot the
    // round-14 registry skipped): the same removal count can come from
    // millions of pairs (keep-one-of-two — cheap, any detector works)
    // or a few giant template cliques (where near-dup keep-one throws
    // away cluster-internal diversity and soft reweighting — d29 — or
    // cluster-aware sampling is the right call; and where CC itself
    // needs the d16 hub-split). The distribution is the decision: per
    // power-of-two cluster-size bucket (next-pow2 ≥ size, integer-only
    // via length(bin(sz−1)) — no libm log2), the cluster count, member
    // docs, redundant docs (members − keepers), and each bucket's
    // redundancy as corpus ppm; the size-1 row accounts every
    // unclustered doc so the table partitions the corpus exactly.
    // Scale shape: rides d06's linear-consumable CC output (the
    // family's one CC bill, already hub-split-guarded); everything
    // after is O(clusters) narrow aggregates + two 1-row broadcasts.
    "d36_cluster_profile" -> { (s, d) =>
      import s.implicits._
      // d06's post-checkpoint tail (cluster filter + semi join + sort)
      // is read by both the bucket histogram and the clustered count —
      // materialize it once
      val clusters = queries("d06_dedup_clusters")(s, d).localCheckpoint()
      val nDocs = corpus(s, d)
        .agg(count(lit(1)).as("n_corpus"))
      val nClustered = clusters.agg(count(lit(1)).as("n_clustered"))
      val buckets = clusters.groupBy($"cluster_id")
        .agg(count(lit(1)).as("sz"))
        .withColumn("bucket_max",
          expr("shiftleft(CAST(1 AS BIGINT), length(bin(sz - 1)))"))
        .groupBy($"bucket_max")
        .agg(count(lit(1)).as("n_clusters"), sum($"sz").as("n_docs"))
        .withColumn("n_redundant", $"n_docs" - $"n_clusters")
      val singletons = nDocs.crossJoin(nClustered)
        .select(lit(1L).as("bucket_max"),
          ($"n_corpus" - $"n_clustered").as("n_clusters"),
          ($"n_corpus" - $"n_clustered").as("n_docs"),
          lit(0L).as("n_redundant"))
      buckets.unionByName(singletons)
        .crossJoin(broadcast(nDocs))
        .select($"bucket_max", $"n_clusters", $"n_docs", $"n_redundant",
          expr("n_redundant * 1000000 DIV n_corpus").as("redundant_ppm"))
        .orderBy($"bucket_max")
    },

    // DEDUP CASCADE REPORT — the pipeline-ORDERING decision table (a
    // production dedup run stages its detectors cheapest-first: exact
    // hash, then MinHash-verified near-dup, then the asymmetric
    // containment pass — and the number that justifies each stage is
    // its MARGINAL removal on what the previous stages left, not its
    // standalone rate, because the detectors' catch sets overlap
    // heavily: every exact copy is also a J=1 near-dup): three stages
    // run in sequence over a corpus planted with all four redundancy
    // classes (exact copies, near-dups, mid-similarity partials,
    // contained quotes), each reporting docs-in / removed / docs-out /
    // marginal fraction. Stage rules are the family's own: exact =
    // min-id per md5 (d01), near-dup = lower-id domination on df-capped
    // exact Jaccard >= 0.8 (d21's truth machinery over stage-1
    // survivors), containment = d33's C >= 0.8 AND J < 0.5 subject rule
    // over stage-2 survivors. Scale shape: each stage is its family
    // member's plan on a SHRINKING corpus — the cascade's own point;
    // the report is three 1-row aggregates assembled map-side.
    "d38_cascade_report" -> { (s, d) =>
      import s.implicits._
      graft.GraftExtensions.register(s)
      val docs0 = T.documents(s, d)
        .select($"doc_id", $"text", $"lang", $"source")
      val quotes = docs0.filter($"doc_id" % 11 === 0)
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 10)
        .select(($"doc_id" + 4000000L).as("doc_id"),
          array_join(expr("slice(w, 1, greatest(5, (size(w) * 3) div 10))"),
            " ").as("text"),
          $"lang", $"source")
      val cascade = evalCorpus(s, d)
        .unionByName(quotes).localCheckpoint()
      // stage 1: exact
      val keep1 = cascade.select($"doc_id", md5($"text").as("h"))
        .groupBy($"h").agg(min($"doc_id").as("doc_id")).select($"doc_id")
      val surv1 = cascade.join(keep1, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      // stage 2: capped-Jaccard >= 0.8 lower-id domination
      // eager: cappedTruth's first job branches sig1 twice (explode +
      // df-cap), and a lazy cache races inside that job
      val sig1 = signaturesOf(surv1).localCheckpoint()
      val rm2 = cappedTruth(sig1)
        .filter($"jaccard" >= 0.8)
        .select($"d2".as("doc_id")).distinct().localCheckpoint()
      // stage 3: containment subject rule (d33) on stage-2 survivors.
      // The shingle sets are REUSED from stage 2's cached signature
      // frame (same word_shingle_phashes representation) — only the
      // df cap recounts over the shrunken corpus, as it must; the
      // text is never re-hashed
      val hs = sig1.join(rm2, Seq("doc_id"), "left_anti")
        .filter(size($"hset") >= 1)
        .select($"doc_id", explode($"hset").as("h"))
      val rare = hs.groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" <= D21_DF_CAP).select($"h")
      // d33's lesson applied to the cascade's stage 3: sh feeds the
      // pair emitter + the two size joins and exchange reuse does not
      // fire across them, so the explode + df-cap semi-join re-ran —
      // materialize the narrow (doc_id, h) frame once. Pair generation
      // rides the sorted-group emitter (one shuffle, no self-join),
      // like d33.
      val sh = hs.join(rare, Seq("h"), "left_semi").localCheckpoint()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
        .localCheckpoint()
      val rm3 = sharedKeyPairCounts(sh, "doc_id", "h", "da", "db")
        .join(sizes.select($"doc_id".as("da"), $"sz".as("sza")), Seq("da"))
        .join(sizes.select($"doc_id".as("db"), $"sz".as("szb")), Seq("db"))
        .withColumn("aIsSub",
          $"sza" < $"szb" || ($"sza" === $"szb" && $"da" < $"db"))
        .withColumn("sz_sub", when($"aIsSub", $"sza").otherwise($"szb"))
        .filter(expr("inter * 1000000 DIV sz_sub") >= 800000L &&
          ($"inter" / ($"sza" + $"szb" - $"inter").cast("double")) < 0.5)
        .select(when($"aIsSub", $"da").otherwise($"db").as("doc_id"))
        .distinct()
      cascade.agg(count(lit(1)).as("n0"))
        .crossJoin(broadcast(keep1.agg(count(lit(1)).as("k1"))))
        .crossJoin(broadcast(rm2.agg(count(lit(1)).as("r2"))))
        .crossJoin(broadcast(rm3.agg(count(lit(1)).as("r3"))))
        .select(explode(array(
          struct(lit("1_exact").as("stage"), $"n0".as("docs_in"),
            ($"n0" - $"k1").as("n_removed"), $"k1".as("docs_out")),
          struct(lit("2_minhash").as("stage"), $"k1".as("docs_in"),
            $"r2".as("n_removed"), ($"k1" - $"r2").as("docs_out")),
          struct(lit("3_containment").as("stage"),
            ($"k1" - $"r2").as("docs_in"), $"r3".as("n_removed"),
            ($"k1" - $"r2" - $"r3").as("docs_out")))).as("r"))
        .select($"r.stage", $"r.docs_in", $"r.n_removed", $"r.docs_out",
          ($"r.n_removed" / $"r.docs_in".cast("double")).as("removed_frac"))
        .orderBy($"stage")
    },

    // CROSS-SOURCE OVERLAP MATRIX — the corpus-composition report a
    // data-mixing decision needs before weighting sources: for every
    // source pair, the exact shingle-set Jaccard (how much of source A
    // is re-printed in source B — syndicated articles, mirrored sites,
    // shared boilerplate). Naive form is k² corpus self-joins; this
    // plan touches the corpus ONCE: distinct (shingle-hash, source)
    // pairs (the only corpus-sized shuffle — 8 B hash + short source
    // key, map-side combined), then per-shingle source SETS (≤ k
    // entries each), pair emission ONLY for shingles shared by ≥ 2
    // sources (sparse by nature — the overwhelmingly common 1-source
    // shingle emits nothing), and a k²-row report joined from k-row
    // marginals. At 100 TB the per-shingle set is still bounded by k
    // (sources, not rows), so everything after the first aggregate is
    // O(k²) — independent of corpus size. 60-bit shingle hashes: the
    // d02/d04 collision-odds precedent (~2^-43 per pair) applies.
    "d22_source_overlap" -> { (s, d) =>
      import s.implicits._
      import graft.functions.WordShinglePHashes.word_shingle_phashes
      graft.GraftExtensions.register(s)
      val hs = T.documents(s, d)
        .withColumn("hset", word_shingle_phashes($"text", 3))
        .filter(size($"hset") >= 1)
        .select($"source", explode($"hset").as("h"))
        .distinct()
      val srcSets = hs.groupBy($"h")
        .agg(sort_array(collect_set($"source")).as("srcs"))
      // all (a, b) with a < b from the sorted per-shingle source set
      val inter = srcSets.filter(size($"srcs") >= 2)
        .select(explode(expr(
          "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), " +
          "b -> named_struct('a', a, 'b', b))))")).as("p"))
        .groupBy($"p.a".as("sa"), $"p.b".as("sb"))
        .agg(count(lit(1)).as("inter"))
      val nsrc = hs.groupBy($"source").agg(count(lit(1)).as("n"))
      // k-row marginal: broadcast EXPLICITLY, so the non-equi k×k pair
      // join plans as a broadcast nested loop, never a CartesianProduct
      val allPairs = nsrc.as("x").join(broadcast(nsrc.as("y")),
          col("x.source") < col("y.source")) // k×k, broadcast nested loop
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
                col("x.n").as("n_a"), col("y.n").as("n_b"))
      allPairs.join(inter,
          $"source_a" === $"sa" && $"source_b" === $"sb", "left")
        .withColumn("inter", coalesce($"inter", lit(0L)))
        .withColumn("jaccard", expr("inter / (n_a + n_b - inter)"))
        .select($"source_a", $"source_b", $"n_a", $"n_b", $"inter", $"jaccard")
        .orderBy($"source_a", $"source_b")
    },

    // Edit-distance near-dup (typo/OCR-noise dedup — catches what
    // set-based Jaccard misses when edits are WITHIN tokens): d04's
    // (lang, source, length-bucket) blocking, a length-delta pre-prune
    // (|len diff| > 5 already exceeds the threshold — those pairs never
    // reach the DP), then THRESHOLDED Levenshtein over the FULL text as
    // the verify. levenshtein(l, r, k) runs the banded DP — O(k·n) cells
    // with early exit instead of the full O(n²) table (the
    // unthresholded form measured 14x slower at 16x corpus: the
    // verify is the quadratic pair hot path, so per-pair constant
    // factors ARE the scale budget). It returns the exact distance when
    // <= k and -1 otherwise, so the filtered output is identical to the
    // oracle's unthresholded `levenshtein <= 5`.
    "d07_edit_distance" -> { (s, d) =>
      d07Pairs(s, d).orderBy(col("d1"), col("d2"))
    },

    // Canonical-output mode for d07: the verified edit-distance pairs are
    // quadratic on planted-dup corpora BY CONSTRUCTION (a k-clique emits
    // k(k-1)/2 pairs), so the scale-safe consumable is (doc_id,
    // canonical_id) — LINEAR in the corpus — via the same min-label
    // propagation d06 runs over d04's pairs. The pair frame stays an
    // intermediate that never leaves the shuffle.
    "d11_editdist_clusters" -> { (s, d) =>
      import s.implicits._
      // eager: CC reads the pairs twice (edge frame and node roster) —
      // unmaterialized, the banded-DP pair pass would run twice
      val pairs = d07Pairs(s, d).select($"d1", $"d2").localCheckpoint()
      // no >1-member filter: see d06
      connectedComponents(pairs)
        .select($"doc_id", $"lbl".as("canonical_id"))
        .orderBy($"doc_id")
    },

    // Dedup clustering: connected components over the verified near-dup
    // pairs via alternating large-star/small-star — the
    // transitive-closure step that turns pairwise matches into dedup
    // groups. Runs to a machine-VERIFIED fixpoint (label constancy
    // checked against the original edge set) within a hard
    // CC_STAR_BUDGET cycle budget — a pathological graph fails loudly
    // instead of silently under-merging. The oracle's unrolled
    // min-label SQL guards its own convergence (+1 round must be a
    // no-op or the query errors), so both engines compute the same
    // algorithm-independent min-label function. Scale shape per cycle:
    // O(E)-bounded frames keyed on the star center — O(log diameter)
    // cycles, vs O(diameter) pulls for propagation (see
    // connectedComponents); localCheckpoint each cycle truncates the
    // otherwise-geometric lineage.
    "d06_dedup_clusters" -> { (s, d) =>
      import s.implicits._
      // pre-orderBy pairs: materializing d04's sorted output would pay
      // a global sort the propagation immediately destroys. Eager: CC
      // reads the pairs twice (edge frame and node roster) —
      // unmaterialized, the gram kernel + DP verify would run twice
      val pairs = d04Pairs(s, d).select($"d1", $"d2").localCheckpoint()
      // CC labels only edge endpoints, and every pair generator joins on
      // x.doc_id < y.doc_id (no self-loops), so each labelled doc has an
      // edge to another and every cluster has >= 2 members: d06, d11 and
      // d16 need no >1-member filter (OperatorSpec pins the invariant)
      connectedComponents(pairs)
        .select($"doc_id", $"lbl".as("cluster_id"))
        .orderBy($"doc_id")
    },

    // DEDUP DECISION MANIFEST — the audit trail a compliance/QA review
    // asks for AFTER dedup ran: not "how many were removed" (d23's
    // curve) but per removed doc, WHICH doc it yielded to and under
    // WHICH rule. Two-stage precedence mirroring a production pipeline:
    // the exact stage removes byte-identical copies (d01's md5 groups,
    // keeper = min doc_id); the near stage then runs on the exact
    // SURVIVORS — d06's verified-pair connected components restricted
    // to survivors, keeper = min surviving member — so a doc is never
    // charged to two rules and the near keeper is a doc that actually
    // remains in the corpus. n_group carries the evidence size (copy
    // count / surviving cluster size). Scale shape: the exact stage is
    // one hash groupBy; the near stage reuses d06's CC output (the
    // linear consumable) and adds only narrow-key joins — survivors
    // anti-join, per-cluster min, member join-back — all O(cluster
    // members), never O(pairs).
    "d30_dedup_manifest" -> { (s, d) =>
      import s.implicits._
      val c = corpus(s, d).select($"doc_id", md5($"text").as("ch"))
      val ek = c.groupBy($"ch")
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_group"))
      // exactRemoved is read three ways (the survivors anti-join, the
      // union, d39's consumers) and surv twice (nk + the member join):
      // materialize both small frames so d06's tail and the md5 pass
      // run once each
      val exactRemoved = c.join(ek, Seq("ch"))
        .filter($"doc_id" =!= $"keeper_id")
        .select($"doc_id", $"keeper_id", lit("exact").as("rule"),
                $"n_group")
        .localCheckpoint()
      val clusters = queries("d06_dedup_clusters")(s, d)
      val surv = clusters.join(
        exactRemoved.select($"doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val nk = surv.groupBy($"cluster_id")
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_group"))
      val nearRemoved = surv.join(nk, Seq("cluster_id"))
        .filter($"doc_id" =!= $"keeper_id")
        .select($"doc_id", $"keeper_id", lit("near").as("rule"), $"n_group")
      exactRemoved.unionByName(nearRemoved).orderBy($"doc_id")
    },

    // SURVIVING-TOKEN BUDGET — the handoff table between curation and
    // training (a pretraining plan is sized in TOKENS, not documents:
    // after the dedup manifest decides removals, the number the
    // training owner reads is how many tokens survive per source —
    // which feeds mixture weights (t13), the token budget (t22), and
    // the shard plan (t19); doc counts alone mislead because removal
    // skews long, templated docs): per source, docs/tokens in, docs
    // removed by each manifest rule (d30's exact-then-near precedence
    // — one row per removed doc, so the left join can never double
    // count), tokens removed, docs/tokens out, and the integer kept
    // ppm. Scale shape: d30's bill (the family's CC consumable) plus
    // one map-only token count and a narrow (doc_id, rule) left join —
    // text is never touched twice.
    "d39_token_budget" -> { (s, d) =>
      import s.implicits._
      val tk = corpus(s, d).select($"source", $"doc_id",
        size(expr("filter(split(text, ' '), x -> x <> '')"))
          .cast("long").as("ntok"))
      val removed = queries("d30_dedup_manifest")(s, d)
        .select($"doc_id", $"rule")
      tk.join(removed, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("docs_in"),
          sum($"ntok").as("tokens_in"),
          sum(when($"rule" === "exact", 1L).otherwise(0L))
            .as("docs_removed_exact"),
          sum(when($"rule" === "near", 1L).otherwise(0L))
            .as("docs_removed_near"),
          sum(when($"rule".isNotNull, $"ntok").otherwise(0L))
            .as("tokens_removed"),
          sum(when($"rule".isNull, 1L).otherwise(0L)).as("docs_out"),
          sum(when($"rule".isNull, $"ntok").otherwise(0L)).as("tokens_out"))
        .withColumn("kept_ppm", expr("tokens_out * 1000000 DIV tokens_in"))
        .orderBy($"source")
    },

    // SOURCE-GRAPH CENTRALITY — weighted PageRank over d22's
    // source-overlap graph, the lineage question past the pairwise
    // matrix: d22 says WHICH pairs share content, d31 says WHO is the
    // aggregator — the source whose content everyone else carries sits
    // central in the overlap graph (the feed a provenance review
    // deprioritizes as derivative, or prices as the upstream original).
    // NOTE on graph choice: PageRank over the doc-level near-dup graph
    // is vacuous by construction — near-dup components are cliques and
    // PageRank is uniform on any regular graph (measured: one distinct
    // value across 186 nodes) — while source overlap is irregular by
    // nature. 5 fixed power iterations in pure integer fixed point
    // (S = 1e9): share u→v = (pr(u)·w(u,v)) DIV wdeg(u), damping
    // (85·Σ) DIV 100 — every operand nonnegative, so Spark's
    // truncating DIV and DuckDB's flooring // agree exactly and the
    // oracle unrolls the same five rounds. (Bound: pr ≤ k·S and
    // w ≤ wdeg, so pr·w/wdeg ≤ k·S ≪ 2⁶³ at any source count k a
    // mixture runs.) Scale shape: the bill is d22's pair machinery
    // (distinct (source, hash) + per-shingle source sets, k²-bounded);
    // the rank itself rides O(k²) control frames — each iteration one
    // broadcast-sized join + an aggregate.
    "d31_source_graph_rank" -> { (s, d) =>
      import s.implicits._
      import graft.functions.WordShinglePHashes.word_shingle_phashes
      graft.GraftExtensions.register(s)
      val SCALE = 1000000000L
      val hs = T.documents(s, d)
        .withColumn("hset", word_shingle_phashes($"text", 3))
        .filter(size($"hset") >= 1)
        .select($"source", explode($"hset").as("h"))
        .distinct()
      val srcSets = hs.groupBy($"h")
        .agg(sort_array(collect_set($"source")).as("srcs"))
      val inter = srcSets.filter(size($"srcs") >= 2)
        .select(explode(expr(
          "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), " +
          "b -> named_struct('a', a, 'b', b))))")).as("p"))
        .groupBy($"p.a".as("sa"), $"p.b".as("sb"))
        .agg(count(lit(1)).as("w"))
      val edges = inter.select($"sa".as("a"), $"sb".as("b"), $"w")
        .unionByName(inter.select($"sb".as("a"), $"sa".as("b"), $"w"))
        .localCheckpoint() // O(k²) control rows, reused 6 times
      val wdeg = edges.groupBy($"a").agg(sum($"w").as("wdeg"),
        count(lit(1)).as("n_neighbors")).localCheckpoint()
      var pr = wdeg.select($"a".as("source"), lit(SCALE).as("pr"))
      for (_ <- 1 to 5) {
        val share = edges.join(pr, $"a" === $"source")
          .join(wdeg.select($"a".as("a2"), $"wdeg"), $"a" === $"a2")
          .select($"b", expr("(pr * w) DIV wdeg").as("share"))
        pr = share.groupBy($"b")
          .agg(expr("150000000 + (85 * sum(share)) DIV 100").as("pr"))
          .select($"b".as("source"), $"pr")
          .localCheckpoint() // O(k); truncates the per-round lineage
      }
      // global rank WITHOUT a global window (the s17 lesson): the
      // DistributedRank control path — range repartition + broadcast
      // prefix offsets — even though this frame is O(k) today
      // checkpoint BEFORE ranking (t27's pattern): it is the O(k)
      // control frame, and materializing makes the constant group
      // column a real attribute — un-checkpointed, the optimizer
      // folds it out of the rank window's partition spec and the
      // plan degenerates to the forbidden global WindowExec
      val joined = pr
        .join(wdeg.select($"a".as("source"), $"wdeg", $"n_neighbors"),
          Seq("source"))
        .withColumn("g", lit(0))
        .withColumn("npr", -$"pr")
        .localCheckpoint()
      graft.operators.DistributedRank
        .withRankStats(joined, Seq("g"), Seq($"npr", $"source"))
        .select($"source", $"n_neighbors", $"wdeg", $"pr",
                ($"_rank0" + 1L).as("rank"))
        .orderBy($"source")
    },

    // Decontamination — flag training docs sharing any 8-word gram with
    // the held-out benchmark set (the GPT-3/Llama eval-hygiene pass).
    // The benchmark n-gram set is SMALL relative to training data (eval
    // suites stay ~1e5 grams even when training scales to 100 TB), so it
    // BROADCASTS: the training side is one map-only scan — explode gram
    // hashes, broadcast-hash-join against the benchmark set — and the
    // only shuffle is the per-doc hit count over (doc_id, fp) longs.
    // Planted leaks (16-word benchmark prefixes wrapped in unique
    // filler) prove recall; chance 8-gram collisions are real
    // contamination semantics, mirrored exactly by the oracle.
    "d12_decontaminate" -> { (s, d) =>
      import s.implicits._
      val (benchFps, trainGrams) = contaminationGrams(s, d, D12_FIX)
      trainGrams.join(broadcast(benchFps), Seq("fp"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy($"doc_id")
    },

    // FUZZY DECONTAMINATION — the near-copy/paraphrase gate the exact-
    // gram family (d12 doc gate, d17 bloom, d25 spans, d37 knob sweep)
    // cannot provide: a leaked eval item that was lightly rewritten
    // shares NO 8-word gram with the benchmark (the fixture's plant
    // replaces every 8th word — kept runs max out at 7, so d12-class
    // gates score literally zero hits on it) yet is still ~45% of the
    // original by 3-shingle Jaccard. The gate: d02's MinHash signatures
    // on BOTH sides, but banded 16×1 instead of 4×4 (P(candidate) ≈
    // 0.9999 at J = 0.45, where the dedup banding would miss ~90% of
    // leaks); bench bands + signatures BROADCAST (eval suites stay
    // ~1e5 docs at any training scale — d12's asymmetry), so the
    // 100 TB side is one map-only scan + broadcast joins, and the only
    // shuffle is per-candidate (doc_id, bench_id) longs into the
    // best-match window. Candidates verify by EXACT shingle-set
    // Jaccard (sorted 60-bit hash intersection, the d02 verify) ≥
    // 0.35; report = flagged train doc → its best-matching bench doc.
    // SHARD-LOCAL DEDUP ERROR — pricing the scale shortcut every
    // 100 TB deployment is tempted by: GLOBAL exact dedup shuffles the
    // whole corpus on content hash once; dedup-within-each-ingestion-
    // shard is map-local and shuffle-free but silently keeps every
    // cross-shard copy. This table measures exactly what that buys and
    // costs, per strategy: `global` (the truth), `id_sharded` (docs
    // placed by an id-hash — the arrival/placement sharding real
    // pipelines have; copies land in the same shard only by luck, so
    // `missed_vs_global` is the surviving duplicate bill), and
    // `content_sharded` (docs placed by CONTENT hash — the design
    // answer: the same map-local bill as id-sharding, and missed = 0
    // BY CONSTRUCTION because every copy co-locates). The point of the
    // table is the last column: it turns "shard-local dedup is cheaper"
    // into a priced decision, and shows the cheap option is only safe
    // when the placement key is the dedup key. Scale shape: one narrow
    // (shard, hash) distinct per strategy + 1-row control frames —
    // the global strategy's bill IS d01's.
    "d41_shard_dedup_error" -> { (s, d) =>
      import s.implicits._
      val hexShard = (c: org.apache.spark.sql.Column) =>
        conv(substring(md5(c.cast("string")), 1, 1), 16, 10)
          .cast("long") % 8
      val h = corpus(s, d)
        .select($"doc_id", md5($"text").as("h"))
        .localCheckpoint()
      val tot = h.agg(count(lit(1)).as("n_docs"),
                      countDistinct($"h").as("n_kept_g"))
      val ish = h.select(hexShard($"doc_id").as("shard"), $"h").distinct()
        .agg(count(lit(1)).as("n_kept_i"))
      val csh = h.select(hexShard($"h").as("shard"), $"h").distinct()
        .agg(count(lit(1)).as("n_kept_c"))
      val one = tot.crossJoin(ish).crossJoin(csh)
      one.select(lit("content_sharded").as("strategy"), $"n_docs",
                 $"n_kept_c".as("n_kept"), $"n_kept_g")
        .union(one.select(lit("global"), $"n_docs", $"n_kept_g", $"n_kept_g"))
        .union(one.select(lit("id_sharded"), $"n_docs", $"n_kept_i",
                          $"n_kept_g"))
        .select($"strategy", $"n_docs", $"n_kept",
          ($"n_docs" - $"n_kept").as("n_removed"),
          expr("(n_docs - n_kept) * 1000000 div n_docs").as("removed_ppm"),
          ($"n_kept" - $"n_kept_g").as("missed_vs_global"))
        .orderBy($"strategy")
    },

    "d40_fuzzy_decontaminate" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val (bench, train) = fuzzyContaminationCorpus(s, d)
      val bsig = signaturesOf(bench)
        .select($"doc_id".as("bench_id"), $"sig", $"hset".as("bhs"))
        .localCheckpoint()
      val tsig = signaturesOf(train)
      val bbands = bsig
        .select($"bench_id", explode(wideBandKeyArray).as("band_key"))
      val cand = tsig
        .select($"doc_id", explode(wideBandKeyArray).as("band_key"))
        .join(broadcast(bbands), Seq("band_key"))
        .select($"doc_id", $"bench_id").distinct()
      val w = Window.partitionBy($"doc_id")
        .orderBy($"jaccard".desc, $"bench_id")
      cand
        .join(tsig.select($"doc_id", $"hset"), Seq("doc_id"))
        .join(broadcast(bsig.select($"bench_id", $"bhs")), Seq("bench_id"))
        .withColumn("inter",
          graft.functions.SortedIntersectCount
            .sorted_intersect_count($"hset", $"bhs"))
        .withColumn("jaccard",
          expr("inter / (size(hset) + size(bhs) - inter)"))
        .filter($"jaccard" >= 0.35)
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"doc_id", $"bench_id", $"jaccard")
        .orderBy($"doc_id")
    },

    // DECONTAMINATION GRAM-SIZE SWEEP — the sensitivity table for the
    // one knob the d12/d17/d25 gates all fix at 8 (published runs
    // disagree: GPT-3 used 13-grams, Llama-class runs 8 to 20 — and
    // the choice is not cosmetic: a gram longer than the leak is BLIND
    // to it): for each candidate n ∈ {8, 13, 20}, the full d12 gate —
    // bench gram set, broadcast join, per-doc hits — reported as
    // flagged-doc count, total hits, and flag rate. The fixture's
    // planted leaks copy a 16-word prefix, so the table SHOWS the
    // cliff: 8- and 13-grams catch every plant (9 and 4 windows each),
    // 20-grams catch none of them — the exact failure mode a knob
    // chosen without this table ships. Scale shape: one map-only gram
    // scan per n over bench + train (gram definitions differ per n —
    // no shared pass exists), each d12's broadcast-join bill; per-n
    // results are 1-row frames. Counts integer; flag rate one IEEE
    // division.
    "d37_gram_size_sweep" -> { (s, d) =>
      import s.implicits._
      val (bench, train) = contaminationCorpus(s, d, D12_FIX)
      val nTrain = train.agg(count(lit(1)).as("n_train_docs"))
      Seq(8, 13, 20).map { n =>
        // read by the broadcast join AND the count — the bench gram
        // kernel ran twice per sweep point unmaterialized. NOTE: the
        // eager localCheckpoint makes CONSTRUCTION of this query run
        // Spark jobs (one per sweep point) before any action — true of
        // every eagerly-materialized query in the registry; plan
        // inspection of registry functions therefore executes partial
        // pipelines (accepted: the bench/verify drivers always execute)
        val bfps = gramFpsN(bench, n).select($"fp").distinct()
          .localCheckpoint()
        val nb = bfps.agg(count(lit(1)).as("n_bench_grams"))
        gramFpsN(train, n).join(broadcast(bfps), Seq("fp"))
          .groupBy($"doc_id").agg(count(lit(1)).as("h"))
          .agg(count(lit(1)).as("n_flagged_docs"),
               coalesce(sum($"h"), lit(0L)).as("n_hits_total"))
          .crossJoin(broadcast(nb))
          .crossJoin(broadcast(nTrain))
          .select(lit(n).cast("int").as("n_gram"), $"n_bench_grams",
            $"n_train_docs", $"n_flagged_docs", $"n_hits_total",
            ($"n_flagged_docs" / $"n_train_docs".cast("double"))
              .as("flag_rate"))
      }.reduce(_ unionByName _).orderBy($"n_gram")
    },

    // Cluster-representative selection — the RESOLUTION policy a
    // production dedup run actually applies: d01/d06 keep the MIN id
    // per duplicate group, but real pipelines keep the BEST version
    // (MinHashLSH cluster → retain the highest-quality copy, drop the
    // rest). Near-dup clusters come from d06's star-CC over d04's
    // verified pairs; each member is scored by the t02/t20 quality
    // formula (same fused WordStats pass, identical double
    // arithmetic), and the representative is the (quality desc,
    // doc_id) argmax — deterministic under ties. Scale shape: the CC
    // machinery is d06's (log-round, O(E) frames); the quality pass is
    // map-only; member scoring joins on the uniform doc_id key; both
    // the size count and the argmax ride ONE lbl-partitioned exchange.
    "d20_cluster_representatives" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val labels = connectedComponents(
        d04Pairs(s, d).select($"d1", $"d2").localCheckpoint())
      val q = corpus(s, d)
        .withColumn("ws", graft.functions.WordStats.word_stats($"text"))
        .withColumn("n_words", graft.functions.WordStats.nWords($"ws"))
        .filter($"n_words" >= 1)
        .select($"doc_id",
          (graft.functions.WordStats.nDistinct($"ws") / $"n_words" * 0.4 +
           (lit(1.0) -
             graft.functions.WordStats.nStop($"ws") / $"n_words") * 0.3 +
           least($"n_words" / 100.0, lit(1.0)) * 0.3).as("quality"))
      val byLbl = Window.partitionBy($"lbl")
      labels.join(q, Seq("doc_id"))
        .withColumn("n_members", count(lit(1)).over(byLbl))
        .filter($"n_members" > 1)
        .withColumn("rn", row_number().over(
          byLbl.orderBy(desc("quality"), $"doc_id")))
        .filter($"rn" === 1)
        .select($"lbl".as("cluster_id"), $"doc_id".as("rep_doc"),
                round($"quality", 6).as("rep_quality"), $"n_members")
        .orderBy($"cluster_id")
    },

    // Eval-exposure report — d12's complement, aggregated from the
    // BENCHMARK side: for each eval doc, how many of its distinct
    // 8-grams exist in the training corpus, across how many training
    // docs, and what fraction of the doc that covers. d12 answers
    // "which training docs must I drop"; this answers the question an
    // eval audit actually asks — "which of my eval items are
    // compromised, and how badly" — over the SAME gram join. Scale
    // shape unchanged: the bench side (now carrying doc ids — still
    // eval-sized, tiny next to the corpus) broadcasts; the training
    // side streams through map-side; the aggregate keys on bench doc.
    // Every bench doc's planted 16-word leak guarantees exposure (its
    // prefix's distinct grams all exist in training), so the report is
    // non-vacuous at every scale (spec-pinned).
    "d19_eval_exposure" -> { (s, d) =>
      import s.implicits._
      val (benchGrams, trainGrams) = contaminationGramsWithIds(s, d, D12_FIX)
      val totals = benchGrams.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      val hits = trainGrams.select($"doc_id".as("train_doc"), $"fp")
        .join(broadcast(benchGrams.select($"doc_id".as("bench_doc"), $"fp")),
              Seq("fp"))
        .groupBy($"bench_doc")
        .agg(countDistinct($"fp").as("n_hit_grams"),
             countDistinct($"train_doc").as("n_train_docs"))
      totals.select($"doc_id".as("bench_doc"), $"n_grams")
        .join(hits, Seq("bench_doc"), "left")
        .select($"bench_doc", $"n_grams",
          coalesce($"n_hit_grams", lit(0L)).as("n_hit_grams"),
          coalesce($"n_train_docs", lit(0L)).as("n_train_docs"),
          round(coalesce($"n_hit_grams", lit(0L)).cast("double") / $"n_grams",
                6).as("exposure_frac"))
        .orderBy($"bench_doc")
    },

    // SPAN-LEVEL DECONTAMINATION — d12's surgical alternative: d12
    // says which training docs to DROP; this says which word RANGES to
    // CUT so the rest of the doc survives (the span-removal policy
    // production eval hygiene actually ships — dropping a whole
    // document for one leaked paragraph wastes the other 99%). Every
    // 8-gram hit at position i taints words [i, i+7]; overlapping
    // taint intervals merge into spans (new span exactly when a hit
    // starts past the running max end — touching-but-disjoint
    // intervals stay separate, so span lengths sum to the exact union
    // coverage with no double count). Per doc: span count, covered
    // words, longest span, covered fraction — covered_frac near 1 says
    // drop (d12's verdict), small says cut. Determinism: positions and
    // span bounds are integers, one division. Scale shape: the
    // positional gram scan is map-only and the broadcast bench-set
    // semi-join filters it BEFORE any shuffle — only HIT positions
    // (doc_id, 2 longs) reach the per-doc window, and contaminated
    // docs are the rare case by construction, so the keyed window's
    // partitions stay span-sized at any corpus scale.
    "d25_decontaminate_spans" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val (bench, train) = contaminationCorpus(s, d, D12_FIX)
      val benchFps = gramFps(bench).select($"fp").distinct()
      val hits = gramFpsPos(train)
        .join(broadcast(benchFps), Seq("fp"), "left_semi")
        .select($"doc_id", $"n_words", $"i", ($"i" + 7L).as("e"))
      val w = Window.partitionBy($"doc_id").orderBy($"i")
      val prevEnd = max($"e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      val spans = hits
        .withColumn("ns",
          when(prevEnd.isNull || $"i" > prevEnd, 1L).otherwise(0L))
        .withColumn("span_id", sum($"ns").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"doc_id", $"n_words", $"span_id")
        .agg(min($"i").as("sp_s"), max($"e").as("sp_e"))
      spans.groupBy($"doc_id", $"n_words")
        .agg(count(lit(1)).as("n_spans"),
             sum($"sp_e" - $"sp_s" + 1L).as("covered_words"),
             max($"sp_e" - $"sp_s" + 1L).as("max_span"))
        .withColumn("covered_frac",
          $"covered_words" / $"n_words".cast("double"))
        .orderBy($"doc_id")
    },

    // Bloom-prefiltered decontamination — d12's scale path for when the
    // benchmark gram set outgrows broadcast (multi-suite eval unions,
    // contamination sweeps against another corpus). The gram set folds
    // IN-PLAN into one fixed-size Bloom filter via Spark's own
    // BloomFilterAggregate — the machinery behind runtime row-level
    // filters — delivered to the training scan as a scalar subquery
    // (computed once, reused across partitions, never re-planned), and
    // probed map-side with BloomFilterMightContain: training grams that
    // miss the filter never cross a shuffle. Bloom filters have NO
    // false negatives, so the exact confirm join over the survivors is
    // exactly d12's semantics — false positives only add confirm-join
    // traffic (~2% at 1M grams in 2^23 bits = 1 MB), never results.
    // Unlike d12 the bench side never broadcasts whole: the confirm is
    // a shuffle join of two SMALL sides (survivors ≈ true hits + fp).
    "d17_bloom_decontaminate" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graft.ColumnBridge
      val (benchFps, trainGrams) = contaminationGrams(s, d, D17_FIX)
      val bloom = benchFps.agg(ColumnBridge.column(
        new BloomFilterAggregate(
          ColumnBridge.expression(xxhash64($"fp")),
          Literal(BLOOM_ITEMS), Literal(BLOOM_BITS)).toAggregateExpression())
        .as("bf")).scalar()
      val survivors = trainGrams.where(ColumnBridge.column(
        new BloomFilterMightContain(
          ColumnBridge.expression(bloom),
          ColumnBridge.expression(xxhash64($"fp")))))
      survivors.join(benchFps, Seq("fp"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy($"doc_id")
    },

    // Chunk-level dedup — RefinedWeb/CCNet's line-level dedup adapted to
    // unstructured text: split each doc into non-overlapping 10-word
    // chunks, hash each, count corpus-wide occurrences, and report how
    // much of each doc is boilerplate seen elsewhere. Catches the
    // partial-overlap mass (headers, navigation, license blocks) that
    // whole-doc detectors (d01–d04) only see once the WHOLE doc matches.
    // The shuffle carries (chunk_fp, doc_id) longs only; the duplicated
    // fp set (df > 1) joins back on longs — doc text never leaves the
    // scan.
    "d13_chunk_dedup" -> { (s, d) =>
      import s.implicits._
      graft.GraftExtensions.register(s)
      val chunks = corpus(s, d)
        .withColumn("ws", split($"text", " "))
        .filter(size($"ws") >= 10)
        .select($"doc_id", explode(expr(
          "transform(sequence(0, size(ws) div 10 - 1), i -> " +
          "graft_phash(concat_ws('_', slice(ws, i * 10 + 1, 10))))")).as("fp"))
        // read by the dup count AND the score join — the chunk-hash
        // kernel ran twice unmaterialized
        .localCheckpoint()
      val dup = chunks.groupBy($"fp").agg(count(lit(1)).as("df"))
        .filter($"df" > 1)
      chunks.join(dup, Seq("fp"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
             sum(when($"df".isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"))
        .withColumn("kept_frac",
          ($"n_chunks" - $"n_dup_chunks").cast("double") / $"n_chunks")
        .orderBy($"doc_id")
    },

    // Duplicated-SPAN removal (exact substring dedup, the Lee et al.
    // "Deduplicating Training Data" consumable): every K-token rolling
    // gram that appears in >= 2 distinct docs marks its window; per doc,
    // overlapping/adjacent marked windows merge into MAXIMAL spans
    // [span_start, span_end) — the actual cut list a pretraining
    // pipeline applies, where d13's fixed chunks only score docs.
    // Scale shape: the gram shuffle carries (8-byte phash, doc_id, pos)
    // — never text (the 60-bit portable hash halves the shuffle width
    // vs an md5 hex string, and the dup-marking tolerates its 2^-60
    // collisions the same way d13's chunk hashes do); distinct-doc
    // counting partial-aggregates map-side; the island merge is a
    // per-doc window (uniform key, no skew).
    "d18_span_dedup" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.register(s)
      val K = 15
      val grams = corpus(s, d)
        .withColumn("ws", split($"text", " "))
        .filter(size($"ws") >= K)
        .select($"doc_id", posexplode(expr(
          s"transform(sequence(0, size(ws) - $K), i -> " +
          s"graft_phash(concat_ws(' ', slice(ws, i + 1, $K))))")))
        .toDF("doc_id", "pos", "g")
        // gram hashing is the dominant cost — eagerly computed ONCE
        // (a lazy cache raced between the dup-count and join branches,
        // which both read this frame)
        .localCheckpoint()
      val dup = grams.groupBy($"g")
        .agg(countDistinct($"doc_id").as("nd")).filter($"nd" >= 2)
        .select($"g")
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      grams.join(dup, Seq("g"), "left_semi")
        .select($"doc_id", $"pos".cast("long").as("pos"))
        .withColumn("prev_pos", lag($"pos", 1).over(w))
        // pos is strictly increasing within a doc, so the previous
        // window's end is just prev_pos + K — no running max needed
        .withColumn("ni", when($"prev_pos".isNull || $"pos" > $"prev_pos" + K,
          1L).otherwise(0L))
        .withColumn("isl", sum($"ni").over(w))
        .groupBy($"doc_id", $"isl")
        .agg(min($"pos").as("span_start"),
             (max($"pos") + K).as("span_end"),
             count(lit(1)).as("n_grams"))
        .select($"doc_id", $"span_start", $"span_end",
                ($"span_end" - $"span_start").as("span_tokens"), $"n_grams")
        .orderBy($"doc_id", $"span_start")
    },

    // CROSS-SNAPSHOT (directional) DEDUP — the CCNet/CommonCrawl shape
    // the symmetric family (d01–d06) doesn't cover: a NEW crawl
    // increment is classified against the FROZEN old corpus (keep old,
    // verdict new) instead of deduping a single pool against itself.
    // New snapshot fixture: exact re-crawls (%7, +2e6), boilerplate
    // near-copies (%10 + suffix, +1e6), and genuinely novel docs
    // (%9==4 word-reversed, +4e6 — reversal shares no 3-shingles, so
    // novelty is structural, not probabilistic). Three layers, each
    // directional: (1) exact — one md5 equi-join against the old
    // side's (hash, min id) — at 100 TB the old corpus reduces to
    // 8 B/doc before any join; (2) near — d02's band-keyed candidate
    // generation new×old (never old×old: the big quadratic side is
    // never paired with itself), verified by exact capped Jaccard over
    // sorted 60-bit shingle hashes, best match per new doc by
    // (J desc, old_id); (3) everything else is novel. A banding miss
    // (a true near pair sharing no band) degrades near→novel
    // DETERMINISTICALLY — the oracle mirrors the same banding, so the
    // verdict is still bit-exact; OperatorSpec pins the planted
    // classes (all %7 exact, all reversed novel, ≥80% of suffix
    // plants near).
    "d26_snapshot_dedup" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val old = T.documents(s, d).select($"doc_id", $"text")
      val nw = old.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + 2000000L).as("doc_id"), $"text")
        .unionByName(old.filter($"doc_id" % 10 === 0)
          .select(($"doc_id" + 1000000L).as("doc_id"),
                  concat($"text", lit(" near duplicate suffix")).as("text")))
        .unionByName(old.filter($"doc_id" % 9 === 4)
          .select(($"doc_id" + 4000000L).as("doc_id"),
                  array_join(reverse(split($"text", " ")), " ").as("text")))
      val exact = nw.select($"doc_id", md5($"text").as("h"))
        .join(old.groupBy(md5($"text").as("h"))
                .agg(min($"doc_id").as("exact_match")), Seq("h"))
        .select($"doc_id", $"exact_match")
      // eager: the candidate+verify job reads each signature frame
      // twice (band explode + hset re-join) and a lazy cache races
      val sigO = signaturesOf(old).localCheckpoint()
      val sigN = signaturesOf(nw).localCheckpoint()
      val bandsO = sigO.select($"doc_id".as("old_id"),
        explode(bandKeyArray).as("band_key"))
      val bandsN = sigN.select($"doc_id", explode(bandKeyArray).as("band_key"))
      val best = bandsN.join(bandsO, Seq("band_key"))
        .select($"doc_id", $"old_id").distinct()
        .join(sigN.select($"doc_id", $"hset".as("hs1")), Seq("doc_id"))
        .join(sigO.select($"doc_id".as("old_id"), $"hset".as("hs2")),
          Seq("old_id"))
        .withColumn("inter", graft.functions.SortedIntersectCount
          .sorted_intersect_count($"hs1", $"hs2"))
        .withColumn("jaccard", expr("inter / (size(hs1) + size(hs2) - inter)"))
        .filter($"jaccard" >= 0.5)
        .withColumn("rn", row_number().over(Window.partitionBy($"doc_id")
          .orderBy($"jaccard".desc, $"old_id".asc)))
        .filter($"rn" === 1)
        .select($"doc_id", $"old_id".as("near_match"), $"jaccard")
      nw.select($"doc_id")
        .join(exact, Seq("doc_id"), "left")
        .join(best, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"exact_match".isNotNull, lit("exact_dup"))
            .when($"near_match".isNotNull, lit("near_dup"))
            .otherwise(lit("novel")).as("status"),
          when($"exact_match".isNotNull, $"exact_match")
            .otherwise($"near_match").as("match_id"),
          when($"exact_match".isNotNull, lit(1.0))
            .otherwise($"jaccard").as("jaccard"))
        .orderBy($"doc_id")
    },

    // PREFIX DEDUP — template re-render detection (the RefinedWeb/CCNet
    // failure mode MinHash under-weights: a crawler re-fetches the same
    // page head with a fresh tail — boilerplate heads, rotated footers,
    // appended comments — so global-shingle Jaccard dilutes as the tail
    // grows while the PREFIX match stays perfect). Block on the exact
    // first-8-token key (one narrow shuffle; production hashes this key,
    // the fixture keeps it readable), take the min-id doc per block as
    // canonical, and verify every other member with the EXACT
    // longest-common-prefix against the canonical — dup iff the LCP
    // covers max(8, half its tokens), so a shared 8-gram head alone
    // cannot convict a mostly-different doc. Planted variants (%7=3,
    // +1e7: head kept to max(8, ceil(n/2)) tokens + 12 filler) convict
    // exactly when the kept head covers half the variant (source ≥ 23
    // tokens) — both convicted and acquitted cases occur, and natural
    // exact-dup families surface with full-length LCPs. Scale shape:
    // blocked pair generation like d02 (never all-pairs); the LCP verify
    // is per-pair linear in tokens within collision buckets only.
    "d27_prefix_dedup" -> { (s, d) =>
      import s.implicits._
      val base = T.documents(s, d)
        .select($"doc_id", split($"text", " ").as("ws"))
        .filter(size($"ws") >= 8)
      val variants = base.filter($"doc_id" % 7 === 3)
        .select(($"doc_id" + 10000000L).as("doc_id"),
          expr("concat(slice(ws, 1, greatest(8, CAST(ceil(size(ws) / 2.0) AS INT))), " +
               "transform(sequence(1, 12), i -> concat('zzre', CAST(i AS STRING))))")
            .as("ws"))
      val keyed = base.unionByName(variants)
        .withColumn("pkey", expr("array_join(slice(ws, 1, 8), ' ')"))
      // canonical per block in ONE aggregate (min_by rides along with
      // the min — no rep self-join, and it partial-aggregates map-side)
      val repWs = keyed.groupBy($"pkey")
        .agg(min($"doc_id").as("rep_id"), expr("min_by(ws, doc_id)").as("rep_ws"))
      keyed.join(repWs, Seq("pkey"))
        .filter($"doc_id" =!= $"rep_id")
        // array_position yields 0 (not NULL) when no mismatch exists —
        // equal-length identical docs must fall through to the full
        // length via nullif (unequal-length prefixes already hit the
        // zip_with null padding, which <=> counts as a mismatch)
        .withColumn("lcp", coalesce(
          expr("nullif(array_position(" +
               "zip_with(ws, rep_ws, (a, b) -> a <=> b), false), 0)") - 1,
          least(size($"ws"), size($"rep_ws")).cast("long")))
        .filter($"lcp" >= greatest(lit(8L),
          expr("CAST(ceil(size(ws) / 2.0) AS BIGINT)")))
        .select($"rep_id", $"doc_id", $"lcp", size($"ws").as("n_tokens"))
        .orderBy($"rep_id", $"doc_id")
    },

    // CLUSTER-AWARE SPLIT — t24's leakage-free split upgraded from
    // exact-dup groups to NEAR-dup clusters (the Dolma/FineWeb rule:
    // if train and eval each keep one member of a near-dup pair, the
    // eval set is contaminated even though no byte is shared): the
    // assignment unit is the d06 connected component (d04's verified
    // pairs → star-CC label; singletons are their own unit), the whole
    // unit lands on one side via the t24 hash rule (phash(split:lbl)
    // % 100 < 90 → train), and the report PROVES the property it
    // exists for — cross_split_pairs counts verified near-dup pairs
    // straddling the split and must be 0 BY CONSTRUCTION (a doc-level
    // hash split leaks here; the oracle and spec both pin the zero).
    // Scale shape: d06's CC machinery (log-round, O(E) frames) + one
    // map-only hash assignment + two narrow aggregates; the leak audit
    // joins pairs to two (doc_id, split) projections on the uniform id
    // key.
    "d28_cluster_split" -> { (s, d) =>
      import s.implicits._
      val pairs = d04Pairs(s, d).select($"d1", $"d2").localCheckpoint()
      val converged = connectedComponents(pairs)
      val assigned = corpus(s, d).select($"doc_id")
        .join(converged, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"lbl", $"doc_id").as("grp"))
        .withColumn("split",
          when(graft.Dets.phash(concat(lit("split:"), $"grp".cast("string")))
            % 100 < 90, lit("train")).otherwise(lit("eval")))
        .localCheckpoint() // read thrice: audit (×2 sides) + report
      val cross = pairs
        .join(assigned.select($"doc_id".as("d1"), $"split".as("s1")), Seq("d1"))
        .join(assigned.select($"doc_id".as("d2"), $"split".as("s2")), Seq("d2"))
        .agg(coalesce(sum(when($"s1" =!= $"s2", 1L).otherwise(0L)), lit(0L))
          .as("cross_split_pairs"))
        .localCheckpoint()
      assigned.groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct($"grp").as("n_groups"))
        .crossJoin(broadcast(cross)) // 1-row audit frame
        .orderBy($"split")
    },

    // SOFT DEDUP — the REWEIGHTING alternative to removal (SoftDedup /
    // data-mixing practice: dropping all-but-one of a near-dup cluster
    // throws away formatting diversity; keeping everything over-samples
    // the duplicated content; the middle path keeps every doc but
    // down-weights cluster members to 1/|cluster|, so each cluster
    // contributes ~one doc of sampling mass). Weights are integer parts
    // per million (1e6 DIV csize) so both engines agree exactly — no
    // float rationals. The per-source report prices the deflation:
    // nominal docs/chars vs effective (weighted) mass, plus how many
    // docs sit in multi-member clusters — the number a mixture designer
    // reads before setting source sampling rates (a source whose mass
    // is mostly self-copies contributes far less unique signal than its
    // row count claims). Scale shape: d06's CC machinery (log-round,
    // O(E) frames) + ONE groupBy(grp) size count (uniform key,
    // map-side combined) + a shuffle join back on grp + one per-source
    // aggregate; weights never materialize per-pair.
    "d29_soft_dedup" -> { (s, d) =>
      import s.implicits._
      // eager: CC reads the pairs twice (edge frame and node roster) —
      // unmaterialized, the gram kernel + DP verify would run twice
      val converged = connectedComponents(
        d04Pairs(s, d).select($"d1", $"d2").localCheckpoint())
      val assigned = corpus(s, d)
        .select($"doc_id", $"source", length($"text").cast("long").as("n_chars"))
        .join(converged, Seq("doc_id"), "left")
        .select($"doc_id", $"source", $"n_chars",
                coalesce($"lbl", $"doc_id").as("grp"))
      val sizes = assigned.groupBy($"grp").agg(count(lit(1)).as("csize"))
      assigned.join(sizes, Seq("grp"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
             sum(when($"csize" > 1, 1L).otherwise(0L)).as("n_dup_docs"),
             sum($"n_chars").as("n_chars"),
             sum(expr("1000000 DIV csize")).as("eff_docs_ppm"),
             sum(expr("n_chars * (1000000 DIV csize)")).as("eff_chars_ppm"))
        .orderBy($"source")
    }
  )

  /** DuckDB majority vote of one fingerprint word over a token-hash list
    * column — NULL list (word not in use at this corpus size) stays NULL
    * instead of voting an all-zero word (CASE WHEN over a NULL comparison
    * takes the ELSE 0 branch, so the guard must wrap the whole fold).
    */
  private def majoritySql(ms: String) =
    s"""CASE WHEN $ms IS NULL THEN NULL
       |      ELSE CAST(list_sum(list_transform(range(0, 60), j ->
       |        CASE WHEN 2 * len(list_filter($ms, m -> (m >> j) & 1 = 1)) >= len($ms)
       |             THEN CAST(round(pow(2, j)) AS BIGINT) ELSE 0 END)) AS BIGINT) END""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "d01_exact_dedup" ->
      s"""WITH corpus AS ($corpusSql)
         |SELECT min(doc_id) AS canonical_id, md5(text) AS content_hash,
         |  COUNT(*) AS n_copies
         |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
         |ORDER BY canonical_id""".stripMargin,

    "d02_minhash_lsh" -> {
      s"""WITH $signaturesSql,
         |bands AS (
         |  SELECT doc_id, unnest($bandKeysSql) AS band_key
         |  FROM sigs),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band_key = y.band_key AND x.doc_id < y.doc_id)
         |SELECT d1, d2,
         |  len(list_filter(range(1, 17), j -> s1.sig[j] = s2.sig[j])) / 16.0
         |    AS est_jaccard,
         |  len(list_filter(s1.hset, g -> list_contains(s2.hset, g)))
         |    / (len(s1.hset) + len(s2.hset)
         |       - len(list_filter(s1.hset, g -> list_contains(s2.hset, g))))
         |    AS jaccard
         |FROM pairs
         |JOIN sigs s1 ON s1.doc_id = d1
         |JOIN sigs s2 ON s2.doc_id = d2
         |WHERE len(list_filter(s1.hset, g -> list_contains(s2.hset, g)))
         |    / (len(s1.hset) + len(s2.hset)
         |       - len(list_filter(s1.hset, g -> list_contains(s2.hset, g))))
         |    >= 0.5
         |ORDER BY d1, d2""".stripMargin
    },

    // Wide-fingerprint mirror of [[simhashFps]] — see [[d03PairsSql]];
    // the chain is shared with the d16 cluster oracle.
    "d03_simhash" ->
      s"""WITH $d03PairsSql
         |SELECT d1, d2, simhash1, hamming FROM d03pairs
         |ORDER BY d1, d2""".stripMargin,

    // d06's unrolled propagation over d03's verified Hamming pairs —
    // with d16's own deeper budget (Hamming chains, not cliques).
    "d16_simhash_clusters" ->
      s"""WITH $d03PairsSql,
         |edges AS MATERIALIZED (
         |  SELECT d1 AS a, d2 AS b FROM d03pairs
         |  UNION ALL SELECT d2, d1 FROM d03pairs),
         |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(D16_ROUND_BUDGET + 1)},
         |${ccGuardSql(D16_ROUND_BUDGET)}
         |SELECT doc_id, lbl AS canonical_id FROM l$D16_ROUND_BUDGET, ccguard
         |WHERE ccguard.ok = 1
         |  AND lbl IN (SELECT lbl FROM l$D16_ROUND_BUDGET
         |              GROUP BY lbl HAVING COUNT(*) > 1)
         |ORDER BY doc_id""".stripMargin,

    "d04_ngram_jaccard" -> s"""WITH $d04PairsSql
         |SELECT d1, d2, jaccard FROM d04pairs ORDER BY d1, d2""".stripMargin,

    "d21_lsh_recall" ->
      s"""WITH $evalTruthCtesSql,
         |bands AS (
         |  SELECT doc_id, unnest($bandKeysSql) AS band_key
         |  FROM sigs),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
         |u AS (
         |  SELECT CAST(0.5 AS DOUBLE) AS threshold,
         |    (SELECT COUNT(*) FROM truth WHERE jaccard >= 0.5) AS n_truth,
         |    (SELECT COUNT(*) FROM cand) AS n_cand,
         |    (SELECT COUNT(*) FROM truth t
         |     WHERE t.jaccard >= 0.5 AND EXISTS
         |       (SELECT 1 FROM cand c
         |        WHERE t.d1 = c.d1 AND t.d2 = c.d2)) AS hits
         |  UNION ALL
         |  SELECT CAST(0.8 AS DOUBLE) AS threshold,
         |    (SELECT COUNT(*) FROM truth WHERE jaccard >= 0.8) AS n_truth,
         |    (SELECT COUNT(*) FROM cand) AS n_cand,
         |    (SELECT COUNT(*) FROM truth t
         |     WHERE t.jaccard >= 0.8 AND EXISTS
         |       (SELECT 1 FROM cand c
         |        WHERE t.d1 = c.d1 AND t.d2 = c.d2)) AS hits)
         |SELECT threshold, n_truth, n_cand, hits,
         |  hits / CAST(n_truth AS DOUBLE) AS recall,
         |  hits / CAST(n_cand AS DOUBLE) AS precision
         |FROM u ORDER BY threshold""".stripMargin,

    "d24_minhash_estimator_error" -> {
      // capped-space signatures: same minhash arithmetic as `sigs`, but
      // over the df-capped shingle frame `sh` — mirrors the Spark side's
      // shared-representation contract (see the registry comment).
      val cSigExpr = "[" + AB.map { case (a, b) =>
        s"list_min(list_transform(mhbase, m -> ($a * m + $b) % $P))"
      }.mkString(", ") + "]"
      s"""WITH $evalTruthCtesSql,
         |csig AS (
         |  SELECT doc_id, $cSigExpr AS sig
         |  FROM (SELECT doc_id, list_transform(list(h), m -> m % $P) AS mhbase
         |        FROM sh GROUP BY doc_id) z),
         |ps AS (
         |  SELECT t.d1, t.d2, t.inter, t.uni, t.jaccard,
         |    len(list_filter(range(1, 17),
         |      i -> s1.sig[CAST(i AS INT)] = s2.sig[CAST(i AS INT)]))
         |      AS matches
         |  FROM truth t
         |  JOIN csig s1 ON s1.doc_id = t.d1
         |  JOIN csig s2 ON s2.doc_id = t.d2),
         |banded AS (
         |  SELECT *, CASE WHEN jaccard >= 0.9 THEN '0.90-1.00'
         |                 WHEN jaccard >= 0.7 THEN '0.70-0.90'
         |                 ELSE '0.50-0.70' END AS j_band
         |  FROM ps)
         |SELECT j_band, COUNT(*) AS n_pairs,
         |  SUM(inter) / CAST(SUM(uni) AS DOUBLE) AS micro_true_j,
         |  SUM(matches) / (COUNT(*) * 16.0) AS micro_est_j,
         |  CAST(SUM(CASE WHEN ABS(matches / 16.0 - jaccard) > 0.25
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_large_err
         |FROM banded GROUP BY j_band ORDER BY j_band""".stripMargin
    },

    // d35: d24's capped-space signatures; the b-bit views are mod-4 /
    // mod-2 of the same mins, the bias corrections replay verbatim.
    "d35_bbit_minhash" -> {
      val cSigExpr = "[" + AB.map { case (a, b) =>
        s"list_min(list_transform(mhbase, m -> ($a * m + $b) % $P))"
      }.mkString(", ") + "]"
      def matches(cmp: String) =
        s"""len(list_filter(range(1, 17),
           |      i -> s1.sig[CAST(i AS INT)]$cmp = s2.sig[CAST(i AS INT)]$cmp))"""
          .stripMargin
      s"""WITH $evalTruthCtesSql,
         |csig AS (
         |  SELECT doc_id, $cSigExpr AS sig
         |  FROM (SELECT doc_id, list_transform(list(h), m -> m % $P) AS mhbase
         |        FROM sh GROUP BY doc_id) z),
         |ps AS (
         |  SELECT t.inter, t.uni, t.jaccard,
         |    ${matches("")} AS mf,
         |    ${matches(" % 4")} AS m2,
         |    ${matches(" % 2")} AS m1
         |  FROM truth t
         |  JOIN csig s1 ON s1.doc_id = t.d1
         |  JOIN csig s2 ON s2.doc_id = t.d2),
         |banded AS (
         |  SELECT *, CASE WHEN jaccard >= 0.9 THEN '0.90-1.00'
         |                 WHEN jaccard >= 0.7 THEN '0.70-0.90'
         |                 ELSE '0.50-0.70' END AS j_band
         |  FROM ps)
         |SELECT j_band, COUNT(*) AS n_pairs,
         |  SUM(inter) / CAST(SUM(uni) AS DOUBLE) AS micro_true_j,
         |  SUM(mf) / (COUNT(*) * 16.0) AS est_full,
         |  (SUM(m2) / (COUNT(*) * 16.0) - 0.25) / 0.75 AS est_2bit,
         |  (SUM(m1) / (COUNT(*) * 16.0) - 0.5) * 2 AS est_1bit,
         |  CAST(SUM(CASE WHEN ABS((m1 / 16.0 - 0.5) * 2 - jaccard) > 0.25
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_large_err_1bit
         |FROM banded GROUP BY j_band ORDER BY j_band""".stripMargin
    },

    "d23_dedup_rate_curve" -> {
      val taus = Seq("0.5", "0.7", "0.8", "0.9")
      val rows = taus.map { t =>
        s"""  SELECT CAST($t AS DOUBLE) AS threshold,
           |    (SELECT COUNT(*) FROM sigs) AS n_docs,
           |    (SELECT COUNT(*) FROM truth WHERE jaccard >= $t) AS n_pairs,
           |    (SELECT COUNT(DISTINCT d2) FROM truth WHERE jaccard >= $t)
           |      AS n_removed""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $evalTruthCtesSql,
         |u AS (
         |$rows)
         |SELECT threshold, n_docs, n_pairs, n_removed,
         |  n_removed / CAST(n_docs AS DOUBLE) AS frac_removed
         |FROM u ORDER BY threshold""".stripMargin
    },

    // d32: one band/cand CTE pair per (b, r) config over the shared
    // sigs/truth chain — the d21 oracle parameterized by the split.
    "d32_band_plan" -> {
      val configs = Seq((2, 8), (4, 4), (8, 2), (16, 1))
      val perCfg = configs.map { case (b, r) =>
        val keys = "[" + (0 until b).map { k =>
          val parts = (1 to r).map(j => s"sig[${k * r + j}]")
          s"concat_ws('_', '$k', ${parts.mkString(", ")})"
        }.mkString(", ") + "]"
        s"""probe_${b}_$r AS (
           |  SELECT COALESCE(CAST(SUM(c * (c - 1) // 2) AS BIGINT), 0)
           |    AS n_probe
           |  FROM (SELECT COUNT(*) AS c
           |        FROM (SELECT doc_id, unnest($keys) AS bk FROM sigs) bz
           |        GROUP BY bk) cz)""".stripMargin
      }.mkString(",\n")
      val rows = configs.map { case (b, r) =>
        val hit = (0 until b).map { k =>
          s"(sig1[${k * r + 1}:${k * r + r}] = sig2[${k * r + 1}:${k * r + r}])"
        }.mkString(" OR ")
        s"""  SELECT CAST($b AS INT) AS n_bands, CAST($r AS INT) AS n_rows,
           |    (SELECT n_probe FROM probe_${b}_$r) AS n_probe_pairs,
           |    CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_truth50,
           |    CAST(SUM(CASE WHEN jaccard >= 0.5 AND hit THEN 1 ELSE 0 END)
           |      AS BIGINT) AS hits50,
           |    CAST(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_truth80,
           |    CAST(SUM(CASE WHEN jaccard >= 0.8 AND hit THEN 1 ELSE 0 END)
           |      AS BIGINT) AS hits80
           |  FROM (SELECT jaccard, ($hit) AS hit FROM tsig) h_${b}_$r"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $evalTruthCtesSql,
         |tsig AS MATERIALIZED (
         |  SELECT t.jaccard, s1.sig AS sig1, s2.sig AS sig2
         |  FROM truth t
         |  JOIN sigs s1 ON s1.doc_id = t.d1
         |  JOIN sigs s2 ON s2.doc_id = t.d2),
         |$perCfg,
         |u AS (
         |$rows)
         |SELECT n_bands, n_rows, n_probe_pairs, n_truth50, hits50,
         |  hits50 / CAST(n_truth50 AS DOUBLE) AS recall50,
         |  n_truth80, hits80,
         |  hits80 / CAST(n_truth80 AS DOUBLE) AS recall80
         |FROM u ORDER BY n_rows DESC""".stripMargin
    },

    // d38: the same three stage rules over the four-plant cascade
    // corpus — stage 2's truth CTEs are the d21 chain over stage-1
    // survivors, stage 3 is d33's subject rule over stage-2 survivors.
    "d38_cascade_report" -> {
      s"""WITH cas AS (
         |  $corpusSql
         |  UNION ALL
         |  SELECT doc_id + 3000000,
         |    array_to_string(words[1:GREATEST(3, (len(words) * 6) // 10)],
         |      ' ') || ' mid sim tail pad',
         |    lang, source
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words, lang,
         |          source
         |        FROM documents WHERE doc_id % 13 = 0) pz
         |  WHERE len(words) >= 6
         |  UNION ALL
         |  SELECT doc_id + 4000000,
         |    array_to_string(words[1:GREATEST(5, (len(words) * 3) // 10)],
         |      ' '),
         |    lang, source
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words, lang,
         |          source
         |        FROM documents WHERE doc_id % 11 = 0) qz
         |  WHERE len(words) >= 10),
         |k1 AS (SELECT MIN(doc_id) AS doc_id FROM cas GROUP BY md5(text)),
         |s1 AS (SELECT * FROM cas
         |       WHERE doc_id IN (SELECT doc_id FROM k1)),
         |${sigCtesSql("s1", "x")},
         |xshall AS (SELECT doc_id, unnest(hset) AS h FROM xsigs),
         |xrare AS (SELECT h FROM xshall GROUP BY h
         |          HAVING COUNT(*) <= $D21_DF_CAP),
         |xsh AS (SELECT doc_id, h FROM xshall
         |        WHERE EXISTS (SELECT 1 FROM xrare r WHERE r.h = xshall.h)),
         |xisect AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS inter
         |  FROM xsh x JOIN xsh y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |xsizes AS (SELECT doc_id, COUNT(*) AS sz FROM xsh
         |           GROUP BY doc_id),
         |rm2 AS MATERIALIZED (
         |  SELECT DISTINCT d2 AS doc_id FROM xisect
         |  JOIN xsizes z1 ON z1.doc_id = d1
         |  JOIN xsizes z2 ON z2.doc_id = d2
         |  WHERE inter / (z1.sz + z2.sz - inter) >= 0.8),
         |s2 AS (SELECT * FROM s1
         |       WHERE doc_id NOT IN (SELECT doc_id FROM rm2)),
         |${sigCtesSql("s2", "y")},
         |yshall AS (SELECT doc_id, unnest(hset) AS h FROM ysigs),
         |yrare AS (SELECT h FROM yshall GROUP BY h
         |          HAVING COUNT(*) <= $D21_DF_CAP),
         |ysh AS (SELECT doc_id, h FROM yshall
         |        WHERE EXISTS (SELECT 1 FROM yrare r WHERE r.h = yshall.h)),
         |yisect AS (
         |  SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS inter
         |  FROM ysh x JOIN ysh y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |ysizes AS (SELECT doc_id, COUNT(*) AS sz FROM ysh
         |           GROUP BY doc_id),
         |rm3 AS MATERIALIZED (
         |  SELECT DISTINCT CASE WHEN a_is_sub THEN da ELSE db END AS doc_id
         |  FROM (
         |    SELECT da, db, inter, z1.sz AS sza, z2.sz AS szb,
         |      (z1.sz < z2.sz OR (z1.sz = z2.sz AND da < db)) AS a_is_sub
         |    FROM yisect
         |    JOIN ysizes z1 ON z1.doc_id = da
         |    JOIN ysizes z2 ON z2.doc_id = db) pp
         |  WHERE inter * 1000000 //
         |      (CASE WHEN a_is_sub THEN sza ELSE szb END) >= 800000
         |    AND inter / CAST(sza + szb - inter AS DOUBLE) < 0.5),
         |n AS (
         |  SELECT (SELECT COUNT(*) FROM cas) AS n0,
         |    (SELECT COUNT(*) FROM k1) AS k1n,
         |    (SELECT COUNT(*) FROM rm2) AS r2,
         |    (SELECT COUNT(*) FROM rm3) AS r3)
         |SELECT stage, docs_in, n_removed, docs_out,
         |  n_removed / CAST(docs_in AS DOUBLE) AS removed_frac
         |FROM (
         |  SELECT '1_exact' AS stage, n0 AS docs_in, n0 - k1n AS n_removed,
         |    k1n AS docs_out FROM n
         |  UNION ALL
         |  SELECT '2_minhash', k1n, r2, k1n - r2 FROM n
         |  UNION ALL
         |  SELECT '3_containment', k1n - r2, r3, k1n - r2 - r3 FROM n)
         |ORDER BY stage""".stripMargin
    },

    // d33: same corpus + quote plants, same df-capped inverted index;
    // the subject rule (smaller set, ties to smaller id) and both
    // thresholds replay verbatim.
    "d33_containment" ->
      s"""WITH c33 AS (
         |  $corpusSql
         |  UNION ALL
         |  SELECT doc_id + 4000000,
         |    array_to_string(words[1:GREATEST(5, (len(words) * 3) // 10)],
         |      ' '),
         |    lang, source
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words,
         |          lang, source
         |        FROM documents WHERE doc_id % 11 = 0) qz
         |  WHERE len(words) >= 10),
         |${sigCtesSql("c33", "")},
         |shall AS (SELECT doc_id, unnest(hset) AS h FROM sigs),
         |rare AS (SELECT h FROM shall GROUP BY h
         |         HAVING COUNT(*) <= $D21_DF_CAP),
         |sh AS (SELECT doc_id, h FROM shall
         |       WHERE EXISTS (SELECT 1 FROM rare r WHERE r.h = shall.h)),
         |isect AS (
         |  SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS inter
         |  FROM sh x JOIN sh y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |pp AS (
         |  SELECT da, db, inter, s1.sz AS sza, s2.sz AS szb,
         |    (s1.sz < s2.sz OR (s1.sz = s2.sz AND da < db)) AS a_is_sub
         |  FROM isect
         |  JOIN sizes s1 ON s1.doc_id = da
         |  JOIN sizes s2 ON s2.doc_id = db),
         |cc AS (
         |  SELECT CASE WHEN a_is_sub THEN da ELSE db END AS d_sub,
         |    CASE WHEN a_is_sub THEN db ELSE da END AS d_sup,
         |    inter,
         |    CASE WHEN a_is_sub THEN sza ELSE szb END AS sz_sub,
         |    CASE WHEN a_is_sub THEN szb ELSE sza END AS sz_sup,
         |    inter * 1000000 // CASE WHEN a_is_sub THEN sza ELSE szb END
         |      AS cont_ppm,
         |    inter / CAST(sza + szb - inter AS DOUBLE) AS jaccard
         |  FROM pp)
         |SELECT d_sub, d_sup, CAST(inter AS BIGINT) AS inter,
         |  CAST(sz_sub AS BIGINT) AS sz_sub, CAST(sz_sup AS BIGINT) AS sz_sup,
         |  CAST(cont_ppm AS BIGINT) AS cont_ppm, jaccard
         |FROM cc WHERE cont_ppm >= 800000 AND jaccard < 0.5
         |ORDER BY d_sub, d_sup""".stripMargin,

    // d34: same cipher plant (md5 is the shared hash), same lag-based
    // previous-occurrence pattern, same 60-bit fingerprint, same
    // no-repetition gate (HAVING MAX(pp) > 0 mirrors the Spark-side
    // all-zeros-clique guard).
    "d34_crosslingual" -> {
      val fp = graft.Dets.phashSql("array_to_string(list(pp ORDER BY pos), ',')")
      s"""WITH c AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 5000000,
         |    array_to_string(list_transform(
         |      list_filter(string_split(text, ' '), x -> x <> ''),
         |      w -> 'z' || substring(md5('c:' || w), 1, 6)), ' '),
         |    'xx'
         |  FROM documents WHERE doc_id % 19 = 0),
         |t AS (
         |  SELECT doc_id, lang,
         |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
         |    unnest(range(0, len(list_filter(string_split(text, ' '),
         |      x -> x <> '')))) AS pos
         |  FROM c),
         |p AS (
         |  SELECT doc_id, lang, pos,
         |    CAST(COALESCE(lag(pos) OVER (PARTITION BY doc_id, w
         |      ORDER BY pos) + 1, 0) AS BIGINT) AS pp
         |  FROM t),
         |f AS (
         |  SELECT doc_id, MAX(lang) AS lang, COUNT(*) AS n_tokens,
         |    $fp AS fp
         |  FROM p GROUP BY doc_id HAVING MAX(pp) > 0)
         |SELECT x.doc_id AS d1, y.doc_id AS d2,
         |  CAST(x.n_tokens AS BIGINT) AS n_tokens,
         |  x.lang AS lang1, y.lang AS lang2
         |FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |  AND x.lang <> y.lang
         |ORDER BY d1, d2""".stripMargin
    },

    "d22_source_overlap" ->
      s"""WITH w AS (
         |  SELECT source, string_split(text, ' ') AS words FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |hs AS (
         |  SELECT DISTINCT source,
         |    unnest(list_transform(list_transform(range(0, len(words) - 2),
         |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]),
         |      s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT))) AS h
         |  FROM w),
         |srcsets AS (
         |  SELECT h, list(source ORDER BY source) AS srcs
         |  FROM hs GROUP BY h),
         |pe AS (
         |  SELECT unnest(flatten(list_transform(range(1, len(srcs)),
         |    i -> list_transform(range(i + 1, len(srcs) + 1),
         |      j -> {'a': srcs[CAST(i AS INT)],
         |            'b': srcs[CAST(j AS INT)]})))) AS p
         |  FROM srcsets WHERE len(srcs) >= 2),
         |isect AS (
         |  SELECT p.a AS sa, p.b AS sb, COUNT(*) AS inter
         |  FROM pe GROUP BY 1, 2),
         |nsrc AS (SELECT source, COUNT(*) AS n FROM hs GROUP BY 1),
         |ap AS (
         |  SELECT x.source AS source_a, y.source AS source_b,
         |    x.n AS n_a, y.n AS n_b
         |  FROM nsrc x JOIN nsrc y ON x.source < y.source)
         |SELECT source_a, source_b, n_a, n_b,
         |  COALESCE(i.inter, 0) AS inter,
         |  COALESCE(i.inter, 0)
         |    / CAST(n_a + n_b - COALESCE(i.inter, 0) AS DOUBLE) AS jaccard
         |FROM ap LEFT JOIN isect i ON source_a = i.sa AND source_b = i.sb
         |ORDER BY source_a, source_b""".stripMargin,

    "d07_edit_distance" ->
      s"""WITH corpus AS ($corpusSql),
         |docs AS (
         |  SELECT doc_id, lang, source,
         |    CAST(length(text) // 64 AS BIGINT) AS lenb,
         |    length(text) AS n_chars, text
         |  FROM corpus)
         |SELECT x.doc_id AS d1, y.doc_id AS d2,
         |  CAST(levenshtein(x.text, y.text) AS INT) AS editdist
         |FROM docs x JOIN docs y
         |  ON x.lang = y.lang AND x.source = y.source AND x.lenb = y.lenb
         |  AND x.doc_id < y.doc_id AND abs(x.n_chars - y.n_chars) <= 5
         |WHERE levenshtein(x.text, y.text) <= 5
         |ORDER BY d1, d2""".stripMargin,

    // CC_ROUND_BUDGET label-propagation rounds, unrolled, +1 guard
    // round that must be a no-op (ccGuardSql errors the query
    // otherwise). The Spark side runs large-star/small-star to a
    // self-verified fixpoint; min-labels are algorithm-independent, so
    // both engines compute the identical function.
    "d06_dedup_clusters" ->
      s"""WITH $d04PairsSql,
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM d04pairs
         |  UNION ALL SELECT d2, d1 FROM d04pairs),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(CC_ROUND_BUDGET + 1)},
         |${ccGuardSql(CC_ROUND_BUDGET)}
         |SELECT doc_id, lbl AS cluster_id FROM l$CC_ROUND_BUDGET, ccguard
         |WHERE ccguard.ok = 1
         |  AND lbl IN (SELECT lbl FROM l$CC_ROUND_BUDGET
         |              GROUP BY lbl HAVING COUNT(*) > 1)
         |ORDER BY doc_id""".stripMargin,

    // d36: d06's unrolled CC chain → per-cluster sizes → integer
    // next-pow2 buckets; singleton row = corpus minus clustered docs.
    "d36_cluster_profile" ->
      s"""WITH $d04PairsSql,
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM d04pairs
         |  UNION ALL SELECT d2, d1 FROM d04pairs),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(CC_ROUND_BUDGET + 1)},
         |${ccGuardSql(CC_ROUND_BUDGET)},
         |clusters AS (
         |  SELECT doc_id, lbl AS cluster_id FROM l$CC_ROUND_BUDGET, ccguard
         |  WHERE ccguard.ok = 1
         |    AND lbl IN (SELECT lbl FROM l$CC_ROUND_BUDGET
         |                GROUP BY lbl HAVING COUNT(*) > 1)),
         |sizes AS (
         |  SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY 1),
         |cb AS (
         |  SELECT (CAST(1 AS BIGINT) << length(bin(sz - 1))) AS bucket_max,
         |    COUNT(*) AS n_clusters, CAST(SUM(sz) AS BIGINT) AS n_docs
         |  FROM sizes GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS n_corpus FROM corpus),
         |ncl AS (SELECT COUNT(*) AS n_clustered FROM clusters),
         |rws AS (
         |  SELECT bucket_max, n_clusters, n_docs,
         |    n_docs - n_clusters AS n_redundant
         |  FROM cb
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), n_corpus - n_clustered,
         |    n_corpus - n_clustered, CAST(0 AS BIGINT)
         |  FROM tot, ncl)
         |SELECT bucket_max, n_clusters, n_docs, n_redundant,
         |  n_redundant * 1000000 // n_corpus AS redundant_ppm
         |FROM rws, tot ORDER BY bucket_max""".stripMargin,

    // d30: d01's md5 groups for the exact stage; d06's unrolled CC for
    // the near stage restricted to exact survivors — keeper = min
    // surviving member, so precedence is structural, not a filter.
    "d30_dedup_manifest" ->
      s"""WITH $d04PairsSql,
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM d04pairs
         |  UNION ALL SELECT d2, d1 FROM d04pairs),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(CC_ROUND_BUDGET + 1)},
         |${ccGuardSql(CC_ROUND_BUDGET)},
         |clusters AS (
         |  SELECT doc_id, lbl AS cluster_id FROM l$CC_ROUND_BUDGET, ccguard
         |  WHERE ccguard.ok = 1
         |    AND lbl IN (SELECT lbl FROM l$CC_ROUND_BUDGET
         |                GROUP BY lbl HAVING COUNT(*) > 1)),
         |c AS (SELECT doc_id, md5(text) AS ch FROM corpus),
         |ek AS (
         |  SELECT ch, MIN(doc_id) AS keeper_id, COUNT(*) AS n_group
         |  FROM c GROUP BY ch),
         |exact_removed AS (
         |  SELECT c.doc_id, ek.keeper_id, 'exact' AS rule, ek.n_group
         |  FROM c JOIN ek USING (ch) WHERE c.doc_id <> ek.keeper_id),
         |surv AS (
         |  SELECT cl.doc_id, cl.cluster_id FROM clusters cl
         |  WHERE cl.doc_id NOT IN (SELECT doc_id FROM exact_removed)),
         |nk AS (
         |  SELECT cluster_id, MIN(doc_id) AS keeper_id,
         |    COUNT(*) AS n_group
         |  FROM surv GROUP BY cluster_id),
         |near_removed AS (
         |  SELECT sv.doc_id, nk.keeper_id, 'near' AS rule, nk.n_group
         |  FROM surv sv JOIN nk USING (cluster_id)
         |  WHERE sv.doc_id <> nk.keeper_id)
         |SELECT doc_id, keeper_id, rule, CAST(n_group AS BIGINT) AS n_group
         |FROM (SELECT * FROM exact_removed
         |      UNION ALL SELECT * FROM near_removed) u
         |ORDER BY doc_id""".stripMargin,

    // d39: d30's manifest CTE chain (one row per removed doc) + one
    // map-only token count; the left join can never double-charge.
    "d39_token_budget" ->
      s"""WITH $d04PairsSql,
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM d04pairs
         |  UNION ALL SELECT d2, d1 FROM d04pairs),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(CC_ROUND_BUDGET + 1)},
         |${ccGuardSql(CC_ROUND_BUDGET)},
         |clusters AS (
         |  SELECT doc_id, lbl AS cluster_id FROM l$CC_ROUND_BUDGET, ccguard
         |  WHERE ccguard.ok = 1
         |    AND lbl IN (SELECT lbl FROM l$CC_ROUND_BUDGET
         |                GROUP BY lbl HAVING COUNT(*) > 1)),
         |c AS (SELECT doc_id, md5(text) AS ch FROM corpus),
         |ek AS (
         |  SELECT ch, MIN(doc_id) AS keeper_id FROM c GROUP BY ch),
         |exact_removed AS (
         |  SELECT c.doc_id, 'exact' AS rule
         |  FROM c JOIN ek USING (ch) WHERE c.doc_id <> ek.keeper_id),
         |surv AS (
         |  SELECT cl.doc_id, cl.cluster_id FROM clusters cl
         |  WHERE cl.doc_id NOT IN (SELECT doc_id FROM exact_removed)),
         |nk AS (
         |  SELECT cluster_id, MIN(doc_id) AS keeper_id
         |  FROM surv GROUP BY cluster_id),
         |near_removed AS (
         |  SELECT sv.doc_id, 'near' AS rule
         |  FROM surv sv JOIN nk USING (cluster_id)
         |  WHERE sv.doc_id <> nk.keeper_id),
         |removed AS (
         |  SELECT doc_id, rule FROM exact_removed
         |  UNION ALL SELECT doc_id, rule FROM near_removed),
         |tk AS (
         |  SELECT source, doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |      AS BIGINT) AS ntok
         |  FROM corpus)
         |SELECT source, COUNT(*) AS docs_in,
         |  CAST(SUM(ntok) AS BIGINT) AS tokens_in,
         |  CAST(SUM(CASE WHEN rule = 'exact' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_removed_exact,
         |  CAST(SUM(CASE WHEN rule = 'near' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_removed_near,
         |  CAST(SUM(CASE WHEN rule IS NOT NULL THEN ntok ELSE 0 END)
         |    AS BIGINT) AS tokens_removed,
         |  CAST(SUM(CASE WHEN rule IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_out,
         |  CAST(SUM(CASE WHEN rule IS NULL THEN ntok ELSE 0 END) AS BIGINT)
         |    AS tokens_out,
         |  CAST(SUM(CASE WHEN rule IS NULL THEN ntok ELSE 0 END) AS BIGINT)
         |    * 1000000 // CAST(SUM(ntok) AS BIGINT) AS kept_ppm
         |FROM tk LEFT JOIN removed USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,

    // d31: d22's overlap CTEs feed five unrolled weighted
    // power-iteration rounds, every CTE MATERIALIZED (edges feeds all
    // five — the d06-round lesson); nonneg integer DIV agrees across
    // engines.
    "d31_source_graph_rank" -> {
      def prRound(j: Int) =
        s"""pr$j AS MATERIALIZED (
           |  SELECT e.b AS source,
           |    CAST(150000000 + (85 * SUM((p.pr * e.w) // d.wdeg)) // 100
           |      AS BIGINT) AS pr
           |  FROM edges e
           |  JOIN pr${j - 1} p ON e.a = p.source
           |  JOIN wdeg d ON e.a = d.a
           |  GROUP BY e.b)""".stripMargin
      s"""WITH w AS (
         |  SELECT source, string_split(text, ' ') AS words FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |hs AS (
         |  SELECT DISTINCT source,
         |    unnest(list_transform(list_transform(range(0, len(words) - 2),
         |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]),
         |      s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT))) AS h
         |  FROM w),
         |srcsets AS (
         |  SELECT h, list(source ORDER BY source) AS srcs
         |  FROM hs GROUP BY h),
         |pe AS (
         |  SELECT unnest(flatten(list_transform(range(1, len(srcs)),
         |    i -> list_transform(range(i + 1, len(srcs) + 1),
         |      j -> {'a': srcs[CAST(i AS INT)],
         |            'b': srcs[CAST(j AS INT)]})))) AS p
         |  FROM srcsets WHERE len(srcs) >= 2),
         |isect AS (
         |  SELECT p.a AS sa, p.b AS sb, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM pe GROUP BY 1, 2),
         |edges AS MATERIALIZED (
         |  SELECT sa AS a, sb AS b, w FROM isect
         |  UNION ALL SELECT sb, sa, w FROM isect),
         |wdeg AS MATERIALIZED (
         |  SELECT a, CAST(SUM(w) AS BIGINT) AS wdeg,
         |    CAST(COUNT(*) AS BIGINT) AS n_neighbors
         |  FROM edges GROUP BY a),
         |pr0 AS MATERIALIZED (
         |  SELECT a AS source, CAST(1000000000 AS BIGINT) AS pr FROM wdeg),
         |${(1 to 5).map(prRound).mkString(",\n")}
         |SELECT p.source, d.n_neighbors, d.wdeg, p.pr,
         |  CAST(row_number() OVER (ORDER BY p.pr DESC, p.source)
         |    AS BIGINT) AS rank
         |FROM pr5 p JOIN wdeg d ON d.a = p.source
         |ORDER BY p.source""".stripMargin
    },

    // d06's labels + the t20 quality mirror + a per-cluster argmax.
    "d20_cluster_representatives" ->
      s"""WITH $d04PairsSql,
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM d04pairs
         |  UNION ALL SELECT d2, d1 FROM d04pairs),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(CC_ROUND_BUDGET + 1)},
         |${ccGuardSql(CC_ROUND_BUDGET)},
         |q AS (
         |  SELECT doc_id,
         |    len(list_distinct(words)) / n_words * 0.4 +
         |    (1.0 - len(list_filter(words, w -> w = 'the' OR w = 'a'))
         |       / n_words) * 0.3 +
         |    least(n_words / 100.0, 1.0) * 0.3 AS quality
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
         |        FROM corpus)
         |  WHERE n_words >= 1),
         |m AS (
         |  SELECT l.lbl, l.doc_id, q.quality
         |  FROM l$CC_ROUND_BUDGET l JOIN q USING (doc_id)),
         |sized AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY lbl) AS n_members FROM m),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY lbl
         |    ORDER BY quality DESC, doc_id) AS rn
         |  FROM sized WHERE n_members > 1)
         |SELECT lbl AS cluster_id, doc_id AS rep_doc,
         |  round(quality, 6) AS rep_quality,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM r, ccguard
         |WHERE ccguard.ok = 1 AND rn = 1
         |ORDER BY cluster_id""".stripMargin,

    // d06's unrolled propagation over d07's edge set.
    "d11_editdist_clusters" ->
      s"""WITH $d07PairsSql,
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM d07pairs
         |  UNION ALL SELECT d2, d1 FROM d07pairs),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(CC_ROUND_BUDGET + 1)},
         |${ccGuardSql(CC_ROUND_BUDGET)}
         |SELECT doc_id, lbl AS canonical_id FROM l$CC_ROUND_BUDGET, ccguard
         |WHERE ccguard.ok = 1
         |  AND lbl IN (SELECT lbl FROM l$CC_ROUND_BUDGET
         |              GROUP BY lbl HAVING COUNT(*) > 1)
         |ORDER BY doc_id""".stripMargin,

    "d12_decontaminate" -> contaminationSql(D12_FIX),

    // d40: the paraphrase-plant corpus, two sigCtesSql chains (bench/
    // train), 16×1 banding, exact shingle-Jaccard verify, best match
    // per flagged doc — mirrors the Spark chain CTE for CTE.
    // d41: the same three strategies replayed on DuckDB's end — the
    // id/content shard is the first md5 hex char mod 8 on both engines.
    "d41_shard_dedup_error" ->
      s"""WITH corpus AS ($corpusSql),
         |h AS (SELECT doc_id, md5(text) AS h FROM corpus),
         |tot AS (SELECT COUNT(*) AS n_docs,
         |               COUNT(DISTINCT h) AS n_kept_g FROM h),
         |ish AS (SELECT COUNT(*) AS n_kept_i FROM (
         |  SELECT DISTINCT
         |    (strpos('0123456789abcdef',
         |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8, h
         |  FROM h) z),
         |csh AS (SELECT COUNT(*) AS n_kept_c FROM (
         |  SELECT DISTINCT
         |    (strpos('0123456789abcdef',
         |       substr(md5(CAST(h AS VARCHAR)), 1, 1)) - 1) % 8, h
         |  FROM h) z),
         |rows_ AS (
         |  SELECT 'content_sharded' AS strategy, n_docs,
         |    n_kept_c AS n_kept, n_kept_g FROM tot, csh
         |  UNION ALL
         |  SELECT 'global', n_docs, n_kept_g, n_kept_g FROM tot
         |  UNION ALL
         |  SELECT 'id_sharded', n_docs, n_kept_i, n_kept_g FROM tot, ish)
         |SELECT strategy, n_docs, n_kept,
         |  n_docs - n_kept AS n_removed,
         |  (n_docs - n_kept) * 1000000 // n_docs AS removed_ppm,
         |  n_kept - n_kept_g AS missed_vs_global
         |FROM rows_ ORDER BY strategy""".stripMargin,

    "d40_fuzzy_decontaminate" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |benchd AS (SELECT doc_id, text FROM docs WHERE doc_id % 50 = 0),
         |parad AS (
         |  SELECT doc_id + $D40_OFFSET AS doc_id,
         |    array_to_string(list_transform(range(1, len(ws) + 1),
         |      i -> CASE WHEN (i - 1) % 8 = 0
         |        THEN 'fz' || CAST(doc_id AS VARCHAR) || 'x'
         |               || CAST(i AS VARCHAR)
         |        ELSE ws[CAST(i AS INT)] END), ' ') AS text
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |        FROM benchd) z),
         |traind AS (
         |  SELECT doc_id, text FROM docs WHERE doc_id % 50 <> 0
         |  UNION ALL SELECT doc_id, text FROM parad),
         |${sigCtesSql("benchd", "b")},
         |${sigCtesSql("traind", "t")},
         |bbands AS (
         |  SELECT doc_id AS bench_id, unnest($wideBandKeysSql) AS band_key
         |  FROM bsigs),
         |tbands AS (
         |  SELECT doc_id, unnest($wideBandKeysSql) AS band_key
         |  FROM tsigs),
         |cand AS (
         |  SELECT DISTINCT tb.doc_id, bb.bench_id
         |  FROM tbands tb JOIN bbands bb USING (band_key)),
         |scored AS (
         |  SELECT c.doc_id, c.bench_id,
         |    len(list_filter(ts.hset, g -> list_contains(bs.hset, g)))
         |      / (len(ts.hset) + len(bs.hset)
         |         - len(list_filter(ts.hset, g -> list_contains(bs.hset, g))))
         |      AS jaccard
         |  FROM cand c
         |  JOIN tsigs ts ON ts.doc_id = c.doc_id
         |  JOIN bsigs bs ON bs.doc_id = c.bench_id),
         |flagged AS (
         |  SELECT doc_id, bench_id, jaccard,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, bench_id) AS rn
         |  FROM scored WHERE jaccard >= 0.35)
         |SELECT doc_id, bench_id, jaccard FROM flagged WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    // d37: the d12 oracle parameterized by gram size, one row per n.
    "d37_gram_size_sweep" -> {
      val fix = D12_FIX
      def gramsSql(src: String, n: Int) = {
        val fpOf = graft.Dets.phashSql(
          s"array_to_string(ws[CAST(i AS INT):CAST(i + ${n - 1} AS INT)]," +
          " '_')")
        s"""SELECT DISTINCT doc_id, $fpOf AS fp
           |FROM (SELECT doc_id, ws,
           |        unnest(list_transform(range(1, len(ws) - ${n - 2}),
           |          i -> i)) AS i
           |      FROM (SELECT doc_id, string_split(text, ' ') AS ws
           |            FROM $src)
           |      WHERE len(ws) >= $n)""".stripMargin
      }
      val perN = Seq(8, 13, 20).map { n =>
        s"""bg_$n AS (SELECT DISTINCT fp FROM (${gramsSql("bench", n)})),
           |hits_$n AS (
           |  SELECT tg.doc_id, COUNT(*) AS h
           |  FROM (${gramsSql("train", n)}) tg JOIN bg_$n USING (fp)
           |  GROUP BY tg.doc_id),
           |row_$n AS (
           |  SELECT CAST($n AS INT) AS n_gram,
           |    (SELECT COUNT(*) FROM bg_$n) AS n_bench_grams,
           |    (SELECT COUNT(*) FROM train) AS n_train_docs,
           |    (SELECT COUNT(*) FROM hits_$n) AS n_flagged_docs,
           |    (SELECT COALESCE(CAST(SUM(h) AS BIGINT), 0) FROM hits_$n)
           |      AS n_hits_total)""".stripMargin
      }.mkString(",\n")
      s"""WITH bench AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % ${fix.modulus} = 0),
         |train AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % ${fix.modulus} <> 0
         |  UNION ALL
         |  SELECT doc_id + ${fix.offset},
         |    array_to_string(string_split(text, ' ')[1:16], ' ') || ' ' ||
         |    array_to_string(list_transform(range(1, 25),
         |      i -> '${fix.tag}' || CAST(doc_id AS VARCHAR) || 'x' ||
         |           CAST(i AS VARCHAR)), ' ')
         |  FROM bench),
         |$perN
         |SELECT n_gram, n_bench_grams, n_train_docs, n_flagged_docs,
         |  n_hits_total,
         |  n_flagged_docs / CAST(n_train_docs AS DOUBLE) AS flag_rate
         |FROM (SELECT * FROM row_8 UNION ALL SELECT * FROM row_13
         |      UNION ALL SELECT * FROM row_20)
         |ORDER BY n_gram""".stripMargin
    },

    "d19_eval_exposure" -> {
      val fix = D12_FIX
      val fpOf = graft.Dets.phashSql(
        "array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], '_')")
      def gramsSql(src: String) =
        s"""SELECT DISTINCT doc_id, $fpOf AS fp
           |FROM (SELECT doc_id, ws,
           |        unnest(list_transform(range(1, len(ws) - 6), i -> i)) AS i
           |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src)
           |      WHERE len(ws) >= 8)""".stripMargin
      s"""WITH bench AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % ${fix.modulus} = 0),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % ${fix.modulus} <> 0
         |  UNION ALL
         |  SELECT doc_id + ${fix.offset},
         |    array_to_string(string_split(text, ' ')[1:16], ' ') || ' ' ||
         |    array_to_string(list_transform(range(1, 25),
         |      i -> '${fix.tag}' || CAST(doc_id AS VARCHAR) || 'x' ||
         |           CAST(i AS VARCHAR)), ' ')
         |  FROM bench),
         |bg AS (${gramsSql("bench")}),
         |tg AS (${gramsSql("train")}),
         |tot AS (SELECT doc_id AS bench_doc, COUNT(*) AS n_grams
         |        FROM bg GROUP BY 1),
         |hits AS (
         |  SELECT bg.doc_id AS bench_doc,
         |    COUNT(DISTINCT bg.fp) AS n_hit_grams,
         |    COUNT(DISTINCT tg.doc_id) AS n_train_docs
         |  FROM bg JOIN tg USING (fp) GROUP BY 1)
         |SELECT t.bench_doc, t.n_grams,
         |  CAST(COALESCE(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
         |  CAST(COALESCE(h.n_train_docs, 0) AS BIGINT) AS n_train_docs,
         |  round(CAST(COALESCE(h.n_hit_grams, 0) AS DOUBLE) / t.n_grams, 6)
         |    AS exposure_frac
         |FROM tot t LEFT JOIN hits h USING (bench_doc)
         |ORDER BY bench_doc""".stripMargin
    },

    "d25_decontaminate_spans" -> {
      val fix = D12_FIX
      val fpOf = graft.Dets.phashSql(
        "array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], '_')")
      s"""WITH bench AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % ${fix.modulus} = 0),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % ${fix.modulus} <> 0
         |  UNION ALL
         |  SELECT doc_id + ${fix.offset},
         |    array_to_string(string_split(text, ' ')[1:16], ' ') || ' ' ||
         |    array_to_string(list_transform(range(1, 25),
         |      i -> '${fix.tag}' || CAST(doc_id AS VARCHAR) || 'x' ||
         |           CAST(i AS VARCHAR)), ' ')
         |  FROM bench),
         |bg AS (
         |  SELECT DISTINCT $fpOf AS fp
         |  FROM (SELECT doc_id, ws,
         |          unnest(list_transform(range(1, len(ws) - 6), i -> i)) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM bench)
         |        WHERE len(ws) >= 8)),
         |tgp AS (
         |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(i AS BIGINT) AS i, CAST(i + 7 AS BIGINT) AS e,
         |    $fpOf AS fp
         |  FROM (SELECT doc_id, ws,
         |          unnest(list_transform(range(1, len(ws) - 6), i -> i)) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train)
         |        WHERE len(ws) >= 8)),
         |hits AS (
         |  SELECT doc_id, n_words, i, e FROM tgp
         |  WHERE EXISTS (SELECT 1 FROM bg WHERE bg.fp = tgp.fp)),
         |marked AS (
         |  SELECT doc_id, n_words, i, e,
         |    CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         |      OR i > MAX(e) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      THEN 1 ELSE 0 END AS ns
         |  FROM hits),
         |numbered AS (
         |  SELECT doc_id, n_words, i, e,
         |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS UNBOUNDED PRECEDING) AS span_id
         |  FROM marked),
         |spans AS (
         |  SELECT doc_id, n_words, span_id,
         |    MIN(i) AS sp_s, MAX(e) AS sp_e
         |  FROM numbered GROUP BY 1, 2, 3)
         |SELECT doc_id, n_words, COUNT(*) AS n_spans,
         |  CAST(SUM(sp_e - sp_s + 1) AS BIGINT) AS covered_words,
         |  CAST(MAX(sp_e - sp_s + 1) AS BIGINT) AS max_span,
         |  CAST(SUM(sp_e - sp_s + 1) AS DOUBLE) / n_words AS covered_frac
         |FROM spans GROUP BY doc_id, n_words
         |ORDER BY doc_id""".stripMargin
    },

    // Bloom prefiltering has no false negatives and every false
    // positive dies in the exact confirm join, so d17 shares d12's
    // exact-join oracle template — only the fixture differs.
    "d17_bloom_decontaminate" -> contaminationSql(D17_FIX),

    "d13_chunk_dedup" -> {
      val fpOf = graft.Dets.phashSql(
        "array_to_string(ws[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], '_')")
      s"""WITH corpus AS ($corpusSql),
         |chunks AS (
         |  SELECT doc_id, $fpOf AS fp
         |  FROM (SELECT doc_id, ws,
         |          unnest(list_transform(range(0, len(ws) // 10), i -> i)) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)
         |        WHERE len(ws) >= 10)),
         |dup AS (SELECT fp FROM chunks GROUP BY fp HAVING COUNT(*) > 1)
         |SELECT c.doc_id,
         |  COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST(COUNT(*) - SUM(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END)
         |       AS DOUBLE) / COUNT(*) AS kept_frac
         |FROM chunks c LEFT JOIN dup d USING (fp)
         |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin
    },

    "d18_span_dedup" ->
      s"""WITH corpus AS ($corpusSql),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |grams AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    ${graft.Dets.phashSql(
               "array_to_string(ws[CAST(i + 1 AS INT):CAST(i + 15 AS INT)], ' ')")} AS g
         |  FROM (SELECT doc_id, ws,
         |          unnest(range(0, len(ws) - 15 + 1)) AS i
         |        FROM toks WHERE len(ws) >= 15)),
         |dup AS (SELECT g FROM grams
         |        GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
         |hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
         |marked AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER w IS NULL
         |           OR pos > lag(pos) OVER w + 15 THEN 1 ELSE 0 END AS ni
         |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
         |                  ROWS UNBOUNDED PRECEDING) AS isl_id
         |  FROM marked)
         |SELECT doc_id,
         |  MIN(pos) AS span_start,
         |  MAX(pos) + 15 AS span_end,
         |  MAX(pos) + 15 - MIN(pos) AS span_tokens,
         |  COUNT(*) AS n_grams
         |FROM isl GROUP BY doc_id, isl_id
         |ORDER BY doc_id, span_start""".stripMargin,

    "d26_snapshot_dedup" ->
      s"""WITH old AS (SELECT doc_id, text FROM documents),
         |nw AS (
         |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' near duplicate suffix'
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000,
         |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
         |  FROM documents WHERE doc_id % 9 = 4),
         |${sigCtesSql("old", "o")},
         |${sigCtesSql("nw", "n")},
         |exact AS (
         |  SELECT n.doc_id, MIN(o.doc_id) AS exact_match
         |  FROM nw n JOIN old o ON md5(n.text) = md5(o.text)
         |  GROUP BY n.doc_id),
         |ob AS (SELECT doc_id AS old_id, unnest($bandKeysSql) AS band_key
         |       FROM osigs),
         |nb AS (SELECT doc_id, unnest($bandKeysSql) AS band_key
         |       FROM nsigs),
         |cand AS (
         |  SELECT DISTINCT nb.doc_id, ob.old_id
         |  FROM nb JOIN ob USING (band_key)),
         |ver AS (
         |  SELECT c.doc_id, c.old_id,
         |    len(list_filter(s1.hset, g -> list_contains(s2.hset, g)))
         |      / (len(s1.hset) + len(s2.hset)
         |         - len(list_filter(s1.hset, g -> list_contains(s2.hset, g))))
         |      AS jaccard
         |  FROM cand c JOIN nsigs s1 ON c.doc_id = s1.doc_id
         |              JOIN osigs s2 ON c.old_id = s2.doc_id),
         |best AS (
         |  SELECT doc_id, old_id AS near_match, jaccard FROM (
         |    SELECT doc_id, old_id, jaccard, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY jaccard DESC, old_id) AS rn
         |    FROM ver WHERE jaccard >= 0.5) z
         |  WHERE rn = 1)
         |SELECT n.doc_id,
         |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
         |       WHEN b.near_match IS NOT NULL THEN 'near_dup'
         |       ELSE 'novel' END AS status,
         |  CASE WHEN e.exact_match IS NOT NULL THEN e.exact_match
         |       ELSE b.near_match END AS match_id,
         |  CASE WHEN e.exact_match IS NOT NULL THEN CAST(1 AS DOUBLE)
         |       ELSE b.jaccard END AS jaccard
         |FROM nw n LEFT JOIN exact e ON n.doc_id = e.doc_id
         |          LEFT JOIN best b ON n.doc_id = b.doc_id
         |ORDER BY n.doc_id""".stripMargin,

    // d27: the oracle rebuilds the planted variants, blocks on the same
    // literal 8-token prefix, and recomputes the exact LCP with an
    // index transform (truncation to the shorter list made explicit) —
    // the Spark zip_with pads the shorter side with nulls, which the
    // null-safe equality turns into the same first-mismatch position.
    "d27_prefix_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |var AS (
        |  SELECT doc_id + 10000000 AS doc_id,
        |    list_concat(
        |      ws[1:GREATEST(8, CAST(ceil(len(ws) / 2.0) AS INT))],
        |      list_transform(range(1, 13),
        |        i -> 'zzre' || CAST(i AS VARCHAR))) AS ws
        |  FROM base WHERE doc_id % 7 = 3),
        |keyed AS (
        |  SELECT doc_id, ws, array_to_string(ws[1:8], ' ') AS pkey
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM var)),
        |reps AS (SELECT pkey, MIN(doc_id) AS rep_id FROM keyed GROUP BY 1),
        |repws AS (
        |  SELECT r.pkey, r.rep_id, k.ws AS rep_ws
        |  FROM reps r JOIN keyed k ON k.doc_id = r.rep_id AND k.pkey = r.pkey)
        |SELECT rep_id, doc_id,
        |  -- DuckDB list_position yields 0 (not NULL) on no-match, so an
        |  -- all-equal prefix must fall through via nullif, mirroring
        |  -- Spark's NULL-on-absent array_position
        |  CAST(coalesce(
        |    nullif(list_position(list_transform(
        |      range(1, least(len(ws), len(rep_ws)) + 1),
        |      i -> ws[CAST(i AS INT)] = rep_ws[CAST(i AS INT)]), false), 0) - 1,
        |    least(len(ws), len(rep_ws))) AS BIGINT) AS lcp,
        |  CAST(len(ws) AS INT) AS n_tokens
        |FROM keyed k JOIN repws w USING (pkey)
        |WHERE k.doc_id <> w.rep_id
        |  AND lcp >= GREATEST(8, CAST(ceil(len(ws) / 2.0) AS BIGINT))
        |ORDER BY rep_id, doc_id""".stripMargin,

    // d28: d06's unrolled CC labels + the t24 hash split on the label +
    // the straddling-pair audit — the oracle proves the same zero.
    "d28_cluster_split" ->
      s"""WITH $d04PairsSql,
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM d04pairs
         |  UNION ALL SELECT d2, d1 FROM d04pairs),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(CC_ROUND_BUDGET + 1)},
         |${ccGuardSql(CC_ROUND_BUDGET)},
         |assigned AS (
         |  SELECT doc_id, lbl AS grp,
         |    CASE WHEN ${graft.Dets.phashSql("'split:' || CAST(lbl AS VARCHAR)")}
         |           % 100 < 90
         |         THEN 'train' ELSE 'eval' END AS split
         |  FROM l$CC_ROUND_BUDGET, ccguard WHERE ccguard.ok = 1),
         |crossp AS (
         |  SELECT CAST(coalesce(SUM(CASE WHEN a.split <> b.split
         |             THEN 1 ELSE 0 END), 0) AS BIGINT) AS cross_split_pairs
         |  FROM d04pairs p JOIN assigned a ON p.d1 = a.doc_id
         |                  JOIN assigned b ON p.d2 = b.doc_id)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
         |  crossp.cross_split_pairs
         |FROM assigned, crossp
         |GROUP BY split, crossp.cross_split_pairs
         |ORDER BY split""".stripMargin,

    // d29: the same unrolled CC labels; weights as integer parts per
    // million (1e6 // csize) — both engines floor-divide, no float.
    "d29_soft_dedup" ->
      s"""WITH $d04PairsSql,
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM d04pairs
         |  UNION ALL SELECT d2, d1 FROM d04pairs),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
         |${ccRoundsSql(CC_ROUND_BUDGET + 1)},
         |${ccGuardSql(CC_ROUND_BUDGET)},
         |assigned AS (
         |  SELECT c.doc_id, c.source,
         |    CAST(length(c.text) AS BIGINT) AS n_chars, l.lbl AS grp
         |  FROM corpus c JOIN l$CC_ROUND_BUDGET l ON c.doc_id = l.doc_id,
         |       ccguard WHERE ccguard.ok = 1),
         |sizes AS (
         |  SELECT grp, COUNT(*) AS csize FROM assigned GROUP BY grp)
         |SELECT a.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN s.csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST(SUM(a.n_chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(1000000 // s.csize) AS BIGINT) AS eff_docs_ppm,
         |  CAST(SUM(a.n_chars * (1000000 // s.csize)) AS BIGINT)
         |    AS eff_chars_ppm
         |FROM assigned a JOIN sizes s USING (grp)
         |GROUP BY a.source
         |ORDER BY a.source""".stripMargin
  )

  /** `rounds` unrolled min-label-propagation rounds over CTEs
    * `edges(a, b)` and `l0(doc_id, lbl)`, ending in `l$rounds`.
    * Shared by the d06, d11 (CC_ROUND_BUDGET) and d16
    * (D16_ROUND_BUDGET) oracles.
    */
  // AS MATERIALIZED: each round references the previous TWICE — an
  // inlining engine would expand the chain exponentially (the 24-round
  // d16 unroll exhausted file handles re-opening the corpus parquet)
  private def ccRoundsSql(rounds: Int = CC_ROUND_BUDGET): String = {
    def round(j: Int) =
      s"""l$j AS MATERIALIZED (
         |  SELECT l.doc_id, least(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
         |  FROM l${j - 1} l
         |  LEFT JOIN edges e ON e.a = l.doc_id
         |  LEFT JOIN l${j - 1} n ON n.doc_id = e.b
         |  GROUP BY l.doc_id, l.lbl)""".stripMargin
    (1 to rounds).map(round).mkString(",\n")
  }

  /** Oracle-side convergence guard: one EXTRA propagation round past
    * the budget `b` must change nothing (F(l_b) = l_b ⟺ l_b is the
    * fixpoint — one stable step of a deterministic map IS convergence).
    * If it does, the CAST of a data-dependent string errors the whole
    * oracle query LOUDLY instead of letting an under-unrolled oracle
    * silently under-merge. Needed since round 11: the Spark loop runs
    * large-star/small-star (log-round, self-verified), so engine-side
    * convergence no longer implies the oracle's fixed unroll reached
    * ITS fixpoint — the guard restores the loud-failure pairing on the
    * oracle side. Consumers must unroll [[ccRoundsSql]](b + 1) and
    * keep `ccguard.ok = 1` in the final WHERE (DuckDB prunes an unused
    * guard column, never evaluating the CASE).
    */
  private def ccGuardSql(b: Int): String =
    s"""ccguard AS (
       |  SELECT CASE WHEN cnt = 0 THEN 1
       |    ELSE CAST(concat('cc oracle unroll not converged, label deltas: ',
       |                     CAST(cnt AS VARCHAR)) AS INT) END AS ok
       |  FROM (SELECT COUNT(*) AS cnt FROM
       |          (SELECT * FROM l${b + 1} EXCEPT SELECT * FROM l$b)))""".stripMargin

  /** Connected components by alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — the public web-scale CC algorithm), replacing round-10's
    * min-label propagation: propagation needs O(diameter) pulls, and
    * d16's Hamming-chain graphs have diameter that GROWS with corpus
    * size, while star rounds converge in O(log) independent of chain
    * length — the difference between 17 shuffle cycles and 4 on the
    * sf0.1 fixture, and between O(diameter) and O(log n) at 100 TB.
    *
    * State is one canonical parent-pointer edge frame (u > v). Per
    * cycle: large-star links every above-u neighbor to
    * min(Γ(u) ∪ {u}); small-star links u and its below-u neighbors to
    * their minimum. Both emissions stay inside one neighborhood, so
    * connectivity is exactly preserved and every frame is bounded by
    * |E| + |V| rows — no all-pairs blowup at any point.
    *
    * Convergence is GROUND-TRUTH-checked every cycle: the labels the
    * current parent pointers imply are joined back to the ORIGINAL
    * edge set and the loop stops the first cycle no edge straddles two
    * labels. Labels propagate only along edges, so label-constant
    * components are labeled by their true minimum — the returned
    * assignment is machine-VERIFIED exact, independent of round
    * counts, algorithm choice, or the paper's progress proof. This
    * also fires a full cycle EARLIER than stability detection (labels
    * are often correct before the edge frame is literally a star, and
    * stability needs one extra no-op cycle to observe itself): one
    * O(E) join per cycle buys back a whole ~4-shuffle cycle at a
    * ~log2(diameter) cycle count.
    *
    * `pairs` is the caller's (d1, d2) frame, in either orientation and
    * with duplicates allowed; the result is (doc_id, lbl) for every
    * endpoint, lbl = the minimum id of its component. Throws if not
    * converged within `maxCycles` (see [[CC_STAR_BUDGET]]) — a
    * pathological graph fails loudly rather than looping. `hubDegree`
    * is the degree above which the loop switches to the hub-split
    * formulation (see [[CC_AUTO_HUB_DEGREE]]; 0 switches whenever the
    * graph has an edge). localCheckpoint per cycle truncates the
    * otherwise geometric lineage and materializes the frame the
    * convergence check reads anyway. The returned frame is
    * checkpointed, so callers may drop upstream caches before
    * consuming it.
    */
  private[graft] def connectedComponents(pairs: DataFrame,
                                         maxCycles: Int = CC_STAR_BUDGET,
                                         hubDegree: Long = CC_AUTO_HUB_DEGREE)
      : DataFrame = {
    require(maxCycles >= 1, s"maxCycles must be >= 1, got $maxCycles")
    require(hubDegree >= 0, s"hubDegree must be >= 0, got $hubDegree")
    val spark = pairs.sparkSession
    import spark.implicits._
    // canonical parent-pointer orientation: u points at smaller v.
    // Symmetric/dup inputs collapse here (greatest/least + the v>u
    // filter in largeStar keep duplicate orientations harmless), and
    // the frame is materialized once — it is also the ground-truth
    // edge set the convergence check verifies against.
    val e0 = pairs
      .select(greatest($"d1", $"d2").as("u"), least($"d1", $"d2").as("v"))
      .filter($"u" =!= $"v")
      .localCheckpoint()
    // the node roster — every endpoint, a self-loop-only one included —
    // with its degree in e0 (self-loops add none), from ONE aggregate.
    // Every convergence check and the final label extraction re-read
    // it, so it is materialized once: its lineage is an O(E) shuffle
    // that must not replay per cycle.
    val roster = pairs
      .select(explode(array($"d1", $"d2")).as("doc_id"),
              ($"d1" =!= $"d2").as("edge"))
      .groupBy($"doc_id").agg(count(when($"edge", 1)).as("deg"))
      .localCheckpoint()
    // Both stars need exactly one thing per node: min over its
    // neighborhood. A groupBy+join formulation pays two passes over the
    // neighbor frame (one aggregated, one probed) and two-three
    // Exchanges per star; a window min over partitionBy(u) computes the
    // same value in ONE Exchange + one Sort, with the emissions
    // projected from the very rows the window just grouped — per cycle
    // the plan is exactly two shuffle stages (one per star), the floor
    // for the alternating algorithm. Measured on the round-11 host
    // (3 cold-JVM d06+d11+d16 subset runs each): d16 11.7/12.7/18.7 →
    // 5.7/7.9/8.3 s — the worst window run beats the best join run —
    // d06/d11 at par (their shallow graphs spend their time in pair
    // generation, not the CC loop). At 100 TB the trade holds: the
    // window sorts the same 2|E| rows the join formulation would
    // shuffle anyway, and the sort key is the shuffle key alone (no
    // payload blowup).
    import org.apache.spark.sql.expressions.Window
    val byU = Window.partitionBy("u")
    val byUOrdV = byU.orderBy("v")
    // Hub skew: the window min's one honest scale caveat is that a node
    // whose degree exceeds one task's sort budget pays a single-task
    // window sort. The hub-split formulation takes per-u mins from
    // groupBy(u) instead (the map-side partial agg compresses the hub
    // key to one partial per map task) and joins them back to the edge
    // rows split by hub-ness: the few nodes with degree > hubDegree —
    // at most |E|/hubDegree of them, so a tiny frame at any scale —
    // BROADCAST their (u, m) row and meet their edge rows map-only (no
    // shuffle can skew), while the rest shuffle-join with every key's
    // degree <= hubDegree by construction. (A salted join-back —
    // fanning EVERY u's min × S salts — was measured and rejected:
    // O(V·S) fan rows cost 276 s where this path and the window read
    // 26 s, planted star H=16e6.) The window plan stays the default:
    // two shuffle stages per cycle, the floor, and measured faster on
    // fixture-shaped graphs — see ARCHITECTURE bench notes for the
    // planted-star crossover. Both paths share the emission algebra,
    // the convergence check, and every CC oracle.
    //
    // Nobody should have to know their graph is skewed before running
    // CC on it. Two probes pick the path at run time, each ONE long:
    //  1. before cycle 1, the max degree, read from the roster
    //     checkpoint by one narrow job — catches a pre-existing hub
    //     (the planted-star shape) before any window sort ever runs;
    //  2. per cycle, the max TENTATIVE component size, read from the
    //     labels frame the convergence check just cached (so the probe
    //     is a narrow job over cached O(V) rows, not a recompute) — at
    //     convergence the representative's degree equals its component
    //     size, so tentative size is the early predictor of the star
    //     that EMERGES as components contract; the remaining cycles run
    //     hub-split. Detection can lag a pathological degree jump by
    //     one cycle (a cycle can square a degree), bounded by one
    //     below-threshold-squared sort; real graphs grow tentative
    //     components far faster than degrees.
    // Fixture-shaped graphs never trip either probe; once one fires the
    // switch is sticky (stars only contract toward the hub).
    var hubT = Long.MaxValue // window formulation until a probe fires
    def probe(seen: Long, what: String): Unit = if (seen > hubDegree) {
      hubT = hubDegree
      System.err.println(s"[graft.cc] hub-split ON: $what $seen > $hubDegree")
    }
    probe(roster.select($"deg").as[Long].rdd.fold(0L)(math.max),
      "input max degree")
    def hubSplitMinJoin(rows: DataFrame): DataFrame = {
      // rows: (u, v) -> (u, v, m) with m = min(v) over u's rows
      val mins = rows.groupBy($"u")
        .agg(min($"v").as("m"), count(lit(1)).as("deg"))
      val hubs = broadcast(mins.filter($"deg" > hubT).drop("deg"))
      val hubRows = rows.join(hubs, Seq("u")) // map-only; immune to skew
      val rest = rows
        .join(broadcast(hubs.select($"u")), Seq("u"), "left_anti")
        .join(mins.drop("deg"), Seq("u")) // all remaining degrees <= T
      hubRows.unionByName(rest)
    }
    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.unionByName(ed.select($"v".as("u"), $"u".as("v")))
      if (hubT != Long.MaxValue)
        // (x, m_u) for x > u with m_u = least(u, min Γ(u)) — same
        // emission as the window path, min computed hub-safe
        hubSplitMinJoin(sym)
          .filter($"v" > $"u")
          .select($"v".as("u"), least($"u", $"m").as("v"))
      else
        // (x, m_u) for every neighbor x above u, m_u = min(Γ(u) ∪ {u}):
        // x > u >= m_u, so the output is already canonically oriented
        // and never self-loops
        sym.withColumn("m", least($"u", min($"v").over(byU)))
          .filter($"v" > $"u")
          .select($"v".as("u"), $"m".as("v"))
    }
    def smallStar(ed: DataFrame): DataFrame = {
      if (hubT != Long.MaxValue) {
        // relink rows emit (v, m) for v != m; the one (u, m) row per u
        // comes straight from the mins aggregate (exactly one row per
        // u by construction — no row_number needed on this path)
        val mins = ed.groupBy($"u").agg(min($"v").as("m"))
        hubSplitMinJoin(ed)
          .filter($"v" =!= $"m")
          .select($"v".as("u"), $"m".as("v"))
          .unionByName(mins.select($"u", $"m".as("v")))
      } else
        // every below-u parent re-links to u's minimum parent, and u
        // keeps that minimum — again canonical by construction. Both
        // emissions come out of one generator over the windowed rows
        // (a filter∪filter over the same subtree would recompute the
        // window or re-read its exchange); rn=1 picks exactly one
        // (u, m) row per u even when the edge frame carries duplicates.
        ed.withColumn("m", min($"v").over(byU))
          .withColumn("rn", row_number().over(byUOrdV))
          .select(explode(array_compact(array(
            when($"v" =!= $"m", struct($"v".as("u"), $"m".as("v"))),
            when($"rn" === 1, struct($"u".as("u"), $"m".as("v")))))).as("e"))
          .select($"e.u", $"e.v")
    }
    // tentative per-node labels implied by a parent-pointer frame
    def labelsOf(ed: DataFrame): DataFrame = roster
      .join(ed.groupBy($"u").agg(min($"v").as("p")),
            $"doc_id" === $"u", "left")
      .select($"doc_id", least($"doc_id", coalesce($"p", $"doc_id")).as("lbl"))
    def groundTruthConverged(l: DataFrame): Boolean =
      e0.join(l.select($"doc_id".as("u"), $"lbl".as("lu")), Seq("u"))
        .join(l.select($"doc_id".as("v"), $"lbl".as("lv")), Seq("v"))
        .filter($"lu" =!= $"lv").isEmpty
    var ed = e0
    var cycle = 0
    var converged = false
    var labels: DataFrame = null
    // per-cycle job budget is the fixture-scale cost driver (the
    // frames are small; scheduling is not): one checkpoint job for the
    // cycle's edge frame, then ONE check job in which the labels
    // subtree is cache()-ed — the first endpoint join computes and
    // populates it, the second reads the cache — so the O(V) labels
    // never pay their own materialization job. An already-converged
    // input (incl. the edge-free graph) is detected on cycle 1, whose
    // stars are no-ops.
    while (!converged && cycle < maxCycles) {
      // (A lazy checkpoint — folding this job into the check job via
      // eager=false — was measured and rejected: same-boot 3-run A/B on
      // the d06+d11+d16 subset read 8.2/9.1/8.8 vs eager 7.6/8.9/9.0 —
      // indistinguishable; the eager job over these O(E)-bounded frames
      // is not where the cycles go.)
      ed = smallStar(largeStar(ed)).localCheckpoint()
      val l = labelsOf(ed).cache()
      converged = groundTruthConverged(l)
      // probe 2: the cache the check just populated makes this a narrow
      // O(V) job (an unconverged l has rows, so the max is never null)
      if (!converged && hubT == Long.MaxValue)
        probe(l.groupBy($"lbl").count().agg(max($"count")).as[Long].first(),
          s"max tentative component at cycle ${cycle + 1}")
      if (converged) labels = l else l.unpersist(blocking = false)
      cycle += 1
    }
    require(converged,
      s"large-star/small-star did not converge within $maxCycles cycles " +
        "- pathological input graph (raise CC_STAR_BUDGET only with cause)")
    // lineage is two checkpointed frames (roster + final ed); the
    // cache pins the computed result until the caller consumes it
    labels
  }

  /** SimHash candidate pairs from 4 disjoint bw-bit bands of a wide
    * fingerprint (`fp` carries columns fps, bw AND bpw — see
    * [[simhashFps]]): explode (band_id, band_value) keys, equi-join,
    * distinct. Band k reads bits [(k mod bpw)·bw, (k mod bpw + 1)·bw) of
    * word k div bpw — within one word, so the layout works at any width.
    * Any two fingerprints within Hamming distance 3 over the
    * concatenation share at least one of the 4 disjoint bands (pigeonhole
    * — uncovered bits only add candidates), so the candidate set provably
    * contains every verifiable pair — OperatorSpec pins this recall
    * guarantee on adversarial bit patterns at bw=15 and at a widened
    * bw=30. The width must grow with log n; fixed byte-wide bands
    * measured quadratic at 16x.
    */
  private[graft] def simhashCandidates(fp: DataFrame): DataFrame = {
    val bands = simhashBands(fp)
    bands.as("x").join(bands.as("y"),
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** d03's fused candidate+verify pipeline (unsorted, pre-distinct):
    * wide fingerprints, band join with the Hamming filter INSIDE the
    * join stage. Shared by d03 (adds distinct + sort) and d16 (feeds
    * the pairs to connected components).
    */
  private def d03Pairs(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d)
    val bwRow = base.agg(count(lit(1)).as("n"))
      .select(expr(bwExpr("n")).as("bw"))
    // materialized once: the x/y sides of the band self-join do NOT
    // reuse each other's exchange at runtime (0 ReusedExchange in the
    // executed plan), so the fused fingerprint kernel ran twice
    val bands = simhashBands(simhashFps(base, bwRow)).localCheckpoint()
    bands.as("x").join(bands.as("y"),
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming", expr(
        "CAST(aggregate(zip_with(x.fps, y.fps, (a, b) -> bit_count(a ^ b)), " +
          "0, (acc, v) -> acc + v) AS INT)"))
      .filter(col("hamming") <= 3)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
              element_at(col("x.fps"), 1).as("simhash1"), col("hamming"))
  }

  /** (doc_id, fps, band_key) — one row per band, fingerprint carried so
    * consumers can verify INSIDE the band-join stage (see d03).
    */
  private[graft] def simhashBands(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("fps"), explode(expr(
      "transform(sequence(0, 3), k -> concat_ws('_', k, " +
        "shiftright(element_at(fps, CAST(k div bpw AS INT) + 1), " +
        "CAST((k % bpw) * bw AS INT)) " +
        "& (shiftleft(CAST(1 AS BIGINT), bw) - 1)))"))
      .as("band_key"))

  /** d04's candidate+verify pipeline (unsorted): character-4-gram Jaccard
    * with blocked pair generation. Gram sets are pre-hashed to sorted long
    * arrays by the fused GramPHashes pass (the declarative transform()
    * chain evaluates its lambdas interpreted, ~10x the md5 itself), so the
    * per-pair intersection is a codegen'd linear merge
    * (SortedIntersectCount) — the pair-verify loop is the quadratic hot
    * path. 60-bit gram hashes: collision odds ~2^-43 per doc pair, far
    * below fp noise; the string-based oracle stays exact. Shared by d04
    * (which adds the output sort) and d06 (which must NOT pay for it).
    */
  /** d07's candidate+verify pipeline (unsorted): (lang, source,
    * length-bucket) blocking + thresholded banded Levenshtein over the
    * FULL text, pre-pruned by the length delta (|len(x) - len(y)| > k
    * already implies distance > k, so those pairs never reach the DP).
    * The banded `levenshtein(l, r, k)` keeps per-pair cost O(k·n) with
    * early exit — the verify is the quadratic pair hot path, so per-pair
    * constants ARE the scale budget; a 40-char-prefix verify (the earlier
    * form) under-reports distance on documents that share a prefix but
    * diverge after it. Shared by d07 (adds the output sort) and d11
    * (feeds the pairs to connected components instead).
    */
  private def d07Pairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.BandedLevenshtein.banded_levenshtein
    val docs = corpus(s, d)
      .withColumn("n_chars", length($"text").cast("long"))
      .withColumn("lenb", ($"n_chars" / 64L).cast("long"))
      .select($"doc_id", $"lang", $"source", $"lenb", $"n_chars", $"text")
    docs.as("x").join(docs.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
        col("x.lenb") === col("y.lenb") && col("x.doc_id") < col("y.doc_id") &&
        abs(col("x.n_chars") - col("y.n_chars")) <= 5)
      // custom banded DP, not the builtin levenshtein(l, r, 5): Spark's
      // threshold form pays O(position) charAt per DP cell, ~400µs on the
      // SIMILAR pairs that are the operator's own output (far pairs
      // early-exit cheaply) — same contract, measured ~130x on hits
      .withColumn("editdist", banded_levenshtein(col("x.text"), col("y.text"), 5))
      .filter($"editdist" >= 0) // -1 = distance above the threshold
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"), $"editdist")
  }

  /** d07's pipeline as a CTE chain ending in `d07pairs(d1, d2)` (also
    * defines `corpus`) — the d11 oracle's edge source.
    */
  private def d07PairsSql: String =
    s"""corpus AS ($corpusSql),
       |d07docs AS (
       |  SELECT doc_id, lang, source,
       |    CAST(length(text) // 64 AS BIGINT) AS lenb,
       |    length(text) AS n_chars, text
       |  FROM corpus),
       |d07pairs AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2
       |  FROM d07docs x JOIN d07docs y
       |    ON x.lang = y.lang AND x.source = y.source AND x.lenb = y.lenb
       |    AND x.doc_id < y.doc_id AND abs(x.n_chars - y.n_chars) <= 5
       |  WHERE levenshtein(x.text, y.text) <= 5)""".stripMargin

  private def d04Pairs(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GramPHashes.gram_phashes
    import graft.functions.SortedIntersectCount.sorted_intersect_count
    graft.GraftExtensions.register(s)
    val grams = corpus(s, d)
      .withColumn("n_chars", length(col("text")))
      .filter(col("n_chars") >= 4)
      .withColumn("grams", gram_phashes(col("text"), 4))
      .select(col("doc_id"), col("lang"), col("source"),
              (col("n_chars").cast("long") / 64L).cast("long").as("lenb"),
              col("grams"))
      // eager, not .cache(): the self-join's two branches race a lazy
      // cache inside one job and each computed the gram kernel
      .localCheckpoint()
    grams.as("x").join(grams.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
        col("x.lenb") === col("y.lenb") && col("x.doc_id") < col("y.doc_id"))
      .withColumn("inter",
        sorted_intersect_count(col("x.grams"), col("y.grams")))
      .withColumn("jaccard",
        expr("inter / (size(x.grams) + size(y.grams) - inter)"))
      .filter(col("jaccard") >= 0.85)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"), col("jaccard"))
  }

  /** d03's pipeline as a reusable CTE chain ending in
    * `d03pairs(d1, d2, simhash1, hamming)` (also defines `corpus`) —
    * the wide-fingerprint mirror of [[simhashFps]]: word 0 = md5 hex
    * 1-15, word 1 = hex 17-31 of the SAME digest, words 2/3 = the
    * halves of md5('s2:' || w); word count and band layout derive from
    * the same bw/bpw arithmetic. CASE keeps the unused words NULL (and
    * [[majoritySql]] propagates that NULL rather than voting an
    * all-zero word) so the sf0.01 oracle (1 word) doesn't pay for four.
    * Shared by the d03 and d16 oracles.
    */
  private def d03PairsSql: String =
    s"""corpus AS ($corpusSql),
       |p AS (
       |  SELECT bw, CAST(60 // bw AS INT) AS bpw,
       |    CASE WHEN 60 // bw >= 4 THEN 1
       |         WHEN 60 // bw >= 2 THEN 2 ELSE 4 END AS nw
       |  FROM (SELECT ${bwExpr("COUNT(*)")} AS bw FROM corpus)),
       |hashed AS (
       |  SELECT doc_id,
       |    list_transform(string_split(text, ' '),
       |      w -> CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)) AS ms0,
       |    CASE WHEN p.nw >= 2 THEN list_transform(string_split(text, ' '),
       |      w -> CAST('0x' || substring(md5(w), 17, 15) AS BIGINT)) END AS ms1,
       |    CASE WHEN p.nw >= 4 THEN list_transform(string_split(text, ' '),
       |      w -> CAST('0x' || substring(md5('s2:' || w), 1, 15) AS BIGINT)) END AS ms2,
       |    CASE WHEN p.nw >= 4 THEN list_transform(string_split(text, ' '),
       |      w -> CAST('0x' || substring(md5('s2:' || w), 17, 15) AS BIGINT)) END AS ms3
       |  FROM corpus, p),
       |fp AS (
       |  SELECT doc_id,
       |    [fpw FOR fpw IN [${majoritySql("ms0")}, ${majoritySql("ms1")},
       |      ${majoritySql("ms2")}, ${majoritySql("ms3")}]
       |     IF fpw IS NOT NULL] AS fps
       |  FROM hashed),
       |bands AS (
       |  SELECT doc_id, unnest(list_transform(range(0, 4),
       |    k -> concat_ws('_', k,
       |      (fps[CAST(k // bpw AS INT) + 1] >> CAST((k % bpw) * bw AS INT))
       |      & ((CAST(1 AS BIGINT) << bw) - 1)))) AS band_key
       |  FROM fp, p),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y
       |    ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |d03pairs AS (
       |  SELECT d1, d2, f1.fps[1] AS simhash1,
       |    CAST(list_sum(list_transform(range(1, len(f1.fps) + 1),
       |      i -> bit_count(xor(f1.fps[CAST(i AS INT)], f2.fps[CAST(i AS INT)]))))
       |      AS INT) AS hamming
       |  FROM cand JOIN fp f1 ON f1.doc_id = d1 JOIN fp f2 ON f2.doc_id = d2
       |  WHERE list_sum(list_transform(range(1, len(f1.fps) + 1),
       |      i -> bit_count(xor(f1.fps[CAST(i AS INT)], f2.fps[CAST(i AS INT)])))) <= 3)"""
      .stripMargin

  /** d04's candidate+verify pipeline as a reusable CTE chain ending in
    * `d04pairs(d1, d2, jaccard)` (also defines `corpus`).
    */
  private def d04PairsSql: String =
    s"""corpus AS ($corpusSql),
       |grams AS (
       |  SELECT doc_id, lang, source,
       |    CAST(length(text) // 64 AS BIGINT) AS lenb,
       |    list_distinct(list_transform(range(1, length(text) - 2),
       |      i -> substring(text, i, 4))) AS grams
       |  FROM corpus WHERE length(text) >= 4),
       |d04pairs AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2,
       |    len(list_filter(x.grams, g -> list_contains(y.grams, g)))
       |      / (len(x.grams) + len(y.grams)
       |         - len(list_filter(x.grams, g -> list_contains(y.grams, g)))) AS jaccard
       |  FROM grams x JOIN grams y
       |    ON x.lang = y.lang AND x.source = y.source AND x.lenb = y.lenb
       |    AND x.doc_id < y.doc_id
       |  WHERE len(list_filter(x.grams, g -> list_contains(y.grams, g)))
       |      / (len(x.grams) + len(y.grams)
       |         - len(list_filter(x.grams, g -> list_contains(y.grams, g)))) >= 0.85)"""
      .stripMargin
}
