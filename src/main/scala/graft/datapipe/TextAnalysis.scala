package graft.datapipe

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (lexicon-overlap heuristic), quality scoring, token counting, and
  * document fingerprinting. All single-scan, shuffle-free per-row
  * transforms (the 100 TB-friendly shape: map-only, codegen'd, no UDFs)
  * except the fingerprint clustering window.
  */
object TextAnalysis {
  /** Tiny per-language lexicons (n-gram/stopword profiles in a real
    * system). Alphabetical order doubles as the argmax tie-break.
    */
  private val LEX: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "scan", "merge", "column"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "row", "value", "vector"),
    "fr" -> Seq("join", "sort", "key", "filter"),
    "zh" -> Seq("spark", "batch", "stream", "window"))

  private def lexArr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** t01's DuckDB mirror — factored so t43's confusion matrix wraps the
    * IDENTICAL classifier definition as a CTE.
    */
  private def t01Sql: String = {
    val scoreCols = LEX.map { case (lang, ws) =>
      s"len(list_filter(string_split(text, ' '), w -> list_contains([${lexArr(ws)}], w))) AS score_$lang"
    }.mkString(",\n  ")
    val m = "greatest(" + LEX.map { case (l, _) => s"score_$l" }.mkString(", ") + ")"
    val predicted = "CASE " + LEX.map { case (l, _) =>
      s"WHEN score_$l = $m THEN '$l'"
    }.mkString(" ") + " ELSE '??' END"
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |  $scoreCols
       |  FROM documents)
       |SELECT doc_id, lang, $predicted AS predicted,
       |  ($predicted) = lang AS agrees,
       |  CAST(score_de AS INT) AS score_de, CAST(score_en AS INT) AS score_en,
       |  CAST(score_es AS INT) AS score_es, CAST(score_fr AS INT) AS score_fr,
       |  CAST(score_zh AS INT) AS score_zh
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** d09's corpus: documents plus planted SHARED-SUBSTRING docs — each
    * copies only the first 60 chars of its source and pads with 40 unique
    * filler tokens, so the pair's global overlap is LOW (word-shingle and
    * char-gram Jaccard both far under d02/d04's thresholds — pinned in
    * OperatorSpec) while the shared 60-byte span guarantees shared winnow
    * fingerprints (any common substring >= k + w - 1 = 39 bytes does).
    */
  private[graft] def d09Corpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = T.documents(s, d).select($"doc_id", $"text")
    docs.unionByName(docs.filter($"doc_id" % 13 === 0)
      .select(($"doc_id" + 3000000L).as("doc_id"),
        expr("concat(substring(text, 1, 60), ' ', concat_ws(' ', " +
          "transform(sequence(1, 40), i -> " +
          "concat('filler', CAST(doc_id AS STRING), 'x', CAST(i AS STRING)))))")
          .as("text")))
  }

  private val d09CorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 3000000, substring(text, 1, 60) || ' ' ||
      |  array_to_string(list_transform(range(1, 41),
      |    i -> 'filler' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ')
      |FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** Corpus-adaptive stop-fingerprint cap for d09:
    * greatest(8, floor(log2 n) + 1). A boilerplate fingerprint's document
    * frequency grows linearly with the corpus, so any FIXED cap either
    * drops informative fps on small corpora or admits quadratic hot keys
    * on large ones; a log-n cap keeps per-key join fanout at
    * C(cap, 2) = O(log² n) while genuinely-rare fps always survive.
    * Derived IN-PLAN from one COUNT broadcast to the df filter — no
    * driver scalar (the d03 bwExpr pattern, Dedup.scala). floor(log2) on
    * integers is engine-exact (Dedup.bwExpr's argument), and
    * greatest(n, 1) keeps the empty corpus defined on both engines.
    */
  private[graft] def d09CapExpr(n: String) =
    s"greatest(8, CAST(floor(log2(CAST(greatest($n, 1) AS DOUBLE))) AS INT) + 1)"

  /** d09's candidate pipeline over an arbitrary (doc_id, text) frame:
    * explode winnow fingerprints (k=32, w=8), drop stop fps (df above
    * `capRow`'s single `cap` column — boilerplate spans are hot join keys
    * that carry no pair information), equi-join on fp, count shared fps
    * per pair. The shuffle carries only (fp, doc_id) longs — never text.
    * `capRow` is [[d09CapExpr]] over the corpus count.
    */
  private[graft] def winnowPairs(docs: DataFrame): DataFrame = {
    import graft.functions.WinnowFingerprints.winnow_fps
    val capRow =
      docs.agg(count(lit(1)).as("n")).select(expr(d09CapExpr("n")).as("cap"))
    // materialized once: fps feeds BOTH the df aggregate (rare) and the
    // semi-join (kept), and without a barrier the winnow kernel ran
    // twice per execution (the r20 checkpoint sat one step too late, on
    // `kept`, where the emitter's single consumer no longer needs one).
    // The frame is (doc_id, fp) longs — narrow, never text.
    val fps = docs
      .filter(length(col("text")) >= 39) // need >= k + w - 1 bytes
      .select(col("doc_id"), explode(winnow_fps(col("text"), 32, 8)).as("fp"))
      .localCheckpoint()
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(capRow))
      .filter(col("df") <= col("cap")).select(col("fp"))
    // pair generation via the sorted-group emitter (one shuffle of the
    // kept (doc_id, fp) frame + in-group C(n,2) emission) instead of
    // the fp-equi self-join that shuffled it twice — winnow fps are
    // distinct per doc, the df cap bounds every group, so the pair
    // multiset is identical (see Dedup.sharedKeyPairCounts).
    val kept = fps.join(rare, Seq("fp"))
    Dedup.sharedKeyPairCounts(kept, "doc_id", "fp", "d1", "d2")
      .select(col("d1"), col("d2"), col("inter").as("n_shared"))
  }

  /** DuckDB CTE chain computing winnow fingerprint sets
    * `${p}m(doc_id, fps)` (k-byte grams, 8-wide windows) from docs
    * CTE/table `src` — the polynomial gram hash recomputed from scratch
    * per gram (the rolling recurrence is algebraically identical mod M).
    * Shared by the t10 (k=8) and d09 (k=32) oracles.
    */
  private def winnowCtesSql(src: String, p: String, k: Int): String = {
    val M = graft.functions.WinnowFingerprints.M
    val terms = (0 until k).map { j =>
      val pw = BigInt(graft.functions.WinnowFingerprints.B).pow(k - 1 - j)
        .mod(BigInt(M))
      s"CAST(ascii(substring(text, CAST(i + $j AS INT), 1)) AS BIGINT) * $pw"
    }.mkString(" +\n         ")
    s"""${p}g AS (
       |  SELECT doc_id,
       |    list_transform(range(1, length(text) - ${k - 2}), i ->
       |      ($terms) % $M) AS grams
       |  FROM $src WHERE length(text) >= ${k + 7}),
       |${p}m AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(list_transform(range(1, len(grams) - 6),
       |      i -> list_min(grams[CAST(i AS INT):CAST(i + 7 AS INT)])))) AS fps
       |  FROM ${p}g)""".stripMargin
  }

  /** t09's cleaning chain over any (doc_id, text, lang) frame — batch OR
    * streaming: every per-doc column is a map-only expression, and the
    * only stateful step is the tiny per-lang report aggregate (streams
    * in complete/update mode). The t09 query and StreamingSpec's
    * batch-equivalence pin both run exactly this function.
    */
  private[graft] def cleanPipeline(docs: DataFrame): DataFrame = docs
    // same fused one-pass WordStats as t02/t20/t22 (identical double
    // arithmetic → identical scores; map-only, so it streams unchanged)
    .withColumn("ws", graft.functions.WordStats.word_stats(col("text")))
    .withColumn("n_words", graft.functions.WordStats.nWords(col("ws")))
    .filter(col("n_words") >= 1)
    .withColumn("ttr",
      graft.functions.WordStats.nDistinct(col("ws")) / col("n_words"))
    .withColumn("stop_ratio",
      graft.functions.WordStats.nStop(col("ws")) / col("n_words"))
    .withColumn("len_sat", least(col("n_words") / 100.0, lit(1.0)))
    .withColumn("quality",
      col("ttr") * 0.4 + (lit(1.0) - col("stop_ratio")) * 0.3 +
        col("len_sat") * 0.3)
    .withColumn("q_ok", col("quality") >= 0.5)
    .withColumn("len_ok", col("n_words").between(5, 2000))
    .withColumn("sampled",
      graft.Dets.phash(concat(lit("sample:"), col("doc_id").cast("string")))
        % 100 < 30)
    .groupBy(col("lang"))
    .agg(count(lit(1)).as("n_docs"),
      sum(when(!col("q_ok"), 1L).otherwise(0L)).as("n_q_fail"),
      sum(when(!col("len_ok"), 1L).otherwise(0L)).as("n_len_fail"),
      sum(when(col("q_ok") && col("len_ok") && col("sampled"), 1L)
        .otherwise(0L)).as("n_kept"))

  /** Weighted adjacent-symbol-pair counts over a (seq, freq) frame — the
    * BPE training statistic. seq is the space-joined symbol sequence.
    */
  private def bpePairCounts(wf: DataFrame): DataFrame = wf
    .withColumn("syms", split(col("seq"), " "))
    .filter(size(col("syms")) >= 2)
    .select(col("freq"), explode(expr(
      "transform(sequence(1, size(syms) - 1), i -> " +
      "concat(element_at(syms, i), ' ', element_at(syms, i + 1)))")).as("pair"))
    .groupBy(col("pair")).agg(sum(col("freq")).as("n"))

  /** Apply one greedy left-to-right merge of the 1-row `top` (pair, n)
    * frame to every sequence. Non-overlapping occurrences merge; for an
    * equal-symbol pair inside a run (aaa + merge 'a a') greedy takes
    * positions of EVEN offset from the run start — expressed as "count
    * of consecutive equal symbols ending at i is odd", an O(len²)
    * index transform that both engines evaluate identically (sequences
    * are words, len ≤ ~12). No regex, no stateful fold (DuckDB's
    * list_reduce evaluates struct fields sequentially — see t11).
    */
  private def bpeApplyMerge(wf: DataFrame, top: DataFrame): DataFrame = wf
    .crossJoin(broadcast(top))
    .withColumn("pa", expr("element_at(split(pair, ' '), 1)"))
    .withColumn("pb", expr("element_at(split(pair, ' '), 2)"))
    .withColumn("syms", split(col("seq"), " "))
    // boundary indexes are clamped (least/greatest): the adjacent
    // conjunct already excludes them, but ANSI mode evaluates eagerly
    .withColumn("m", expr(
      """transform(sequence(1, size(syms)), i ->
        |  i < size(syms)
        |  AND element_at(syms, i) = pa
        |  AND element_at(syms, least(i + 1, size(syms))) = pb
        |  AND (pa <> pb OR
        |       ((i - coalesce(array_max(filter(sequence(1, i),
        |           j -> element_at(syms, j) <> pa)), 0)) % 2 = 1))""".stripMargin
        + ")"))
    .withColumn("seq", expr(
      """concat_ws(' ', filter(transform(sequence(1, size(syms)), i ->
        |  CASE WHEN element_at(m, i) THEN concat(pa, pb)
        |       WHEN i > 1 AND element_at(m, greatest(i - 1, 1))
        |         THEN CAST(NULL AS STRING)
        |       ELSE element_at(syms, i) END), x -> x IS NOT NULL))""".stripMargin))
    .select(col("w"), col("freq"), col("seq"))

  /** The BPE training loop, round count parameterized: count
    * corpus-weighted adjacent symbol pairs over the (distinct word,
    * frequency) view, merge the argmax pair everywhere, recount.
    *
    * `eager = false` (the oracle-checked t15 path, 2 rounds) keeps ONE
    * lazy DAG — no driver scalar, exact parity with the unrolled SQL.
    * Past a handful of rounds that DAG grows superlinearly: round r's
    * argmax re-derives rounds 1..r-1, and analysis time follows the
    * lineage. `eager = true` is the production-trainer mode: each
    * round's 1-row argmax and each `checkpointEvery`-th merged word
    * table localCheckpoint() — lineage stays O(checkpointEvery) deep,
    * so rounds scale linearly (spec'd at rounds = 8).
    */
  /** The (distinct word, corpus frequency, symbol sequence) view both
    * the trainer and the encoder iterate over — thousands of times
    * smaller than the corpus.
    */
  private[graft] def bpeInitWordFreq(docs: DataFrame): DataFrame = docs
    .select(explode(split(col("text"), " ")).as("w"))
    .filter(col("w") =!= "")
    .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    .withColumn("seq", expr("concat_ws(' ', " +
      "transform(sequence(1, length(w)), i -> substring(w, i, 1)))"))

  /** The word table after `rounds` greedy merges — the trained
    * tokenizer's view of the vocabulary, for ENCODING (t18). Same
    * lineage controls as [[bpeTrain]]: `eager = false` keeps one lazy
    * DAG (the oracle-parity mode, fine for a handful of rounds);
    * `eager = true` localCheckpoints the argmax and every
    * `checkpointEvery`-th merged table so deep-round replays stay
    * O(checkpointEvery) in lineage depth, exactly like the trainer.
    */
  private[graft] def bpeMergedWords(docs: DataFrame, rounds: Int,
                                    eager: Boolean = false,
                                    checkpointEvery: Int = 4): DataFrame = {
    var wf = bpeInitWordFreq(docs)
    (1 to rounds).foreach { r =>
      var top = bpePairCounts(wf).orderBy(col("n").desc, col("pair")).limit(1)
      if (eager) top = top.localCheckpoint()
      wf = bpeApplyMerge(wf, top)
      if (eager && r % checkpointEvery == 0) wf = wf.localCheckpoint()
    }
    wf
  }

  private[graft] def bpeTrain(docs: DataFrame, rounds: Int,
                              eager: Boolean = false,
                              checkpointEvery: Int = 4): DataFrame = {
    var wf = bpeInitWordFreq(docs)
    val out = (1 to rounds).map { r =>
      var top = bpePairCounts(wf)
        .orderBy(col("n").desc, col("pair")).limit(1)
      if (eager) top = top.localCheckpoint() // 1 row — argmax computed once
      wf = bpeApplyMerge(wf, top)
      if (eager && r % checkpointEvery == 0)
        wf = wf.localCheckpoint() // truncate the per-round merge lineage
      // post-merge corpus stats: each merge of corpus count n removes
      // exactly n tokens (pinned in OperatorSpec)
      val stats = wf
        .select(col("freq"), explode(split(col("seq"), " ")).as("sym"))
        .agg(countDistinct(col("sym")).as("vocab"),
             sum(col("freq")).as("total_tokens"))
      top.select(lit(r).as("round"), col("pair"), col("n"))
        .crossJoin(broadcast(stats))
    }
    out.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** The trained-tokenizer ARTIFACT the whole BPE family reads — the
    * d38 lesson (later stages reuse an earlier stage's work) applied
    * ACROSS the family (round-15 advice #2): production trains a
    * tokenizer ONCE and ships it; encode/health jobs read the artifact,
    * they never re-run the trainer. One eager training pass to the
    * spec'd depth (8 rounds, argmax checkpointed per round — the exact
    * [[bpeTrain]] production mode) persists, under the session
    * warehouse keyed by a source fingerprint (the q83/q84 layout
    * discipline — `_GRAFT_FINGERPRINT` invalidates on fixture
    * regeneration, marker written LAST so a crashed build rebuilds):
    *   - `merges`:      (round, pair, n, vocab, total_tokens), rounds 1–8
    *   - `words/round=r` for r ∈ {2, 4, 8}: the (w, freq, seq) word
    *     table after r merges — the vocab the encoders broadcast.
    * Training is deterministic (argmax ties break on the pair string),
    * so the artifact is byte-stable and every reader's oracle hash is
    * unchanged vs re-deriving — OperatorSpec pins artifact == direct
    * recompute at every published depth. */
  private[graft] val BpeArtifactDepth = 8
  private[graft] val BpeSnapshotRounds = Set(2, 4, 8)
  private[graft] def bpeArtifact(s: SparkSession, d: String): String =
    graft.operators.Extras.memoizedArtifact(
        s, "graft_bpe", d, Seq("documents.parquet")) { dir =>
      var wf = bpeInitWordFreq(T.documents(s, d))
      val roundRows = (1 to BpeArtifactDepth).map { r =>
        val top = bpePairCounts(wf)
          .orderBy(col("n").desc, col("pair")).limit(1).localCheckpoint()
        wf = bpeApplyMerge(wf, top)
        // snapshot BEFORE the next round mutates wf; checkpoint at
        // the snapshot rounds too — the write already materialized it
        if (BpeSnapshotRounds.contains(r)) {
          wf.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$dir/words/round=$r")
          wf = s.read.parquet(s"$dir/words/round=$r")
        }
        val stats = wf
          .select(col("freq"), explode(split(col("seq"), " ")).as("sym"))
          .agg(countDistinct(col("sym")).as("vocab"),
               sum(col("freq")).as("total_tokens"))
        top.select(lit(r).as("round"), col("pair"), col("n"))
          .crossJoin(broadcast(stats))
      }
      roundRows.reduce(_ unionByName _)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dir/merges")
    }

  /** The artifact's trained merge table, truncated to `rounds` — what
    * t15/t15b/t15c serve (the oracle re-derives the same rows from raw
    * text; determinism makes them hash-equal). */
  private def bpeMergesFromArtifact(s: SparkSession, d: String,
                                    rounds: Int): DataFrame =
    s.read.parquet(s"${bpeArtifact(s, d)}/merges")
      .filter(col("round") <= rounds)
      .select(col("round"), col("pair"), col("n"), col("vocab"),
        col("total_tokens"))
      .orderBy(col("round"))

  /** The artifact's word table after `rounds` merges, reduced to the
    * (w → token count) vocabulary the encoders broadcast. */
  private def bpeVocabFromArtifact(s: SparkSession, d: String,
                                   rounds: Int): DataFrame = {
    require(BpeSnapshotRounds.contains(rounds),
      s"no word-table snapshot at depth $rounds")
    s.read.parquet(s"${bpeArtifact(s, d)}/words/round=$rounds")
      .select(col("w"),
        size(split(col("seq"), " ")).cast("long").as("w_toks"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BPE merge training, served from the trained-tokenizer ARTIFACT
    // ([[bpeArtifact]] — the whole family's shared stage, round-15
    // advice #2): the first family query in a JVM/fixture pays ONE
    // eager training pass to depth 8; every t15/t18/t31 entry reads
    // the persisted merges/word tables, the production amortization
    // (a tokenizer trains once and ships; pipeline jobs read it).
    // Training is deterministic (argmax ties break on the pair
    // string), so the served rows hash-equal a from-scratch re-derive
    // — the DuckDB oracle IS that re-derive, and OperatorSpec pins
    // artifact == direct recompute (lazy and eager) at every depth.
    "t15_bpe_train" -> { (s, d) => bpeMergesFromArtifact(s, d, rounds = 2) },

    // Depth-4 view of the same artifact (historically the eager-mode
    // oracle pin; the eager trainer is exactly what builds the
    // artifact, so the machinery stays under the DuckDB gate here).
    "t15b_bpe_train_r4" -> { (s, d) =>
      bpeMergesFromArtifact(s, d, rounds = 4)
    },

    // The FULL spec'd production depth (8 rounds) under the DuckDB
    // gate — the oracle unrolls all 8 rounds from raw text via the
    // same parameterized [[bpeTrainOracleSql]] builder, so every
    // artifact row is re-derived and hash-checked round-for-round.
    "t15c_bpe_train_r8" -> { (s, d) =>
      bpeMergesFromArtifact(s, d, rounds = 8)
    },

    // BPE ENCODING — t15's complement: apply the trained merge table to
    // the corpus, per-doc token accounting under the learned tokenizer.
    // Encoding rides the same distinct-word compression as training:
    // merges replay ONCE per distinct word, then the (word → token
    // count) vocabulary — small at any corpus scale relative to the
    // corpus itself — broadcasts against the exploded corpus, so the
    // 100 TB side shuffles nothing and never carries symbol sequences.
    // (Past broadcast size the same join runs as a shuffle join on the
    // word key; the plan shape is otherwise unchanged.)
    "t18_bpe_encode" -> { (s, d) =>
      import s.implicits._
      val docs = T.documents(s, d)
      val vocab = bpeVocabFromArtifact(s, d, rounds = 2)
      docs.select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
        .join(broadcast(vocab), Seq("w"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"), sum($"w_toks").as("n_tokens"))
        .withColumn("tokens_per_word",
          $"n_tokens".cast("double") / $"n_words")
        .orderBy($"doc_id")
    },
    // t18's deeper twin, mirroring t15/t15b: the EAGER merge-replay
    // path (per-round argmax localCheckpoint — the production mode the
    // rounds=8 spec exercises) under the DuckDB gate at 4 unrolled
    // rounds, so the encode side's oracle depth matches the training
    // side's and the checkpoint machinery itself is oracle-checked.
    "t18b_bpe_encode_r4" -> { (s, d) =>
      import s.implicits._
      val docs = T.documents(s, d)
      val vocab = bpeVocabFromArtifact(s, d, rounds = 4)
      docs.select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
        .join(broadcast(vocab), Seq("w"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"), sum($"w_toks").as("n_tokens"))
        .withColumn("tokens_per_word",
          $"n_tokens".cast("double") / $"n_words")
        .orderBy($"doc_id")
    },
    // TOKENIZER-HEALTH REPORT — the per-source dashboard a tokenizer
    // owner reads after training (t15) and deploying (t18) the BPE:
    // fertility (tokens/word — the number that prices every training
    // run), compression (chars/token), and the fraction of word
    // occurrences the merge table did not compress AT ALL (w_toks =
    // char count — the "tokenizer doesn't fit this domain" alarm; the
    // source whose unmerged fraction sticks out is the one the
    // training corpus under-represents). Same distinct-word replay +
    // broadcast-vocab shape as t18: merges replay once per DISTINCT
    // word, the corpus side is one map-only pass shuffling only
    // (source, 4 longs) partials. Determinism: four integer sums, one
    // division each — no float accumulates.
    "t31_tokenizer_health" -> { (s, d) =>
      import s.implicits._
      val docs = T.documents(s, d)
      val vocab = bpeVocabFromArtifact(s, d, rounds = 2)
      docs.select($"source", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
        .join(broadcast(vocab), Seq("w"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_words"),
             sum($"w_toks").as("n_tokens"),
             sum(length($"w").cast("long")).as("n_chars"),
             sum(when($"w_toks" === length($"w").cast("long"), 1L)
               .otherwise(0L)).as("n_unmerged"))
        .select($"source", $"n_words", $"n_tokens", $"n_chars", $"n_unmerged",
          ($"n_tokens" / $"n_words".cast("double")).as("fertility"),
          ($"n_chars" / $"n_tokens".cast("double")).as("chars_per_token"),
          ($"n_unmerged" / $"n_words".cast("double")).as("unmerged_frac"))
        .orderBy($"source")
    },
    // RULE-BASED QUALITY FILTER — the C4/Gopher-style boolean rule
    // battery that runs BEFORE any learned scoring (t02 ranks; this
    // GATES): five hard rules, each an integer cross-multiplication so
    // the verdict can never disagree with the oracle at a float
    // boundary. r_short (< 15 words), r_longwords (mean word length
    // > 5.0 ⇔ 10·Σlen > 50·n), r_repeat (top word > 1/8 of the doc ⇔
    // 8·max > n), r_lowttr (type-token ratio < 0.4 ⇔ 5·distinct <
    // 2·n), r_nostop (zero stopwords — C4's "must contain a terminal
    // word" analog). Scale shape: one explode into a two-stage
    // (doc_id, w) count aggregate — the same (doc_id, word, count)
    // partial-agg shuffle as t14, never the text — then every rule and
    // the verdict fold out of the five per-doc longs map-side.
    // Non-vacuity (each rule fires somewhere AND not everywhere, at
    // sf0.001/0.01/0.1) is pinned in OperatorSpec.
    "t32_quality_rules" -> { (s, d) =>
      import s.implicits._
      val STOP = Seq("a", "the")
      val wc = T.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      wc.groupBy($"doc_id")
        .agg(sum($"c").as("n_words"),
             count(lit(1)).as("n_distinct"),
             max($"c").as("max_c"),
             sum($"c" * length($"w")).as("sum_wchars"),
             sum(when($"w".isin(STOP: _*), $"c").otherwise(0L)).as("n_stop"))
        .select($"doc_id", $"n_words", $"n_distinct", $"max_c",
          ($"n_words" < 15).as("r_short"),
          ($"sum_wchars" * 10 > $"n_words" * 50).as("r_longwords"),
          ($"max_c" * 8 > $"n_words").as("r_repeat"),
          ($"n_distinct" * 5 < $"n_words" * 2).as("r_lowttr"),
          ($"n_stop" === 0).as("r_nostop"))
        .withColumn("n_failed",
          ($"r_short".cast("int") + $"r_longwords".cast("int") +
           $"r_repeat".cast("int") + $"r_lowttr".cast("int") +
           $"r_nostop".cast("int")).cast("long"))
        .withColumn("keep", $"n_failed" === 0L)
        .orderBy($"doc_id")
    },
    // SAMPLING-TEMPERATURE MIXTURE — the multi-source mixture-weight
    // table (the Pile/LLaMA recipe): at temperature α each source's
    // sampling weight ∝ (its token share)^α — α=1 is natural
    // proportions, α→0 flattens toward uniform (t13 is exactly the
    // α=0 endpoint; t16 caps by count; this is the tunable middle).
    // Determinism across engines: n^α for α ∈ {0.25, 0.5, 0.75} is
    // composed ONLY of IEEE-correctly-rounded ops (sqrt and multiply:
    // n^.5 = sqrt(n), n^.25 = sqrt(sqrt(n)), n^.75 = sqrt(n·sqrt(n)))
    // — never pow(), whose libm vs java.lang.Math last-ulp drift would
    // break the hash gate — then rounded ONCE to integer micro-units,
    // so the normalizing sums are exact integer arithmetic in any
    // order. Epochs = how many times a source is re-read under a
    // one-total-corpus token budget at α=0.5: weight·N/n — the
    // repetition-count column a mixture owner actually reads (a small
    // source upweighted past ~4 epochs is the memorization flag).
    // Scale shape: one (source, long) partial-agg pass over the corpus
    // — k rows out; everything after is O(k).
    "t33_mixture_temperature" -> { (s, d) =>
      import s.implicits._
      val n = T.documents(s, d)
        .select($"source", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
        .groupBy($"source").agg(count(lit(1)).as("n_words"))
      val sc = n.select($"source", $"n_words",
          round(sqrt(sqrt($"n_words".cast("double"))) * 1e6).cast("long")
            .as("u25"),
          round(sqrt($"n_words".cast("double")) * 1e6).cast("long").as("u50"),
          round(sqrt($"n_words".cast("double") *
            sqrt($"n_words".cast("double"))) * 1e6).cast("long").as("u75"))
      val tot = sc.agg(sum($"n_words").as("n_tot"), sum($"u25").as("t25"),
                       sum($"u50").as("t50"), sum($"u75").as("t75"))
      sc.crossJoin(broadcast(tot))
        .select($"source", $"n_words",
          ($"n_words" / $"n_tot".cast("double")).as("share"),
          ($"u25" / $"t25".cast("double")).as("w_a25"),
          ($"u50" / $"t50".cast("double")).as("w_a50"),
          ($"u75" / $"t75".cast("double")).as("w_a75"),
          ($"u50" * $"n_tot" / ($"t50" * $"n_words").cast("double"))
            .as("epochs_a50"))
        .orderBy($"source")
    },
    // Language ID: frequency-weighted lexicon overlap, argmax with
    // alphabetical tie-break; compared against the labeled lang.
    "t01_langid" -> { (s, d) =>
      import s.implicits._
      val withScores = LEX.foldLeft(
        T.documents(s, d).withColumn("words", split($"text", " "))) {
        case (df, (lang, ws)) =>
          df.withColumn(s"score_$lang",
            expr(s"size(filter(words, w -> array_contains(array(${lexArr(ws)}), w)))"))
      }
      val m = greatest(LEX.map { case (l, _) => col(s"score_$l") }: _*)
      val predicted = LEX.foldRight(lit("??")) { case ((lang, _), el) =>
        when(col(s"score_$lang") === m, lang).otherwise(el)
      }
      withScores
        .withColumn("predicted", predicted)
        .select($"doc_id", $"lang", $"predicted",
                ($"predicted" === $"lang").as("agrees"),
                col("score_de"), col("score_en"), col("score_es"),
                col("score_fr"), col("score_zh"))
        .orderBy($"doc_id")
    },

    // LANGUAGE-ID CONFUSION MATRIX — the eval harness for t01's
    // classifier (a curation run that routes documents by predicted
    // language needs the ERROR STRUCTURE, not just accuracy: which
    // languages leak into which — es→fr confusion contaminates a
    // French corpus silently, and the fixture's '??' no-lexicon-hit
    // rows are the abstention rate a router must budget for): per
    // (true lang, predicted lang), document count, the true-language
    // total, and the row share — the diagonal is per-language recall.
    // Runs t01's EXACT classifier (same registry closure, so the two
    // queries can never drift apart) and aggregates; the oracle wraps
    // t01's SQL as a CTE for the same reason. Scale shape: t01's
    // map-only scoring pass + one (lang, predicted) count — k² control
    // rows after the scan.
    "t43_langid_confusion" -> { (s, d) =>
      import s.implicits._
      val pred = queries("t01_langid")(s, d).select($"lang", $"predicted")
      val conf = pred.groupBy($"lang", $"predicted")
        .agg(count(lit(1)).as("n_docs"))
      val tot = pred.groupBy($"lang").agg(count(lit(1)).as("n_true"))
      conf.join(tot, Seq("lang"))
        .select($"lang", $"predicted", $"n_docs", $"n_true",
          ($"n_docs" / $"n_true".cast("double")).as("share"))
        .orderBy($"lang", $"predicted")
    },

    // PMI COLLOCATION MINING — the word2phrase step a tokenizer/
    // phrase-vocab builder runs before training ("new york" should be
    // one unit; frequency alone can't find it because frequent pairs
    // of frequent words are expected): pointwise mutual information
    // ln(P(xy) / (P(x)·P(y))) over adjacent in-doc pairs, P(xy) from
    // the pair mass, P(x) from the unigram mass, a min-count floor
    // (c_xy ≥ 5 — below it PMI is noise that rewards hapax pairs), and
    // the top-20 by (pmi, x, y). Determinism: the score is rounded
    // ONCE to integer micro-nats (t26's scheme) from the SAME
    // left-associated double expression on both engines; counts decide
    // everything else. Scale shape: two narrow keyed aggregates over
    // one tokenize pass (pairs map-side-combine to (x, y, count) —
    // distinct-bigram cardinality, never token mass, crosses the
    // wire), two 1-row broadcast normalizers, the floor shrinks the
    // join to the collocation candidates, and the top-20 is
    // TakeOrderedAndProject — per-partition heaps, no global sort.
    "t44_pmi_collocations" -> { (s, d) =>
      import s.implicits._
      val toks = T.documents(s, d)
        .select($"doc_id", expr("filter(split(text, ' '), x -> x <> '')")
          .as("ws"))
      val uni = toks.select(explode($"ws").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val nUni = uni.agg(sum($"c").as("n_uni"))
      val pairs = toks
        .select($"ws", posexplode($"ws").as(Seq("p", "y")))
        .filter($"p" >= 1)
        .select(element_at($"ws", $"p").as("x"), $"y")
        .groupBy($"x", $"y").agg(count(lit(1)).as("c_xy"))
        .localCheckpoint()
      val nPairs = pairs.agg(sum($"c_xy").as("n_pairs"))
      pairs.filter($"c_xy" >= 5)
        .join(uni.select($"w".as("x"), $"c".as("c_x")), Seq("x"))
        .join(uni.select($"w".as("y"), $"c".as("c_y")), Seq("y"))
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nPairs))
        .select($"x", $"y", $"c_xy", $"c_x", $"c_y",
          round(log($"c_xy".cast("double") * $"n_uni" * $"n_uni" /
            ($"n_pairs".cast("double") * $"c_x" * $"c_y")) * 1e6)
            .cast("long").as("pmi_micro"))
        .orderBy($"pmi_micro".desc, $"x", $"y")
        .limit(20)
    },

    // Quality score: type-token ratio, stopword ratio, length saturation.
    // The (tokens, distinct, stopwords) triple comes from the fused
    // one-pass WordStats expression instead of split + array_distinct +
    // an interpreted higher-order filter — three passes and two array
    // materializations collapsed into one codegen-friendly scan; the
    // double arithmetic below is unchanged, so scores stay bit-identical
    // (OperatorSpec pins the expression against the declarative chain).
    "t02_quality_score" -> { (s, d) =>
      import s.implicits._
      import graft.functions.WordStats.{word_stats, nWords, nDistinct, nStop}
      T.documents(s, d)
        .withColumn("ws", word_stats($"text"))
        .withColumn("n_words", nWords($"ws"))
        .filter($"n_words" >= 1)
        .withColumn("ttr", nDistinct($"ws") / $"n_words")
        .withColumn("stop_ratio", nStop($"ws") / $"n_words")
        .withColumn("len_sat", least($"n_words" / 100.0, lit(1.0)))
        .select($"doc_id", $"lang", $"n_words", $"ttr", $"stop_ratio", $"len_sat",
                ($"ttr" * 0.4 + (lit(1.0) - $"stop_ratio") * 0.3 +
                 $"len_sat" * 0.3).as("quality"))
        .orderBy($"doc_id")
    },

    // Token counting: whitespace, regex (BPE-ish word/number/symbol), and
    // the chars/3.5 heuristic estimate.
    "t03_token_count" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d)
        .select($"doc_id",
          size(split($"text", " ")).as("ws_tokens"),
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
            .as("re_tokens"),
          ceil(length($"text") / 3.5).cast("long").as("est_bpe_tokens"),
          length($"text").as("n_chars"))
        .orderBy($"doc_id")
    },

    // Deterministic stratified sampling: keep a per-stratum fraction by
    // thresholding the portable hash of the key — reproducible across
    // runs/cluster sizes and joinable (the same doc always samples the
    // same way), unlike rng-based sample(). The standard downsampling
    // primitive for training-data pipelines.
    "t05_stratified_sample" -> { (s, d) =>
      import s.implicits._
      val rate = when($"lang" === "en", 20).otherwise(50) // percent kept
      T.documents(s, d)
        .filter(graft.Dets.phash(concat(lit("sample:"), $"doc_id".cast("string")))
          % 100 < rate)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"lang")
    },

    // Corpus n-gram statistics: explode word bigrams, count per (lang,
    // bigram), keep top-5 per lang by a ranking window. The scalable
    // shape for corpus stats at 100 TB: partial (map-side) counting
    // before the shuffle, then a per-key top-k — never a global sort.
    "t06_ngram_topk" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val bigrams = T.documents(s, d)
        .withColumn("words", split($"text", " "))
        .filter(size($"words") >= 2)
        .select($"lang", explode(expr(
          """transform(sequence(0, size(words) - 2),
            |  i -> concat_ws('_', element_at(words, i + 1),
            |                 element_at(words, i + 2)))""".stripMargin))
          .as("bigram"))
      bigrams
        .groupBy($"lang", $"bigram")
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"lang").orderBy($"n".desc, $"bigram")))
        .filter($"rk" <= 5)
        .select($"lang", $"rk", $"bigram", $"n")
        .orderBy($"lang", $"rk")
    },

    // Heavy hitters per language via the Misra–Gries sketch (k=64
    // counters, O(k) state, constant-size shuffle). The surviving item
    // set beyond the guarantee depends on merge order, so the checked
    // claim IS the guarantee: every word with exact count > N/(k+1)
    // must appear in the sketch (oracle asserts TRUE) alongside the
    // exact totals. The 100 TB shape: per-partition partials, no
    // (lang, word) shuffle for the sketch side at all.
    "t07_heavy_hitters" -> { (s, d) =>
      import s.implicits._
      import graft.functions.FreqItemsAgg.freq_items_weighted
      // ONE explode + ONE (lang, word) shuffle: both the sketch and the
      // exact-heavy branch consume the same counted frame, so Catalyst's
      // ReuseExchange materializes the explode/count once (plan-asserted
      // in PlanShapeSpec). The sketch takes weighted updates — merging
      // the summary of cnt copies — so the N/(k+1) guarantee is intact.
      // The operator's contract is heavy hitters PER LANGUAGE, so both
      // engines filter NULL-lang docs up front (the oracle carries the
      // same WHERE); stating the filter on the shared frame also keeps
      // all three subtrees canonically identical (pushdown asymmetry is
      // what defeats ReuseExchange otherwise).
      val wc = T.documents(s, d)
        .filter($"lang".isNotNull)
        .select($"lang", explode(split($"text", " ")).as("word"))
        .groupBy($"lang", $"word")
        .agg(count(lit(1)).as("cnt"))
      val sketch = wc.groupBy($"lang")
        .agg(freq_items_weighted($"word", $"cnt", 64).as("items"),
             sum($"cnt").as("n_words"))
      val heavy = wc
        .join(sketch.select($"lang", $"n_words"), Seq("lang"))
        // exact integer arithmetic: cnt > N/65 as cnt*65 > N — a count
        // EQUAL to the rational N/65 is outside the MG guarantee, and
        // double division could misclassify it as heavy
        .filter($"cnt" * 65 > $"n_words")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_heavy"), collect_list($"word").as("heavy"))
      sketch.join(heavy, Seq("lang"), "left")
        .select($"lang", $"n_words",
          coalesce($"n_heavy", lit(0L)).as("n_heavy"),
          coalesce(expr("size(array_except(heavy, items)) = 0"), lit(true))
            .as("all_heavy_found"))
        .orderBy($"lang")
    },

    // Composite cleaning pass — the realistic end-to-end pipeline a
    // training-data user runs: quality scoring + length gate +
    // deterministic sampling fused into ONE scan (every per-doc column
    // is map-only; only the tiny per-lang report aggregates). Reuses
    // t02's exact quality formula and t05's hash-threshold sampling, so
    // every predicate is engine-exact. The chain lives in
    // [[cleanPipeline]], which also runs UNCHANGED over `readStream`
    // (map-only gates + one aggregate stream in complete mode —
    // StreamingSpec pins batch equivalence).
    "t09_clean_pipeline" -> { (s, d) =>
      cleanPipeline(T.documents(s, d)).orderBy(col("lang"))
    },

    // TF-IDF: the canonical corpus-relevance score. Two narrow
    // aggregations (term frequency per doc, document frequency per term)
    // joined back on the term — shuffles carry (word, counts), never
    // text. N arrives via a broadcast 1-row corpus-count join (no driver
    // scalar in the plan, so the query stays one lazy DAG). ln() is
    // transcendental: scores rounded to 6 dp on both engines (library
    // convention — libm ulp noise can't move a 1e-6 boundary). Top-3
    // terms per sampled doc via a per-doc ranking window.
    "t08_tfidf" -> { (s, d) =>
      import s.implicits._
      val terms = T.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
      val tf = terms.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
      // df derives FROM tf (one row per (doc_id, w), so counting rows
      // per w == counting distinct docs per w): the explode + (doc_id, w)
      // shuffle happen once and ReuseExchange shares them between the
      // join's tf side and this aggregate. N stays a separate documents
      // scan on purpose — it must count word-less docs too, and a
      // count(1) scan reads zero data columns.
      val df_ = tf.groupBy($"w").agg(count(lit(1)).as("df"))
      val n = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"tfidf".desc, $"w")
      tf.join(df_, Seq("w"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(
          $"tf" * log(($"n_docs" + 1).cast("double") / ($"df" + 1)), 6))
        .filter($"doc_id" % 50 === 0)
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"doc_id", $"rk", $"w", $"tf", $"df", $"tfidf")
        .orderBy($"doc_id", $"rk")
    },

    // Rolling-hash winnowing fingerprints (the MOSS scheme): Rabin–Karp
    // rolling hash over 8-byte grams, minimum per 8-wide window, distinct
    // sorted set per document — any shared substring >= 15 bytes yields a
    // shared fingerprint. One fused codegen pass (WinnowFingerprints);
    // map-only, emits O(n/w) longs per doc.
    "t10_winnow_fingerprint" -> { (s, d) =>
      import s.implicits._
      import graft.functions.WinnowFingerprints.winnow_fps
      T.documents(s, d)
        .filter(length($"text") >= 15) // need >= k + w - 1 bytes
        .withColumn("fps", winnow_fps($"text", 8, 8))
        .select($"doc_id", size($"fps").as("n_fps"),
          element_at($"fps", 1).as("fp_min"),
          // order-free checksum of the set (scalarized for the driver)
          expr("aggregate(fps, 0L, (a, x) -> a ^ x)").as("fp_xor"))
        .orderBy($"doc_id")
    },

    // Winnowing near-dup JOIN — the shared-substring detector d02/d04
    // cannot be: it catches doc pairs whose GLOBAL overlap is tiny but
    // share one long span (>= k + w - 1 = 39 bytes guarantees >= 1
    // shared winnow fingerprint). k = 32, not t10's 8: a gram must span
    // enough tokens to be DISCRIMINATIVE — 8-byte grams of ordinary text
    // are corpus-common, so every fingerprint hits the stop-fp cap and
    // recall collapses (measured: 11/39 plants at k=8 vs 39/39 at k=32).
    // The stop-fp cap is CORPUS-ADAPTIVE (greatest(8, floor(log2 n)+1),
    // see [[d09CapExpr]] / [[winnowPairs]]) — a fixed cap was the same
    // knob shape d03's band width graduated from; wasted verify
    // pairs/doc measured near-flat under the adaptive cap vs growing
    // under a fixed one at 16x (ARCHITECTURE's scale probes).
    "d09_winnow_neardup" -> { (s, d) =>
      import s.implicits._
      winnowPairs(d09Corpus(s, d))
        .filter($"n_shared" >= 3)
        .orderBy($"d1", $"d2")
    },

    // Fingerprint: md5 over the sorted distinct word set (bag-of-words
    // canonical form); window counts docs sharing a fingerprint.
    "t04_fingerprint" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d)
        .withColumn("fp",
          md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")))
        .withColumn("n_same", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
        .select($"doc_id", $"fp", $"n_same")
        .orderBy($"doc_id")
    },

    // Gopher-style repetition signals — the standard pre-training quality
    // gate for boilerplate/keyword-stuffing: within-doc duplicate
    // word-bigram/-trigram fractions plus the top-word mass. Everything
    // is map-only in one scan. The top-word count sorts the words and
    // takes the longest equal-run via run-BOUNDARY positions (filter the
    // indexes where the word changes, max adjacent difference) —
    // O(n log n) per doc in pure integer ops, NOT the
    // count-each-distinct-word shape whose O(n * distinct) cost turns
    // quadratic on the 100k-token documents where this gate matters
    // most, and NOT a stateful fold (DuckDB's list_reduce evaluates
    // struct fields sequentially, so an accumulator read twice sees its
    // own partial update). All fractions are single integer/integer
    // divisions (no FP sums), bit-exact across engines and cluster
    // sizes.
    "t11_repetition" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d)
        .withColumn("words", split($"text", " "))
        .withColumn("n_words", size($"words").cast("long"))
        .filter($"n_words" >= 3)
        .withColumn("grams2", expr(
          "transform(sequence(1, size(words) - 1), i -> " +
          "concat_ws('_', element_at(words, i), element_at(words, i + 1)))"))
        .withColumn("grams3", expr(
          "transform(sequence(1, size(words) - 2), i -> concat_ws('_', " +
          "element_at(words, i), element_at(words, i + 1), element_at(words, i + 2)))"))
        .withColumn("dup_2gram_frac", lit(1.0) -
          expr("size(array_distinct(grams2))").cast("double") /
          expr("size(grams2)"))
        .withColumn("dup_3gram_frac", lit(1.0) -
          expr("size(array_distinct(grams3))").cast("double") /
          expr("size(grams3)"))
        .withColumn("sorted", array_sort($"words"))
        // 1-based positions where a run ends (ANSI-safe: the neighbor
        // index is clamped with least(), never out of bounds)
        .withColumn("ends", expr(
          "filter(sequence(1, size(sorted)), i -> i = size(sorted) OR " +
          "element_at(sorted, i) <> element_at(sorted, least(i + 1, size(sorted))))"))
        .withColumn("top_word_n", expr(
          "array_max(transform(sequence(1, size(ends)), j -> " +
          "element_at(ends, j) - IF(j = 1, 0, element_at(ends, j - 1))))"))
        .withColumn("top_word_frac", $"top_word_n".cast("double") / $"n_words")
        .select($"doc_id", $"n_words", $"dup_2gram_frac", $"dup_3gram_frac",
          $"top_word_frac",
          ($"dup_2gram_frac" > 0.3 || $"top_word_frac" > 0.2).as("repetitive"))
        .orderBy($"doc_id")
    },

    // PII scrubbing — redact emails / phones / IPv4s and account for
    // every redaction, the compliance pass before any corpus ships. The
    // synthetic corpus carries no PII, so each doc deterministically
    // injects one of each (plus a second email on every third doc) and
    // the operator scrubs what was injected; `clean` proves nothing
    // survives. Patterns stay inside the regex subset Java (Spark) and
    // RE2 (DuckDB) interpret identically — character classes only, dots
    // as [.], no escapes whose handling differs between string layers.
    // Map-only: counts via regexp_extract_all, redaction via global
    // regexp_replace, one scan end to end.
    "t12_pii_scrub" -> { (s, d) =>
      import s.implicits._
      val email = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
      val phone = "555-[0-9]{4}"
      val ip = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
      val injected = concat(
        $"text",
        lit(" contact u"), $"doc_id".cast("string"),
        lit("@mail"), ($"doc_id" % 7).cast("string"), lit(".com"),
        when($"doc_id" % 3 === 0,
          concat(lit(" cc a"), $"doc_id".cast("string"), lit("@alt.org")))
          .otherwise(lit("")),
        lit(" call 555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), ($"doc_id" % 256).cast("string"),
        lit("."), (($"doc_id" * 7) % 256).cast("string"))
      T.documents(s, d)
        .withColumn("pii_text", injected)
        .withColumn("n_emails",
          size(regexp_extract_all($"pii_text", lit(email), lit(0))).cast("long"))
        .withColumn("n_phones",
          size(regexp_extract_all($"pii_text", lit(phone), lit(0))).cast("long"))
        .withColumn("n_ips",
          size(regexp_extract_all($"pii_text", lit(ip), lit(0))).cast("long"))
        .withColumn("scrubbed",
          regexp_replace(regexp_replace(regexp_replace(
            $"pii_text", email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>"))
        .select($"doc_id", $"n_emails", $"n_phones", $"n_ips",
          md5($"scrubbed").as("scrubbed_md5"),
          (size(regexp_extract_all($"scrubbed", lit(email), lit(0))) === 0 &&
           size(regexp_extract_all($"scrubbed", lit(phone), lit(0))) === 0 &&
           size(regexp_extract_all($"scrubbed", lit(ip), lit(0))) === 0)
            .as("clean"))
        .orderBy($"doc_id")
    },

    // Domain-mix rebalancing — the mixture-weight step of corpus
    // assembly: compute per-source sampling rates that flatten the
    // source distribution to uniform, then keep each doc by t05's
    // deterministic hash threshold. Rates are EXACT integer ppm
    // (n_tot * 1e6 div (n_sources * n_src), capped at 1e6) derived
    // IN-PLAN: one tiny per-source count aggregate broadcast back onto
    // the scan — no driver scalar, no FP rate that could disagree at a
    // threshold boundary. At 100 TB this is one partial-agg pass over
    // (source) plus a map-only filter; the doc bodies never shuffle.
    "t13_domain_mix" -> { (s, d) =>
      import s.implicits._
      val docs = T.documents(s, d)
      val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_src"))
      val tot = counts.agg(sum($"n_src").as("n_tot"),
                           count(lit(1)).as("n_sources"))
      val rates = counts.crossJoin(broadcast(tot))
        .withColumn("rate_ppm", least(lit(1000000L),
          expr("(n_tot * 1000000) div (n_sources * n_src)")))
        .select($"source", $"n_src", $"rate_ppm")
      docs.join(broadcast(rates), Seq("source"))
        .filter(graft.Dets.phash(concat(lit("mix:"), $"doc_id".cast("string")))
          % 1000000 < $"rate_ppm")
        .groupBy($"source")
        .agg(max($"n_src").as("n_before"), max($"rate_ppm").as("rate_ppm"),
             count(lit(1)).as("n_kept"))
        .orderBy($"source")
    },

    // Unigram-LM scoring (the CCNet quality filter): train unigram
    // probabilities on the corpus itself, score each doc by its average
    // per-word negative log-likelihood — low = fluent/common, high =
    // gibberish/rare. Determinism: each word's -ln p is rounded ONCE to
    // integer micro-nats in the vocab table, so every per-doc sum is
    // exact integer arithmetic (no FP accumulation order anywhere);
    // only the final average divides. Scale shape: the vocab table is
    // tiny next to the corpus (broadcastable at 100 TB), the per-doc
    // term-frequency aggregate shuffles (doc_id, word, count) — never
    // text — and N arrives via a broadcast 1-row join.
    "t14_unigram_nll" -> { (s, d) =>
      import s.implicits._
      val words = T.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
      val n = words.agg(count(lit(1)).as("n_tot"))
      val vocab = words.groupBy($"w").agg(count(lit(1)).as("wc"))
        .crossJoin(broadcast(n))
        .select($"w",
          round(-log($"wc".cast("double") / $"n_tot") * 1e6).cast("long")
            .as("nll_micro"))
      val tf = words.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
      tf.join(broadcast(vocab), Seq("w"))
        .groupBy($"doc_id")
        .agg(sum($"tf" * $"nll_micro").as("nll_sum"), sum($"tf").as("n_words"))
        .select($"doc_id", $"n_words",
          round($"nll_sum".cast("double") / $"n_words" / 1e6, 6).as("avg_nll"))
        .orderBy($"doc_id")
    },

    // Strict per-domain cap (t13 flattens the mix by RATE; this caps by
    // COUNT): keep at most K docs per source, chosen by a deterministic
    // hash ranking so the kept set is reproducible across runs and
    // cluster sizes. Scale shape: the ranking window runs over a
    // 3-narrow-column projection (doc_id, source, rank key) — only
    // ~24 bytes/row ever shuffles by the skewed domain key, never the
    // doc bodies — and the surviving (doc_id, rn) set (≤ K × n_domains
    // rows) joins back to the full table on the uniform doc_id key.
    // A hot domain costs a big sort of small rows, not a big shuffle
    // of text.
    "t16_domain_cap" -> { (s, d) =>
      import s.implicits._
      val cap  = 50
      val docs = T.documents(s, d)
      val keep = domainCapKeep(docs.select($"doc_id", $"source"), cap)
        .select($"doc_id", $"rn")
      docs.join(keep, Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"),
             sum(length($"text")).as("sum_chars"),
             max($"rn").cast("long").as("max_rank"))
        .orderBy($"source")
    },

    // Sequence packing — the pretraining batcher: tokenize, concatenate
    // docs (one EOD token each) in doc_id order, slice the token stream
    // into fixed 512-token training sequences, report per-sequence
    // composition (doc count, whole-doc count, token fill). The global
    // token cumsum that defines the slicing is WRITTEN as the naive
    // `SUM OVER (ORDER BY ...)` empty-PARTITION-BY window — which would
    // gather the whole corpus onto one task — and the injected
    // RewriteGlobalRunningTotal rule re-plans it as
    // GlobalRunningTotalExec: range exchange sized by
    // spark.sql.shuffle.partitions + O(partitions) broadcast prefix
    // offsets + map-only accumulate (plan-asserted in PlanShapeSpec).
    // Everything after the cumsum shuffles only (doc_id, 3 longs):
    // doc bodies never move.
    "t17_sequence_pack" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.register(s)
      val C = 512L
      val wCum = Window.orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val toks = T.documents(s, d).select($"doc_id",
        coalesce((size(split($"text", " ")) + 1).cast("long"), lit(0L))
          .as("tok"))
      val spans = toks
        .withColumn("cum_end", sum($"tok").over(wCum)) // rule re-plans this
        .withColumn("cum_start", $"cum_end" - $"tok")
        .withColumn("first_seq", expr(s"cum_start div $C"))
        .withColumn("last_seq", expr(s"(cum_end - 1) div $C"))
        .withColumn("seq_id", explode(sequence($"first_seq", $"last_seq")))
      spans.groupBy($"seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(least($"cum_end", ($"seq_id" + 1) * C) -
              greatest($"cum_start", $"seq_id" * C))
            .cast("long").as("n_tokens"),
          sum(when($"cum_start" >= $"seq_id" * C &&
                   $"cum_end" <= ($"seq_id" + 1) * C, 1L).otherwise(0L))
            .cast("long").as("n_whole_docs"),
          min($"doc_id").as("head_doc"))
        .orderBy($"seq_id")
    },

    // The capstone INTEGRATION op — a real corpus-curation run chaining
    // four operators end-to-end over the planted-duplicate corpus:
    // exact dedup (d01's keep-min-per-hash) → quality gate (t02's
    // formula at 0.64) → per-domain cap (t16's deterministic rank,
    // K=40) → fixed-byte shard packing (t19) — with per-stage attrition
    // reported as the manifest. The stage-4 byte cumsum is WRITTEN as
    // the naive global window; the injected RewriteGlobalRunningTotal
    // rule re-plans it distributed — operator composition and the
    // optimizer extension working together, exactly how a user would
    // run their pipeline on this engine.
    "t20_curation_pipeline" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.register(s)
      // every stage frame is read twice (its own stat row + the next
      // stage), and the stage-N stat re-derived the WHOLE chain — the
      // executed plan carried 51 parquet scans and the word-stats
      // kernel ran 3x (r20). r21: ONE corpus pass derives every fixed-
      // width column the rest of the pipeline consumes (content hash,
      // byte length, word stats), so the checkpoints carry NO text —
      // the r20 shape checkpointed the full corpus text twice, which a
      // 100 TB run cannot afford (r20 verdict item 3); every stage
      // decision and stat below only ever read derived numbers anyway.
      val docs = Dedup.corpus(s, d)
        .select($"doc_id", $"source", md5($"text").as("h"),
          length($"text").cast("long").as("n_chars"),
          graft.functions.WordStats.word_stats($"text").as("ws"))
        .localCheckpoint()
      val keep1 = docs.groupBy($"h")
        .agg(min($"doc_id").as("doc_id")).select($"doc_id")
      val s1 = docs.join(keep1, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val s2 = s1
        .withColumn("n_words", graft.functions.WordStats.nWords($"ws"))
        .filter($"n_words" >= 1)
        .withColumn("quality",
          graft.functions.WordStats.nDistinct($"ws") / $"n_words" * 0.4 +
          (lit(1.0) -
            graft.functions.WordStats.nStop($"ws") / $"n_words") * 0.3 +
          least($"n_words" / 100.0, lit(1.0)) * 0.3)
        .filter($"quality" >= 0.64)
        .localCheckpoint()
      val w3 = Window.partitionBy($"source").orderBy(
        graft.Dets.phash(concat(lit("cur:"), $"doc_id".cast("string"))),
        $"doc_id")
      // s3 is NOT checkpointed: the stage-3 ranking window and the
      // stage-4 rewritten global cumsum are spec-pinned to appear in
      // THIS query's plan (PlanShapeSpec) — the window re-runs once
      // over the checkpointed s2, which is O(survivors) and cheap
      val s3 = s2.withColumn("rn", row_number().over(w3)).filter($"rn" <= 40)
      val w4 = Window.orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val s4 = s3
        .select($"doc_id",
          coalesce($"n_chars" + 1L, lit(0L)).as("nb"))
        .withColumn("cum", sum($"nb").over(w4)) // rule re-plans this
        .withColumn("shard", expr("(cum - nb) div 16384"))
      def stat(df: DataFrame, id: Int, name: String) = df
        .agg(count(lit(1)).as("n_docs"),
             sum($"n_chars").cast("long").as("sum_chars"))
        .select(lit(id).as("stage_id"), lit(name).as("stage"),
                $"n_docs", $"sum_chars")
      val packed = s4
        .agg(countDistinct($"shard").as("n_docs"),
             sum($"nb").cast("long").as("sum_chars"))
        .select(lit(4).as("stage_id"), lit("packed_shards").as("stage"),
                $"n_docs", $"sum_chars")
      stat(docs, 0, "all")
        .unionByName(stat(s1, 1, "exact_dedup"))
        .unionByName(stat(s2, 2, "quality_gate"))
        .unionByName(stat(s3, 3, "domain_cap"))
        .unionByName(packed)
        .orderBy($"stage_id")
    },

    // Shard planning — the output writer's bin map: assign docs (in
    // doc_id order, so shards are contiguous and reproducible at any
    // parallelism) to fixed-byte output shards via the same distributed
    // byte cumsum as t17, and report the per-shard manifest (docs,
    // bytes, fill vs target). A doc belongs to the shard its FIRST
    // byte lands in — docs are atomic, never split — so a shard can
    // overfill by at most one doc: the standard contiguous sharding a
    // petabyte-scale writer uses to turn a 100 TB corpus into ~equal
    // training files. Only (doc_id, 2 longs) shuffles; bodies stay put.
    // The byte cumsum is the naive global window re-planned by the
    // injected rule (same exec path as t17/t20 — no pinned partition
    // count, no cache).
    "t19_shard_plan" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.register(s)
      val target = 16384L // bytes per shard
      val wCum = Window.orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sized = T.documents(s, d).select($"doc_id",
        coalesce((length($"text") + 1).cast("long"), lit(0L))
          .as("nb")) // +1 record separator
      sized
        .withColumn("cum_end", sum($"nb").over(wCum)) // rule re-plans this
        .withColumn("shard", expr(s"(cum_end - nb) div $target"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
             sum($"nb").cast("long").as("bytes"),
             min($"doc_id").as("first_doc"),
             max($"doc_id").as("last_doc"))
        .withColumn("fill", $"bytes".cast("double") / target)
        .orderBy($"shard")
    },

    // Deterministic seeded corpus shuffle — the training-order step: a
    // pretraining run must visit documents in a pseudorandom order that
    // is REPRODUCIBLE across re-runs and cluster sizes (checkpoint
    // resume, multi-epoch seeds, debugging a loss spike at step N all
    // depend on it). Shuffle key = 60-bit phash("shuf42:" || doc_id) —
    // a seeded hash permutation, so no RNG state exists anywhere; the
    // global position over that order is the naive running COUNT window
    // re-planned by RewriteGlobalRunningTotal (range exchange +
    // O(partitions) offsets + map-only accumulate — a 100 TB corpus
    // shuffles once on an 8-byte key, bodies never move). Output is the
    // per-batch manifest (B=64 docs/batch): batch composition proves the
    // permutation is well-mixed (sources interleave) and positions are
    // exactly 1..n with no dup/gap.
    //
    // DETERMINISM LIMIT: cross-engine batch-manifest equality relies on
    // the 60-bit shuf_key being collision-free — equal keys are ordered
    // arbitrarily by each engine. The birthday bound crosses ~50% at
    // n ≈ 2^30 docs, and a 100 TB corpus (n ~ 1e11) expects thousands
    // of collisions, so at that scale manifests are reproducible only
    // per-engine unless the key is widened (phash gives a second
    // independent 60-bit word from the same md5 digest — see
    // FINGERPRINT WIDTH in Dedup — or doc_id itself tiebreaks when the
    // consumer can sort on (key, doc_id); the rewrite rule matches a
    // single order attribute, so the widened-key form is the scale
    // path). Negligible at fixture scale: P(any collision) < 1e-8 at
    // sf0.1.
    "t21_corpus_shuffle" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.register(s)
      val B = 64L
      val wPos = Window.orderBy($"shuf_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.documents(s, d).select($"doc_id", $"source")
        .withColumn("shuf_key", graft.Dets.phash(
          concat(lit("shuf42:"), $"doc_id".cast("string"))))
        .withColumn("pos", count(lit(1)).over(wPos)) // rule re-plans this
        .withColumn("batch_id", expr(s"(pos - 1) div $B"))
        .groupBy($"batch_id")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct($"source").as("n_sources"),
             sum($"doc_id").cast("long").as("sum_doc_ids"),
             min_by($"doc_id", $"pos").as("first_doc"))
        .orderBy($"batch_id")
    },

    // Token-budget selection — "give me the best N tokens": rank the
    // corpus by quality (t02/t20's formula), run a global token cumsum
    // down the ranking, keep documents while the budget lasts. The
    // data-mix curation step every training run ends with, and the
    // third distinct use of the running-total exec (t17/t19 order by
    // doc_id; here the order is a DERIVED ranking). The rule matches a
    // single ASC order attribute, so the (quality desc, doc_id) ranking
    // is packed into one unique long: (1e6 - round(quality*1e6)) * 1e10
    // + doc_id — quality has ~6 meaningful digits, doc_id < 1e10, and
    // both engines compute the same integer, so the global order is
    // total and cross-engine exact. Only (doc_id, 2 longs) shuffles.
    "t22_token_budget" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.register(s)
      val budget = 20000L
      val wCum = Window.orderBy($"rank_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.documents(s, d)
        .withColumn("ws", graft.functions.WordStats.word_stats($"text"))
        .withColumn("n_words", graft.functions.WordStats.nWords($"ws"))
        .filter($"n_words" >= 1)
        .withColumn("quality",
          graft.functions.WordStats.nDistinct($"ws") / $"n_words" * 0.4 +
          (lit(1.0) -
            graft.functions.WordStats.nStop($"ws") / $"n_words") * 0.3 +
          least($"n_words" / 100.0, lit(1.0)) * 0.3)
        .withColumn("rank_key",
          (lit(1000000L) - round($"quality" * 1e6).cast("long")) *
            10000000000L + $"doc_id")
        .select($"doc_id", $"source", $"rank_key",
          coalesce($"n_words", lit(0L)).as("tok"))
        .withColumn("cum_tok", sum($"tok").over(wCum)) // rule re-plans this
        .filter($"cum_tok" <= budget)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"),
             sum($"tok").cast("long").as("sum_tokens"),
             min($"rank_key").as("best_rank"),
             max($"cum_tok").cast("long").as("last_cum"))
        .orderBy($"source")
    },

    // Leakage-free train/eval split — the eval-contamination guard a
    // training pipeline ends with: documents with IDENTICAL text must
    // land in the SAME split (a duplicate straddling train and eval
    // inflates eval scores), so the split decision is made once per
    // content-hash GROUP (by its min-doc_id representative's seeded
    // hash, 90/10) and every member inherits it. One window pass over
    // (doc_id, content-hash) longs computes the representative and the
    // group size in a single exchange — no join back, no text ever
    // shuffled; group sizes are duplication multiplicities (small by
    // nature), so the windowed partitions carry no hub skew. The same
    // group-atomic pattern extends to near-dup clusters by feeding
    // d06's CC labels in place of the exact hash.
    "t24_leakage_free_split" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val byH = Window.partitionBy($"h")
      // the dedup family's corpus view (planted exact copies) — the
      // operator's reason to exist is those groups
      Dedup.corpus(s, d)
        .select($"doc_id", graft.Dets.phash($"text").as("h"))
        .withColumn("rep", min($"doc_id").over(byH))
        .withColumn("cnt", count(lit(1)).over(byH))
        .withColumn("split",
          when(graft.Dets.phash(concat(lit("split:"), $"rep".cast("string")))
            % 100 < 90, lit("train")).otherwise(lit("eval")))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct($"h").as("n_groups"),
             max($"cnt").as("max_group"))
        .orderBy($"split")
    },

    // Linear-classifier INFERENCE over hashed n-gram features — the
    // fastText-shaped scoring stage every production curation pipeline
    // runs (CCNet's language filter, the GPT-3/LLaMA quality
    // classifiers): word unigrams + bigrams are feature-hashed into
    // D = 65536 buckets, a (j, weight) model table is joined in, and
    // each doc scores by the mean weight of its features (the sigmoid
    // is monotone, so thresholding the mean logit IS thresholding the
    // probability — emitting the logit keeps the output exact where
    // cross-engine exp() could differ in the last ulp). The model here
    // is generated deterministically in-plan from the bucket index (a
    // stand-in for trained weights — the PLAN is the deliverable: a
    // real model is the same D-row broadcast). Determinism: weights are
    // integer MILLI-units summed exactly; the one division happens once
    // per doc at the end, and the keep/cut decision compares the
    // integer sum against zero. Scale shape:
    // gram explode and hashing are map-only over the text; the shuffle
    // carries (doc_id, j) longs — never grams, never text; the model is
    // O(D) and broadcast; per-doc reduce is a partial-aggregated sum.
    // At 100 TB this is one narrow shuffle + a map-side join, the same
    // plan a trained-classifier scoring pass would run.
    "t23_classifier_score" -> { (s, d) =>
      import s.implicits._
      classifierScore(T.documents(s, d)).orderBy($"doc_id")
    },

    // CLASSIFIER YIELD CURVE — the threshold knob priced (t23 scores;
    // the curation owner's actual decision is WHERE to cut, and the
    // only honest way to pick is to see what each operating point
    // keeps): for 9 mean-logit thresholds from −100 to +100 milli, the
    // docs and feature mass surviving, as counts and integer ppm. The
    // threshold test is an integer cross-multiplication
    // (logit_milli > τ·n_feats — mean-vs-τ without a division), so no
    // float ever decides a boundary doc. At 100 TB this is the curve
    // that turns "set the quality bar at 0.5" into a sized decision —
    // the same pricing discipline as d32's band plan and s33's
    // blocking knob. Scale: t23's one scoring pass, a ×9 constant
    // replication of the O(docs) logit frame, an O(9) report.
    "t45_classifier_yield" -> { (s, d) =>
      import s.implicits._
      val doc = classifierLogits(T.documents(s, d)).localCheckpoint()
      val tot = doc.agg(count(lit(1)).as("all_docs"),
                        sum($"n_feats").as("all_feats"))
      val taus = s.range(-4, 5).select(($"id" * 25).as("tau_milli"))
      doc.crossJoin(broadcast(taus))
        .groupBy($"tau_milli")
        .agg(sum(when($"logit_milli" > $"tau_milli" * $"n_feats", 1L)
               .otherwise(0L)).as("n_kept"),
             sum(when($"logit_milli" > $"tau_milli" * $"n_feats",
               $"n_feats").otherwise(0L)).as("feats_kept"))
        .crossJoin(broadcast(tot))
        .select($"tau_milli", $"n_kept", $"feats_kept",
          expr("n_kept * 1000000 div all_docs").as("doc_ppm"),
          expr("feats_kept * 1000000 div all_feats").as("feat_ppm"))
        .orderBy($"tau_milli")
    },

    // DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling" — public): pick the
    // pool documents that look most like a TARGET domain by the
    // log-ratio of two hashed-unigram bag-of-words models. Target =
    // lang 'en' docs; pool = the rest. Words feature-hash into B = 1024
    // buckets (the paper's trick: a FIXED model dimension regardless of
    // corpus vocab — the lambda table stays O(B) and broadcastable at
    // any scale); per-bucket Laplace-smoothed log p_target/p_pool is
    // rounded ONCE to integer micro-nats, so every per-doc score is an
    // exact integer sum — only the final average divides (identical
    // IEEE division from identical longs in both engines). The top-K
    // selection is a total order (rounded score desc, doc_id) so the
    // kept set is reproducible, and it plans as TakeOrderedAndProject —
    // O(K) per partition, never a global sort. Scale shape: two
    // count-aggregate passes over (bucket) + a map-only rescore whose
    // shuffle carries (doc_id, j, tf) longs; text never moves.
    "t25_dsir_resample" -> { (s, d) =>
      import s.implicits._
      dsirScores(s, d).orderBy(desc("avg_w"), $"doc_id").limit(100)
    },

    // Smoothed bigram-LM scoring — t14's unigram filter with one order
    // of context (the KenLM-lite fluency scorer CCNet-style pipelines
    // run when unigram NLL is too blunt): train add-one-smoothed
    // p(w | prev) on the corpus itself, score each doc by its average
    // bigram NLL. The sentence-start context '<s>' makes every word
    // carry exactly one bigram, so n_bigrams == n_words and short docs
    // are not unfairly cheap. Adjacency comes FREE from the token
    // array (previous = element_at(toks, pos)) — no window, no
    // self-join, map-only until the count aggregates. Determinism:
    // per-bigram NLL is rounded ONCE to integer micro-nats (t14's
    // scheme); per-doc sums are exact integers. Scale shape: the LM
    // table is O(distinct bigrams) — NOT assumed broadcastable at
    // 100 TB, so the score join is written hint-free and shuffles on
    // the uniform (pw, w) key (AQE broadcasts it when it is small, as
    // at fixture scale); everything upstream is map-side-combined
    // counts of fixed-width rows.
    "t26_bigram_nll" -> { (s, d) =>
      import s.implicits._
      bigramScores(s, d).orderBy($"doc_id")
    },

    // Curriculum bucketing — the easy→hard data-ordering step curriculum
    // pretraining starts from: rank EVERY doc globally by t26's bigram
    // fluency score and cut the ranking into 4 equal curriculum stages,
    // reporting each stage's doc count, token mass, and NLL range. The
    // global quartile is the 100 TB trap (NTILE over an empty PARTITION
    // BY = the whole corpus sorted on one task); here the rank comes
    // from DistributedRank — range-repartition + broadcast prefix
    // offsets, no single-task stage — and ntile is arithmetic on
    // (rank, n). Only (doc_id, 2 longs, 1 double) ever moves.
    "t27_curriculum_buckets" -> { (s, d) =>
      import s.implicits._
      import graft.operators.DistributedRank._
      // materialize the score frame ONCE before ranking: the range
      // repartition's SAMPLING job would otherwise re-run the whole
      // bigram-LM pipeline (DistributedRank caches its sorted frame, but
      // the sampler runs below that cache) — measured 17.7 → 10.2 s at
      // the 16× stress scale. The checkpointed frame is (doc_id,
      // 2 longs, 1 double) — linear, narrow, executor-resident.
      val scores = bigramScores(s, d).withColumn("g", lit(0)).localCheckpoint()
      val ranked = withRankStats(scores, Seq("g"), Seq($"avg_nll", $"doc_id"))
      ranked.withColumn("bucket", ntileFromRank(4, $"_rank0", $"_gn"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n_bigrams").as("sum_tokens"),
             min($"avg_nll").as("lo_nll"), max($"avg_nll").as("hi_nll"))
        .orderBy($"bucket")
    },

    // Per-source quality drift profile — the monitoring report a
    // production curation run emits per crawl snapshot: for each
    // source, the quality distribution's mean and spread plus how many
    // docs sit outside 2 sigma (a domain whose outlier count jumps is
    // the one whose extraction broke). Determinism is TOTAL: quality is
    // rounded ONCE to integer micro-units per doc, the moment sums are
    // exact DECIMAL(38) integers, and the 2-sigma test is evaluated in
    // the integer domain — (q*n - s1)^2 > 4*(n*s2 - s1^2) multiplies
    // out every division, so no float ever decides an outlier (a z-test
    // written in doubles would flip boundary docs between engines).
    // mean/std are presentation-only derivations of the exact sums.
    // Scale shape: one map-only score pass; per-source integer partial
    // aggregates (decimal sums survive 1e11-doc sources within
    // 38 digits); the O(sources) stats frame broadcasts back for the
    // outlier recount. Two narrow passes, no window, no self-join.
    "t29_quality_drift" -> { (s, d) =>
      import s.implicits._
      import graft.functions.WordStats
      val q = T.documents(s, d)
        .withColumn("ws", WordStats.word_stats($"text"))
        .withColumn("n_words", WordStats.nWords($"ws"))
        .filter($"n_words" >= 1)
        .select($"doc_id", $"source",
          round((WordStats.nDistinct($"ws") / $"n_words" * 0.4 +
            (lit(1.0) - WordStats.nStop($"ws") / $"n_words") * 0.3 +
            least($"n_words" / 100.0, lit(1.0)) * 0.3) * 1e6)
            .cast("long").as("qm"))
        // read twice (stats + the outlier recount join) — the
        // word-stats kernel ran 2x unmaterialized
        .localCheckpoint()
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val stats = q.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(dec($"qm")).as("s1"),
        sum(dec($"qm") * $"qm").as("s2"))
      val joined = q.join(broadcast(stats), Seq("source"))
        .withColumn("lhs", (dec($"qm") * $"n_docs" - $"s1") *
                           (dec($"qm") * $"n_docs" - $"s1"))
        .withColumn("rhs", (dec($"n_docs") * $"s2" - $"s1" * $"s1") * 4)
      joined.groupBy($"source")
        .agg(max($"n_docs").as("n_docs"), max($"s1").as("m1"),
             max($"s2").as("m2"),
             sum(when($"lhs" > $"rhs", 1L).otherwise(0L)).as("n_outliers"))
        .select($"source", $"n_docs",
          round($"m1".cast("double") / $"n_docs" / 1e6, 6).as("mean_q"),
          round(sqrt(($"n_docs" * $"m2" - $"m1" * $"m1").cast("double"))
            / $"n_docs" / 1e6, 6).as("std_q"),
          $"n_outliers")
        .orderBy($"source")
    },

    // Leave-one-out cross-source LM scoring — the ODD-SOURCE detector a
    // data-mixing decision runs next to d22's overlap matrix: score
    // every source's documents under a bigram LM trained on ALL OTHER
    // sources, next to the same docs under their own source's LM. A
    // source whose out-of-domain NLL gap spikes is the one whose text
    // distribution diverges from the rest of the corpus (scraped wrong,
    // different language register, boilerplate farm). The k LOO models
    // are NOT k corpus passes: one (source, pw, w) count aggregate
    // yields every per-source count, and each LOO count is total minus
    // own — the subtraction trick that makes leave-one-out free at any
    // k. Smoothing uses the GLOBAL vocabulary for every model, so own
    // and LOO NLLs are comparable (documented modeling choice).
    // Determinism: t26's scheme — per-(source, pw, w) NLLs rounded ONCE
    // to integer micro-nats, per-source sums exact longs, divisions
    // only in the final projection (the gap derives from the exact
    // longs, not from the two rounded averages). Scale shape: map-only
    // tokenize; aggregates over (source, pw, w) fixed-width rows with
    // map-side combine; the score join is on the same uniform key; the
    // report is O(sources) rows.
    "t30_source_loo_nll" -> { (s, d) =>
      import s.implicits._
      val big = T.documents(s, d)
        .select($"doc_id", $"source",
          expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
        .select($"doc_id", $"source", $"toks",
          posexplode($"toks").as(Seq("p", "w")))
        .select($"doc_id", $"source",
          when($"p" === 0, lit("<s>"))
            .otherwise(element_at($"toks", $"p")).as("pw"),
          $"w")
      // tf feeds the count cascade AND the final score join, and c2s
      // feeds three aggregates — runtime exchange reuse does not fire
      // across those branches, so the tokenize + bigram-count pass ran
      // multiply; both frames are narrow fixed-width rows
      val tf = big.groupBy($"doc_id", $"source", $"pw", $"w")
        .agg(count(lit(1)).as("tf")).localCheckpoint()
      val c2s = tf.groupBy($"source", $"pw", $"w").agg(sum($"tf").as("c2s"))
        .localCheckpoint()
      val c2  = c2s.groupBy($"pw", $"w").agg(sum($"c2s").as("c2"))
      val c1s = c2s.groupBy($"source", $"pw").agg(sum($"c2s").as("c1s"))
      val c1  = c1s.groupBy($"pw").agg(sum($"c1s").as("c1"))
      val v   = c2.agg(countDistinct($"w").as("v"))
      val lms = c2s.join(c2, Seq("pw", "w")).join(c1s, Seq("source", "pw"))
        .join(c1, Seq("pw")).crossJoin(broadcast(v))
        .select($"source", $"pw", $"w",
          round(-log(($"c2s" + 1L).cast("double") / ($"c1s" + $"v")) * 1e6)
            .cast("long").as("own_nll"),
          round(-log(($"c2" - $"c2s" + 1L).cast("double") /
                     ($"c1" - $"c1s" + $"v")) * 1e6)
            .cast("long").as("loo_nll"))
      tf.join(lms, Seq("source", "pw", "w"))
        .groupBy($"source")
        .agg(countDistinct($"doc_id").as("n_docs"),
             sum($"tf").as("n_bigrams"),
             sum($"tf" * $"own_nll").as("own_sum"),
             sum($"tf" * $"loo_nll").as("loo_sum"))
        .select($"source", $"n_docs", $"n_bigrams",
          round($"own_sum".cast("double") / $"n_bigrams" / 1e6, 6)
            .as("avg_own_nll"),
          round($"loo_sum".cast("double") / $"n_bigrams" / 1e6, 6)
            .as("avg_loo_nll"),
          round(($"loo_sum" - $"own_sum").cast("double") / $"n_bigrams" / 1e6, 6)
            .as("nll_gap"))
        .orderBy($"source")
    },

    // Cross-document duplication profile — the RefinedWeb/Falcon dedup
    // DIAGNOSTIC (t11 measures repetition WITHIN a doc; this measures
    // how much of each doc is shared ACROSS docs): per doc, the
    // fraction of its distinct 5-word shingles that appear in at least
    // one other document. The number a curation run reads to decide
    // how aggressive span-level dedup (d18) needs to be. Runs over the
    // dedup family's planted-copy corpus so the signal is non-vacuous
    // (exact copies read 1.0, near-copies just under). Scale shape:
    // shingles reduce to 60-bit hashes in the projection, so both
    // aggregates and the join shuffle only (doc_id, hash) longs — text
    // never moves; the gram doc-frequency table is O(distinct grams)
    // and joins hint-free on the uniform hash key (AQE broadcasts it
    // when small). Doc-frequency counts distinct DOCS per gram, so a
    // doc repeating its own shingle never inflates its score.
    "t28_crossdoc_grams" -> { (s, d) =>
      import s.implicits._
      val grams = Dedup.corpus(s, d)
        .select($"doc_id",
          expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
        .filter(size($"toks") >= 5)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(toks) - 4), " +
            "i -> concat_ws(' ', slice(toks, i, 5)))")).as("gram"))
        .select($"doc_id", graft.Dets.phash($"gram").as("gh"))
        .distinct()
        // read twice (doc-frequency + the score join) with no runtime
        // exchange reuse — the shingle hash pass ran 2x unmaterialized
        .localCheckpoint()
      val dfreq = grams.groupBy($"gh").agg(count(lit(1)).as("df"))
      grams.join(dfreq, Seq("gh"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
             sum(when($"df" > 1, 1L).otherwise(0L)).as("n_shared"))
        .select($"doc_id", $"n_grams", $"n_shared",
          round($"n_shared".cast("double") / $"n_grams", 6).as("shared_frac"))
        .orderBy($"doc_id")
    },

    // SPAN-CORRUPTION PLAN — the T5/UL2 masked-span objective's data
    // prep: which token ranges each document masks, decided by a
    // DETERMINISTIC per-position hash (phash(doc_id:i) % 20 == 0 →
    // ~5% span starts of length 3 → ~15% of tokens masked, the T5
    // recipe) so the plan is reproducible across re-runs, shards, and
    // engines — no RNG state to ship. Overlapping spans merge into
    // exact-union islands (d25's running-max-end pass — lengths sum to
    // coverage, no double count); per doc: merged span count, masked
    // tokens, masked fraction, longest span, first start; docs the hash
    // never selects report explicit zeros. Scale shape: the position
    // explode is map-only (like d25's gram scan), only selected starts
    // (doc_id, 2 longs) reach the keyed window, report is one keyed
    // aggregate + broadcast-joinable back to the corpus.
    "t34_span_corruption" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val base = T.documents(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      val starts = base
        .select($"doc_id", $"n", explode(expr("sequence(1, n)")).as("i"))
        .filter(pmod(graft.Dets.phash(
          concat($"doc_id".cast("string"), lit(":"), $"i".cast("string"))),
          lit(20L)) === 0)
        .withColumn("e", least($"i" + 2L, $"n"))
      val w = Window.partitionBy($"doc_id").orderBy($"i")
      val prevEnd = max($"e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      val agg = starts
        .withColumn("ns",
          when(prevEnd.isNull || $"i" > prevEnd, 1L).otherwise(0L))
        .withColumn("span_id", sum($"ns").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"doc_id", $"span_id")
        .agg(min($"i").as("sp_s"), max($"e").as("sp_e"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
             sum($"sp_e" - $"sp_s" + 1L).as("masked_tokens"),
             max($"sp_e" - $"sp_s" + 1L).as("longest_span"),
             min($"sp_s").as("first_start"))
      base.join(agg, Seq("doc_id"), "left")
        .select($"doc_id", $"n".as("n_tokens"),
          coalesce($"n_spans", lit(0L)).as("n_spans"),
          coalesce($"masked_tokens", lit(0L)).as("masked_tokens"),
          (coalesce($"masked_tokens", lit(0L)) / $"n".cast("double"))
            .as("masked_frac"),
          coalesce($"longest_span", lit(0L)).as("longest_span"),
          coalesce($"first_start", lit(0L)).as("first_start"))
        .orderBy($"doc_id")
    },

    // SOURCE NOVELTY — data-value attribution, the per-source answer to
    // d22's pairwise overlap matrix (d22 says which PAIRS share
    // content; t35 says what each source brings that NO other source
    // has — the number a data buyer reads before renewing a feed, and
    // the complement of d29's redundancy deflation): of each source's
    // distinct word-3-shingle hashes, the fraction appearing in no
    // other source (cross-source df = 1), as exact integer ppm. Scale
    // shape: the shingle explode reduces to DISTINCT (source, 60-bit
    // hash) rows before any shuffle; df is ONE map-side-combined
    // count per hash; the join back is on the uniform hash key; the
    // report is one per-source aggregate — pair-free end to end, so it
    // stays linear where d22's pair expansion is k²-bounded.
    "t35_source_novelty" -> { (s, d) =>
      import s.implicits._
      import graft.functions.WordShinglePHashes.word_shingle_phashes
      graft.GraftExtensions.register(s)
      val hs = T.documents(s, d)
        .withColumn("hset", word_shingle_phashes($"text", 3))
        .filter(size($"hset") >= 1)
        .select($"source", explode($"hset").as("h"))
        .distinct()
      val df = hs.groupBy($"h").agg(count(lit(1)).as("nsrc"))
      hs.join(df, Seq("h"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_distinct"),
             sum(when($"nsrc" === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novel_ppm", expr("n_novel * 1000000 DIV n_distinct"))
        .orderBy($"source")
    },

    // OVERLAPPING CHUNKER — the window slicer every RAG index and
    // long-context pretraining pipeline runs (fixed-size chunks with
    // overlap so no boundary-straddling span is lost; t17 packs WHOLE
    // docs into sequences, d13 fingerprints NON-overlapping chunks —
    // the overlapping chunker is the third, retrieval-facing shape):
    // chunk size C=16 tokens, stride S=12 (C−S=4 overlap; constants
    // scaled to the fixture's ~30-word docs — production uses
    // 512/448 with the same arithmetic). The per-doc report pins the
    // chunking EXACTLY, not just its arithmetic: n_chunks and
    // last_fill come from the closed form, and hash_mod_sum sums each
    // chunk's 60-bit content hash (mod 1e9 — Spark wraps, DuckDB
    // raises, so the mod keeps the sum well inside BIGINT on both
    // engines, the IntL2 lesson) over the ACTUAL sliced token spans —
    // an off-by-one chunk boundary changes a hash and fails the
    // compare. Scale shape: map-only explode of O(n/S) chunk indexes
    // per doc; only (doc_id, 4 longs) reach the aggregate; bodies
    // never shuffle.
    "t36_doc_chunks" -> { (s, d) =>
      import s.implicits._
      val C = 16; val S = 12
      val base = T.documents(s, d)
        .select($"doc_id", expr("filter(split(text, ' '), x -> x <> '')").as("ws"))
        .filter(size($"ws") >= 1)
        .withColumn("n", size($"ws").cast("long"))
        .withColumn("nc", when($"n" <= C, 1L)
          .otherwise(lit(1L) + expr(s"(n - $C + ${S - 1}) DIV $S")))
      base
        .select($"doc_id", $"n", $"nc",
          explode(expr("sequence(0, nc - 1)")).as("ci"), $"ws")
        .withColumn("h", graft.Dets.phash(expr(
          s"array_join(slice(ws, ci * $S + 1, least($C, n - ci * $S)), ' ')"))
          % 1000000000L)
        .groupBy($"doc_id")
        .agg(max($"n").as("n_tokens"), max($"nc").as("n_chunks"),
             sum($"h").as("hash_mod_sum"))
        .select($"doc_id", $"n_tokens", $"n_chunks",
          ($"n_tokens" - ($"n_chunks" - 1L) * S).as("last_fill"),
          $"hash_mod_sum")
        .orderBy($"doc_id")
    },

    // DISTRIBUTION DRIFT — the content-shift monitor between corpus
    // snapshots (t29 watches QUALITY metrics drift; t39 watches what
    // the text is ABOUT: a feed that pivots topics changes its unigram
    // distribution long before its length/punctuation stats move).
    // Per source, the older half of the corpus (doc_id below the
    // midpoint — the t37 arrival-order proxy) trains an add-1 unigram
    // model and the newer half another; the newer half's tokens are
    // scored under BOTH, and the per-token gap is the empirical
    // KL-style drift in micro-nats/token (near 0 = stationary feed,
    // large = the distribution moved). Determinism is t26's scheme:
    // each model probability is rounded ONCE to integer micro-nats,
    // every sum after is exact longs; the single final division is one
    // IEEE double op identical on both engines (no integer division
    // of a possibly-negative numerator — the DIV-vs-// parity trap).
    // ONE corpus scan into a (source, word-hash) count aggregate; the
    // per-source totals are a broadcast control frame; the weighted
    // sums fold map-side — the t14/t30 shuffle bill.
    "t39_distribution_drift" -> { (s, d) =>
      import s.implicits._
      val docs = T.documents(s, d)
        .select($"source", $"doc_id",
          expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      val half = docs.agg(expr("(max(doc_id) + 1) DIV 2").as("half"))
      val words = docs.crossJoin(broadcast(half))
        .select($"source", ($"doc_id" >= $"half").as("is_new"),
                explode($"toks").as("w"))
        .select($"source", $"is_new", graft.Dets.phash($"w").as("wh"))
      val counts = words.groupBy($"source", $"wh")
        .agg(sum(when(!$"is_new", 1L).otherwise(0L)).as("c_o"),
             sum(when($"is_new", 1L).otherwise(0L)).as("c_n"))
      val tot = counts.groupBy($"source")
        .agg(sum($"c_o").as("n_o"), sum($"c_n").as("n_n"),
             count(lit(1)).as("v"))
      counts.join(broadcast(tot), Seq("source"))
        .select($"source", $"c_n", $"n_o", $"n_n", $"v",
          round(-log(($"c_o" + 1L).cast("double") / ($"n_o" + $"v")) * 1e6)
            .cast("long").as("unat_o"),
          round(-log(($"c_n" + 1L).cast("double") / ($"n_n" + $"v")) * 1e6)
            .cast("long").as("unat_n"))
        .groupBy($"source")
        .agg(max($"n_o").as("n_old_toks"), max($"n_n").as("n_new_toks"),
             max($"v").as("vocab"),
             sum($"c_n" * $"unat_o").as("nll_old_model"),
             sum($"c_n" * $"unat_n").as("nll_new_model"))
        .select($"source", $"n_old_toks", $"n_new_toks", $"vocab",
          $"nll_old_model", $"nll_new_model",
          (($"nll_old_model" - $"nll_new_model") /
            $"n_new_toks".cast("double")).as("drift_unats_per_tok"))
        .orderBy($"source")
    },

    // BOILERPLATE LINE REMOVAL — the C4/RefinedWeb cleaning rule no
    // near-dup detector covers (d02/d04 score whole documents; d18
    // needs two docs to SHARE a span pairwise — the "terms of service"
    // footer stamped on every page of a site is caught by neither: each
    // doc is unique overall, and pairwise span dedup at corpus scale
    // would emit the footer quadratically): any LINE whose document
    // frequency reaches DF_MIN is struck from every document in ONE
    // corpus-frequency pass, the exact C4 "discard any line repeated
    // across the corpus" gate. Lines here are the fixture's 8-word
    // segments (no newlines in the synthetic text; production splits on
    // '\n' with identical arithmetic) plus a planted per-source footer
    // line on every third doc — the site-template boilerplate the rule
    // exists for (df ~ 8 per source; the rule also bites naturally on
    // short tail segments, so removal is exercised beyond the plant).
    // The per-doc report pins the removal EXACTLY: kept-token count and
    // a position-weighted checksum over the kept lines — one wrongly
    // kept or dropped line fails the hash. Scale shape: one scan →
    // (doc_id, line_idx, fp, nw) longs; df is a map-side-combined
    // count-distinct-by-key on fp; the verdict joins back on fp longs;
    // line bodies never shuffle. Linear in corpus tokens at any scale —
    // this is the whole point vs pairwise span dedup.
    "t40_line_dedup" -> { (s, d) =>
      import s.implicits._
      val lines = lineInventory(T.documents(s, d))
      lineVerdict(lines, lineDf(lines))
    },

    // VOCABULARY COVERAGE TABLE — the vocab-SIZING decision in front
    // of every tokenizer build (t15 trains merges, t37 watches vocab
    // GROWTH; neither answers "how large must the vocab be to cover
    // X% of token occurrences", which is the number that sets
    // vocab_size and prices the <unk>/byte-fallback rate): for each
    // candidate size K, the fraction of ALL token occurrences covered
    // by the K most frequent words — the cumulative Zipf mass, read
    // at the exact K values a config chooses between. Scale shape:
    // one explode into a map-side-combined (word-hash) count — t14's
    // bill, sublinear as distinct words saturate; each K row is a
    // TakeOrderedAndProject over the VOCABULARY-sized frame (top-K
    // heap per partition + K-row merge, never a global sort or a
    // global window — the s17 lesson) + one sum; totals are a 1-row
    // broadcast. All counts integer; coverage is one IEEE division.
    "t41_vocab_coverage" -> { (s, d) =>
      import s.implicits._
      val wc = T.documents(s, d)
        .select(explode(expr("filter(split(text, ' '), x -> x <> '')"))
          .as("w"))
        .select(graft.Dets.phash($"w").as("wh"))
        .groupBy($"wh").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val tot = wc.agg(sum($"c").as("total_tokens"),
                       count(lit(1)).as("vocab_size"))
      Seq(16, 64, 256, 1024).map { k =>
        wc.orderBy($"c".desc, $"wh").limit(k)
          .agg(coalesce(sum($"c"), lit(0L)).as("covered_tokens"))
          .crossJoin(broadcast(tot))
          .select(lit(k).cast("int").as("k"), $"vocab_size",
            $"total_tokens", $"covered_tokens",
            ($"covered_tokens" / $"total_tokens".cast("double"))
              .as("coverage"))
      }.reduce(_ unionByName _).orderBy($"k")
    },

    // ENCODING-HEALTH AUDIT — the mojibake gate every web-scale corpus
    // runs BEFORE tokenization (filling the t42 slot the round-14
    // registry skipped): broken decode chains (latin-1 read as utf-8,
    // double-encoding, lossy transcodes) leave three distinct scars —
    // C0 control characters that legitimate text never contains
    // (excluding \t\n\r), U+FFFD replacement characters (the decoder's
    // own "I lost a byte" marker, the strongest signal), and unusual
    // non-ASCII density for a source that is otherwise ASCII. A
    // tokenizer trained over such scars mints garbage merges, so the
    // gate runs first and per SOURCE (encoding bugs are feed-level,
    // not doc-level). The synthetic corpus is pure ASCII, so each scar
    // class is PLANTED deterministically (%23 control, %29 U+FFFD,
    // %31 accented letters — co-divisible ids carry several, which the
    // per-class doc counts must keep separate). Counts are char-count
    // differences after class-targeted strips — length() is CODE
    // POINTS in both engines, so the arithmetic is cross-engine exact;
    // ascii_ppm is one integer division. Scale shape: map-only scan →
    // 6-long partials per source; text never leaves the scan (t03's
    // bill).
    "t42_encoding_audit" -> { (s, d) =>
      import s.implicits._
      val scarred = T.documents(s, d).select($"doc_id", $"source",
        concat($"text",
          when($"doc_id" % 23 === 0, lit("\u0007x")).otherwise(lit("")),
          when($"doc_id" % 29 === 0, lit(" caf�")).otherwise(lit("")),
          when($"doc_id" % 31 === 0, lit(" café naïve"))
            .otherwise(lit(""))).as("text"))
      scarred
        .select($"source",
          length($"text").cast("long").as("chars"),
          (length($"text") - length(regexp_replace($"text",
            lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"), lit(""))))
            .cast("long").as("n_ctrl"),
          (length($"text") - length(regexp_replace($"text",
            lit("�"), lit("")))).cast("long").as("n_fffd"),
          (length($"text") - length(regexp_replace($"text",
            lit("[^\\x00-\\x7F]"), lit("")))).cast("long").as("n_nonascii"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"n_ctrl" > 0L, 1L).otherwise(0L)).as("n_ctrl_docs"),
          sum(when($"n_fffd" > 0L, 1L).otherwise(0L)).as("n_fffd_docs"),
          sum(when($"n_nonascii" > 0L, 1L).otherwise(0L))
            .as("n_nonascii_docs"),
          sum($"n_nonascii").as("nonascii_chars"),
          expr("(sum(chars) - sum(n_nonascii)) * 1000000 DIV sum(chars)")
            .as("ascii_ppm"))
        .orderBy($"source")
    },

    // CONTEXT-LENGTH COST TABLE — the config decision every SFT/
    // retrieval training run makes before t17-style packing is even an
    // option (when documents must NOT cross sequence boundaries — chat
    // turns, contrastive pairs, reranker inputs — each doc gets one
    // padded-to-L sequence and overlong docs truncate): for each
    // candidate L, the padding waste, the truncation loss, and the
    // utilization — pad_tokens = Σ (L − min(len,L)), trunc_tokens =
    // Σ max(len−L, 0), util_ppm = Σ min(len,L)·1e6 DIV (n_docs·L).
    // Raising L trades truncation for padding; the table shows the
    // crossover, which is the number that sets max_seq_len. L values
    // fixture-scaled {16, 32, 64} around the ~30-word docs (production
    // sweeps 512/1k/2k/4k with identical arithmetic). ONE corpus scan:
    // per-doc token counts fold into three conditional aggregates per
    // L via a 3-row explode — map-side combined, O(L-candidates) rows
    // ever shuffle; text never leaves the scan.
    "t38_context_length_plan" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d)
        .select(size(expr("filter(split(text, ' '), x -> x <> '')"))
          .cast("long").as("len"))
        .select($"len", explode(expr("array(16L, 32L, 64L)")).as("seq_len"))
        .groupBy($"seq_len")
        .agg(count(lit(1)).as("n_docs"),
             sum(when($"len" <= $"seq_len", 1L).otherwise(0L)).as("n_fit"),
             sum(when($"len" > $"seq_len", 1L).otherwise(0L))
               .as("n_truncated"),
             sum($"seq_len" - least($"len", $"seq_len")).as("pad_tokens"),
             sum(greatest($"len" - $"seq_len", lit(0L))).as("trunc_tokens"),
             sum(least($"len", $"seq_len")).as("kept_tokens"))
        .select($"seq_len", $"n_docs", $"n_fit", $"n_truncated",
          $"pad_tokens", $"trunc_tokens",
          expr("kept_tokens * 1000000 DIV (n_docs * seq_len)")
            .as("util_ppm"))
        .orderBy($"seq_len")
    },

    // VOCABULARY-GROWTH AUDIT (Heaps' law) — the "is this source still
    // generating novel text or just templating" curve, the longitudinal
    // complement of t35's cross-source novelty: per source, cumulative
    // distinct word types vs cumulative tokens at the 25/50/75/100%
    // document checkpoints (documents ordered by doc_id — the
    // deterministic ingestion-order proxy). Natural text keeps minting
    // types sublinearly (Heaps V ~ n^β, β≈0.5 — new_types decays but
    // never dies); a templated/synthetic feed saturates hard (late
    // quartiles mint ~nothing) — the signal a data buyer reads NEXT to
    // t35's novelty ppm before renewing a feed. Exactly one corpus
    // pass, no cumulative-distinct state: a type is new at the quartile
    // of its FIRST occurrence, so min(first-rank) per (source, word)
    // folds map-side, quartile binning is a CASE against the broadcast
    // per-source doc counts, and the cumulative sums ride a 4-row-per-
    // source control frame (keyed window, never the corpus). The rank
    // window itself sorts only (source, doc_id, ntok) control rows —
    // text never enters an exchange; the (doc_id, 60-bit hash) explode
    // is the t28/t35 shuffle bill.
    "t37_vocab_growth" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = T.documents(s, d)
        .select($"source", $"doc_id",
          expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      val rk = docs.select($"source", $"doc_id", size($"toks").as("ntok"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"source").orderBy($"doc_id")).cast("long"))
      val nsrc = rk.groupBy($"source").agg(max($"rk").as("n_docs"))
      def qbin(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(c <= expr("(n_docs + 3) DIV 4"), 1L)
          .when(c <= expr("(n_docs * 2 + 3) DIV 4"), 2L)
          .when(c <= expr("(n_docs * 3 + 3) DIV 4"), 3L)
          .otherwise(4L)
      val tokBins = rk.join(broadcast(nsrc), Seq("source"))
        .select($"source", qbin($"rk").as("quartile"), $"ntok")
        .groupBy($"source", $"quartile")
        .agg(sum($"ntok".cast("long")).as("btok"))
      val firstRk = docs
        .select($"source", $"doc_id", explode($"toks").as("w"))
        .select($"source", $"doc_id", graft.Dets.phash($"w").as("wh"))
        .distinct()
        .join(rk.select($"source", $"doc_id", $"rk"), Seq("source", "doc_id"))
        .groupBy($"source", $"wh").agg(min($"rk").as("frk"))
      val typeBins = firstRk.join(broadcast(nsrc), Seq("source"))
        .select($"source", qbin($"frk").as("quartile"))
        .groupBy($"source", $"quartile").agg(count(lit(1)).as("btype"))
      val scaffold = nsrc
        .select($"source", $"n_docs", explode(expr("sequence(1, 4)")).as("qi"))
        .select($"source", $"n_docs", $"qi".cast("long").as("quartile"))
        .withColumn("cp_docs", expr("(quartile * n_docs + 3) DIV 4"))
      val wq = Window.partitionBy($"source").orderBy($"quartile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scaffold
        .join(tokBins, Seq("source", "quartile"), "left")
        .join(typeBins, Seq("source", "quartile"), "left")
        .na.fill(0L, Seq("btok", "btype"))
        .withColumn("cum_tokens", sum($"btok").over(wq))
        .withColumn("cum_types", sum($"btype").over(wq))
        .select($"source", $"quartile", $"n_docs", $"cp_docs",
          $"cum_tokens", $"cum_types", $"btype".as("new_types"),
          when($"cum_tokens" === 0L, 0L)
            .otherwise(expr("cum_types * 1000000 DIV cum_tokens"))
            .as("ttr_ppm"))
        .orderBy($"source", $"quartile")
    }
  )

  /** t26's per-doc score frame (doc_id, n_bigrams, avg_nll), unordered —
    * shared by the registry entry and t27's curriculum ranking. See the
    * t26 registry comment for the one-pass/exchange-reuse rationale.
    */
  private[graft] def bigramScores(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = T.documents(s, d)
      .select($"doc_id",
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select($"doc_id", $"toks", posexplode($"toks").as(Seq("p", "w")))
      .select($"doc_id",
        when($"p" === 0, lit("<s>"))
          .otherwise(element_at($"toks", $"p")).as("pw"),
        $"w")
    // ONE corpus pass: the per-doc tf aggregate is computed first and
    // the whole LM derives from it (c2 = sum of tf over docs, c1 from
    // c2, V from c2) — the tokenize+explode subtree appears twice in
    // the plan canonically identical (tf feeds both the LM build and
    // the probe side), so AQE reuses its exchange instead of
    // re-reading the corpus three times (same-boot warm A/B: 3.4 → 1.7 s)
    // tf feeds the LM counts AND the final score join; c2 feeds three
    // aggregates — materialize both so the tokenize + count pass runs
    // once (no runtime exchange reuse across the branches)
    val tf = big.groupBy($"doc_id", $"pw", $"w").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val c2 = tf.groupBy($"pw", $"w").agg(sum($"tf").as("c2"))
      .localCheckpoint()
    val c1 = c2.groupBy($"pw").agg(sum($"c2").as("c1"))
    val v  = c2.agg(countDistinct($"w").as("v"))
    val lm = c2.join(c1, Seq("pw")).crossJoin(broadcast(v))
      .select($"pw", $"w",
        round(-log(($"c2" + 1L).cast("double") / ($"c1" + $"v")) * 1e6)
          .cast("long").as("nll_micro"))
    tf.join(lm, Seq("pw", "w"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_bigrams"), sum($"tf" * $"nll_micro").as("nll_sum"))
      .select($"doc_id", $"n_bigrams",
        round($"nll_sum".cast("double") / $"n_bigrams" / 1e6, 6).as("avg_nll"))
  }

  /** t16's selection rule: rank docs per source by the deterministic
    * hash (phash("cap:" + doc_id), doc_id) and keep the first `cap` —
    * selection is a pure function of the doc SET, never of arrival
    * order.
    */
  private def domainCapKeep(docs: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .withColumn("rk", graft.Dets.phash(
        concat(lit("cap:"), col("doc_id").cast("string"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))))
      .filter(col("rn") <= cap)
  }

  /** t40's DF_MIN: a line repeated across this many docs is boilerplate. */
  private val LineDfMin = 4

  /** t40's line inventory over any (doc_id, source, text) frame: 8-word
    * segments plus the planted per-source footer on every third doc,
    * reduced to (doc_id, li, fp, nw) longs — text never leaves this
    * function.
    */
  private def lineInventory(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"),
        expr("filter(split(text, ' '), x -> x <> '')").as("ws"))
      .filter(size(col("ws")) >= 1)
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("nl", expr("(n + 7) DIV 8"))
    val natural = base
      .select(col("doc_id"), explode(expr("sequence(0, nl - 1)")).as("li"),
        col("n"), col("ws"))
      .select(col("doc_id"), col("li"), expr(
        "array_join(slice(ws, li * 8 + 1, least(8, n - li * 8)), ' ')")
        .as("line"))
    val planted = base.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("nl").as("li"),
        concat(lit("all rights reserved see terms at www dot "),
          col("source")).as("line"))
    natural.unionByName(planted)
      .select(col("doc_id"), col("li"), graft.Dets.phash(col("line")).as("fp"),
        size(expr("filter(split(line, ' '), x -> x <> '')")).cast("long")
          .as("nw"))
  }

  /** Corpus line-document-frequency over an inventory: df(fp) =
    * distinct docs containing the line.
    */
  private def lineDf(lines: DataFrame): DataFrame =
    lines.select(col("fp"), col("doc_id")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))

  /** t40's per-doc verdict over an inventory and its df table — kept-
    * token count and position-weighted checksum over surviving lines.
    */
  private def lineVerdict(lines: DataFrame, df: DataFrame): DataFrame =
    lines.join(df, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("df") >= LineDfMin, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("df") < LineDfMin, col("nw")).otherwise(0L))
          .as("toks_kept"),
        sum(when(col("df") < LineDfMin,
          (col("li") + 1L) * (col("fp") % 1000000000L)).otherwise(0L))
          .as("chk_kept"))
      .orderBy(col("doc_id"))

  /** The raw (doc_id, n_feats, logit_milli) frame behind t23 — exposed
    * so t45's threshold sweep prices the SAME model's knob. */
  private[graft] def classifierLogits(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val D = 65536L
    val weights = s.range(D).select($"id".as("j"),
      (graft.Dets.phash(concat(lit("w:"), $"id".cast("string"))) % 2001L
        - 1000L).as("w_milli"))
    val grams = docs
      .select($"doc_id",
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select($"doc_id", explode(concat($"toks",
        expr("""zip_with(toks, slice(toks, 2, greatest(size(toks) - 1, 0)),
                         (a, b) -> concat(a, '_', b))"""))).as("g"))
      .filter($"g".isNotNull)
      .select($"doc_id",
        (graft.Dets.phash(concat(lit("f:"), $"g")) % D).as("j"))
    grams.join(broadcast(weights), Seq("j"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"),
           sum($"w_milli").as("logit_milli"))
  }

  /** t23's scoring transform over any (doc_id, text) frame — factored
    * out so the SAME function runs under `readStream` (classifier
    * inference is the curation stage most often deployed as a stream:
    * score documents as they arrive, no corpus-wide state). Map-only
    * gram hashing + a broadcast O(D) model + one keyed partial-agg
    * reduce — nothing here is batch-bound; StreamingSpec pins the
    * micro-batched run bit-equal to the batch registry entry.
    */
  private[graft] def classifierScore(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    classifierLogits(docs)
      .select($"doc_id", $"n_feats",
        round($"logit_milli".cast("double") / $"n_feats" / 1000.0, 6)
          .as("mean_logit"),
        when($"logit_milli" > 0, lit("keep")).otherwise(lit("cut"))
          .as("label"))
  }

  /** t25's full pool-score frame (every non-target doc, unranked) —
    * the query ranks it (score desc, doc_id) and keeps the top 100 via
    * TakeOrderedAndProject; OperatorSpec re-ranks this frame in Scala
    * and pins the selected set. See the registry entry for the scale
    * rationale.
    */
  private[graft] def dsirScores(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 1024L
    val wf = T.documents(s, d)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .select($"doc_id", $"lang",
        (graft.Dets.phash(concat(lit("d:"), $"w")) % B).as("j"))
    val tgt  = wf.filter($"lang" === "en")
    val pool = wf.filter($"lang" =!= "en")
    val tTot = tgt.agg(count(lit(1)).as("nt"))
    val rTot = pool.agg(count(lit(1)).as("nr"))
    // full B-row axis (not just observed buckets): a pool word hashed
    // into a bucket the target never hit still needs its smoothed lambda
    val lam = s.range(B).select($"id".as("j"))
      .join(tgt.groupBy($"j").agg(count(lit(1)).as("ct")), Seq("j"), "left")
      .join(pool.groupBy($"j").agg(count(lit(1)).as("cr")), Seq("j"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select($"j", round((
        log((coalesce($"ct", lit(0L)) + 1L).cast("double") / ($"nt" + B)) -
        log((coalesce($"cr", lit(0L)) + 1L).cast("double") / ($"nr" + B))
        ) * 1e6).cast("long").as("lam_micro"))
    pool.groupBy($"doc_id", $"lang", $"j").agg(count(lit(1)).as("tf"))
      .join(broadcast(lam), Seq("j"))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"tf").as("n_words"), sum($"tf" * $"lam_micro").as("w_sum"))
      .select($"doc_id", $"lang", $"n_words",
        round($"w_sum".cast("double") / $"n_words" / 1e6, 6).as("avg_w"))
  }

  /** One unrolled BPE round for the oracle: pc$i (pair counts over
    * wf${i-1}), top$i (argmax merge), wf$i (greedy left-to-right merge
    * applied) — the DuckDB mirror of [[bpePairCounts]]/[[bpeApplyMerge]].
    */
  private def bpeOracleRound(i: Int): String = {
    val prev = s"wf${i - 1}"
    s"""pc$i AS (
       |  SELECT pair, SUM(freq) AS n FROM (
       |    SELECT freq, unnest(list_transform(range(1, len(syms)),
       |      i -> syms[CAST(i AS INT)] || ' ' || syms[CAST(i + 1 AS INT)]))
       |      AS pair
       |    FROM (SELECT freq, string_split(seq, ' ') AS syms FROM $prev)
       |    WHERE len(syms) >= 2)
       |  GROUP BY pair),
       |top$i AS (SELECT pair, CAST(n AS BIGINT) AS n FROM pc$i
       |          ORDER BY n DESC, pair LIMIT 1),
       |wf$i AS (
       |  SELECT w, freq,
       |    array_to_string(list_filter(list_transform(range(1, len(syms) + 1),
       |      i -> CASE WHEN m[CAST(i AS INT)] THEN replace(pair, ' ', '')
       |                WHEN i > 1 AND m[CAST(greatest(i - 1, 1) AS INT)]
       |                  THEN NULL
       |                ELSE syms[CAST(i AS INT)] END),
       |      x -> x IS NOT NULL), ' ') AS seq
       |  FROM (
       |    SELECT w, freq, syms, pair,
       |      list_transform(range(1, len(syms) + 1), i ->
       |        i < len(syms)
       |        AND syms[CAST(i AS INT)] = pa
       |        AND syms[CAST(least(i + 1, len(syms)) AS INT)] = pb
       |        AND (pa <> pb OR
       |             ((i - coalesce(list_max(list_filter(range(1, i + 1),
       |                 j -> syms[CAST(j AS INT)] <> pa)), 0)) % 2 = 1)))
       |        AS m
       |    FROM (SELECT w, freq, string_split(seq, ' ') AS syms, pair,
       |            string_split(pair, ' ')[1] AS pa,
       |            string_split(pair, ' ')[2] AS pb
       |          FROM $prev, top$i)))""".stripMargin
  }

  /** The full t15 training oracle at any unroll depth: wf0 + `rounds`
    * chained merge rounds + per-round vocab/total stats, one output
    * row per round. t15 (rounds = 2, the lazy-parity pin) and t15b
    * (rounds = 4, the eager production path) run the same builder, so
    * deepening the check never forks the SQL mirror.
    */
  private def bpeTrainOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map(bpeOracleRound).mkString(",\n")
    val vsCtes = (1 to rounds).map { i =>
      s"""vs$i AS (SELECT COUNT(DISTINCT s) AS vocab,
         |          CAST(SUM(freq) AS BIGINT) AS total_tokens
         |        FROM (SELECT freq, unnest(string_split(seq, ' ')) AS s
         |              FROM wf$i))""".stripMargin
    }.mkString(",\n")
    val sels = (1 to rounds).map { i =>
      s"SELECT $i AS round, pair, n, vocab, total_tokens FROM top$i, vs$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH wf0 AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
       |    array_to_string(list_transform(range(1, len(w) + 1),
       |      i -> w[CAST(i AS INT):CAST(i AS INT)]), ' ') AS seq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |$roundCtes,
       |$vsCtes
       |$sels
       |ORDER BY round""".stripMargin
  }

  /** The t18 encode oracle at any unroll depth: the same chained merge
    * rounds as [[bpeTrainOracleSql]], with the final round's word table
    * read as the (word → token count) vocabulary.
    */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map(bpeOracleRound).mkString(",\n")
    s"""WITH wf0 AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
       |    array_to_string(list_transform(range(1, len(w) + 1),
       |      i -> w[CAST(i AS INT):CAST(i AS INT)]), ' ') AS seq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |$roundCtes,
       |vocab AS (
       |  SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS w_toks
       |  FROM wf$rounds),
       |dw AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |    FROM documents) WHERE w <> '')
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(w_toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(w_toks) AS DOUBLE) / COUNT(*) AS tokens_per_word
       |FROM dw JOIN vocab USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "t15_bpe_train" -> bpeTrainOracleSql(2),

    "t15b_bpe_train_r4" -> bpeTrainOracleSql(4),

    "t15c_bpe_train_r8" -> bpeTrainOracleSql(8),

    "t18_bpe_encode" -> bpeEncodeOracleSql(2),

    "t18b_bpe_encode_r4" -> bpeEncodeOracleSql(4),

    "t31_tokenizer_health" -> {
      val roundCtes = (1 to 2).map(bpeOracleRound).mkString(",\n")
      s"""WITH wf0 AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         |    array_to_string(list_transform(range(1, len(w) + 1),
         |      i -> w[CAST(i AS INT):CAST(i AS INT)]), ' ') AS seq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '' GROUP BY w),
         |$roundCtes,
         |vocab AS (
         |  SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS w_toks
         |  FROM wf2),
         |dw AS (
         |  SELECT source, w FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS w
         |    FROM documents) WHERE w <> '')
         |SELECT source, COUNT(*) AS n_words,
         |  CAST(SUM(w_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(len(w)) AS BIGINT) AS n_chars,
         |  CAST(SUM(CASE WHEN w_toks = len(w) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unmerged,
         |  CAST(SUM(w_toks) AS DOUBLE) / COUNT(*) AS fertility,
         |  CAST(SUM(len(w)) AS DOUBLE) / CAST(SUM(w_toks) AS DOUBLE)
         |    AS chars_per_token,
         |  CAST(SUM(CASE WHEN w_toks = len(w) THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS unmerged_frac
         |FROM dw JOIN vocab USING (w)
         |GROUP BY source ORDER BY source""".stripMargin
    },
    "t32_quality_rules" ->
      """WITH wc AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY doc_id, w),
        |st AS (
        |  SELECT doc_id,
        |    CAST(SUM(c) AS BIGINT) AS n_words,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(MAX(c) AS BIGINT) AS max_c,
        |    CAST(SUM(c * len(w)) AS BIGINT) AS sum_wchars,
        |    CAST(SUM(CASE WHEN w IN ('a', 'the') THEN c ELSE 0 END)
        |         AS BIGINT) AS n_stop
        |  FROM wc GROUP BY doc_id),
        |r AS (
        |  SELECT doc_id, n_words, n_distinct, max_c,
        |    n_words < 15 AS r_short,
        |    sum_wchars * 10 > n_words * 50 AS r_longwords,
        |    max_c * 8 > n_words AS r_repeat,
        |    n_distinct * 5 < n_words * 2 AS r_lowttr,
        |    n_stop = 0 AS r_nostop
        |  FROM st)
        |SELECT doc_id, n_words, n_distinct, max_c,
        |  r_short, r_longwords, r_repeat, r_lowttr, r_nostop,
        |  CAST(CASE WHEN r_short THEN 1 ELSE 0 END
        |     + CASE WHEN r_longwords THEN 1 ELSE 0 END
        |     + CASE WHEN r_repeat THEN 1 ELSE 0 END
        |     + CASE WHEN r_lowttr THEN 1 ELSE 0 END
        |     + CASE WHEN r_nostop THEN 1 ELSE 0 END AS BIGINT) AS n_failed,
        |  NOT (r_short OR r_longwords OR r_repeat OR r_lowttr OR r_nostop)
        |    AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "t33_mixture_temperature" ->
      """WITH n AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY source),
        |sc AS (
        |  SELECT source, n_words,
        |    CAST(round(sqrt(sqrt(CAST(n_words AS DOUBLE))) * 1e6)
        |         AS BIGINT) AS u25,
        |    CAST(round(sqrt(CAST(n_words AS DOUBLE)) * 1e6)
        |         AS BIGINT) AS u50,
        |    CAST(round(sqrt(CAST(n_words AS DOUBLE) *
        |           sqrt(CAST(n_words AS DOUBLE))) * 1e6)
        |         AS BIGINT) AS u75
        |  FROM n),
        |tot AS (
        |  SELECT CAST(SUM(n_words) AS BIGINT) AS n_tot,
        |    CAST(SUM(u25) AS BIGINT) AS t25,
        |    CAST(SUM(u50) AS BIGINT) AS t50,
        |    CAST(SUM(u75) AS BIGINT) AS t75
        |  FROM sc)
        |SELECT source, n_words,
        |  n_words / CAST(n_tot AS DOUBLE) AS share,
        |  u25 / CAST(t25 AS DOUBLE) AS w_a25,
        |  u50 / CAST(t50 AS DOUBLE) AS w_a50,
        |  u75 / CAST(t75 AS DOUBLE) AS w_a75,
        |  u50 * n_tot / CAST(t50 * n_words AS DOUBLE) AS epochs_a50
        |FROM sc, tot ORDER BY source""".stripMargin,
    "t01_langid" -> t01Sql,

    // t43: t01's oracle as a CTE, aggregated to the confusion matrix.
    "t43_langid_confusion" ->
      s"""WITH t01 AS ($t01Sql),
         |conf AS (
         |  SELECT lang, predicted, COUNT(*) AS n_docs
         |  FROM t01 GROUP BY lang, predicted),
         |tot AS (SELECT lang, COUNT(*) AS n_true FROM t01 GROUP BY lang)
         |SELECT c.lang, c.predicted, c.n_docs, t.n_true,
         |  c.n_docs / CAST(t.n_true AS DOUBLE) AS share
         |FROM conf c JOIN tot t USING (lang)
         |ORDER BY lang, predicted""".stripMargin,

    // t44: the identical PMI arithmetic (same left-associated double
    // expression, same micro-nat rounding) over DuckDB's tokenizer.
    "t44_pmi_collocations" ->
      """WITH arrs AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |uni AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(ws) AS w FROM arrs) z GROUP BY w),
        |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
        |pr AS (
        |  SELECT ws[CAST(i - 1 AS INT)] AS x, ws[CAST(i AS INT)] AS y
        |  FROM (SELECT ws, unnest(range(1, len(ws) + 1)) AS i FROM arrs) z
        |  WHERE i >= 2),
        |pc AS (SELECT x, y, COUNT(*) AS c_xy FROM pr GROUP BY x, y),
        |np AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_pairs FROM pc)
        |SELECT p.x, p.y, p.c_xy, ux.c AS c_x, uy.c AS c_y,
        |  CAST(round(ln(CAST(p.c_xy AS DOUBLE) * n_uni * n_uni /
        |    (CAST(n_pairs AS DOUBLE) * ux.c * uy.c)) * 1e6) AS BIGINT)
        |    AS pmi_micro
        |FROM pc p JOIN uni ux ON ux.w = p.x JOIN uni uy ON uy.w = p.y,
        |  nu, np
        |WHERE p.c_xy >= 5
        |ORDER BY pmi_micro DESC, x, y
        |LIMIT 20""".stripMargin,

    "t02_quality_score" ->
      """WITH w AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS words,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |r AS (
        |  SELECT doc_id, lang, n_words,
        |    len(list_distinct(words)) / n_words AS ttr,
        |    len(list_filter(words, w -> w = 'the' OR w = 'a')) / n_words AS stop_ratio,
        |    least(n_words / 100.0, 1.0) AS len_sat
        |  FROM w)
        |SELECT doc_id, lang, n_words, ttr, stop_ratio, len_sat,
        |  ttr * 0.4 + (1.0 - stop_ratio) * 0.3 + len_sat * 0.3 AS quality
        |FROM r ORDER BY doc_id""".stripMargin,

    "t03_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
        |    AS re_tokens,
        |  CAST(ceil(length(text) / 3.5) AS BIGINT) AS est_bpe_tokens,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t05_stratified_sample" ->
      s"""SELECT lang, COUNT(*) AS n_kept
         |FROM documents
         |WHERE ${graft.Dets.phashSql("'sample:' || CAST(doc_id AS VARCHAR)")} % 100
         |      < CASE WHEN lang = 'en' THEN 20 ELSE 50 END
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // Exact totals + TRUE for the flag: the Misra–Gries guarantee (any
    // item with count > N/(k+1) survives every merge order) makes the
    // containment deterministically true.
    "t07_heavy_hitters" ->
      """WITH words AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
        |  WHERE lang IS NOT NULL),
        |tot AS (SELECT lang, COUNT(*) AS n_words FROM words GROUP BY lang),
        |cnts AS (SELECT lang, word, COUNT(*) AS cnt FROM words GROUP BY lang, word),
        |heavy AS (
        |  SELECT c.lang, COUNT(*) AS n_heavy
        |  FROM cnts c JOIN tot t USING (lang)
        |  WHERE c.cnt * 65 > t.n_words GROUP BY c.lang)
        |SELECT t.lang, t.n_words, COALESCE(h.n_heavy, 0) AS n_heavy,
        |  TRUE AS all_heavy_found
        |FROM tot t LEFT JOIN heavy h USING (lang)
        |ORDER BY lang""".stripMargin,

    "t06_ngram_topk" ->
      """WITH bigrams AS (
        |  SELECT lang, unnest(list_transform(range(0, len(words) - 1),
        |    i -> words[i+1] || '_' || words[i+2])) AS bigram
        |  FROM (SELECT lang, string_split(text, ' ') AS words FROM documents)
        |  WHERE len(words) >= 2),
        |counted AS (
        |  SELECT lang, bigram, COUNT(*) AS n FROM bigrams GROUP BY lang, bigram),
        |ranked AS (
        |  SELECT lang, bigram, n, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY n DESC, bigram) AS INT) AS rk
        |  FROM counted)
        |SELECT lang, rk, bigram, n FROM ranked WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    "t10_winnow_fingerprint" ->
      s"""WITH ${winnowCtesSql("documents", "", 8)}
         |SELECT doc_id, CAST(len(fps) AS INT) AS n_fps, fps[1] AS fp_min,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
         |              (a, x) -> xor(a, x)) AS fp_xor
         |FROM m ORDER BY doc_id""".stripMargin,

    "d09_winnow_neardup" ->
      s"""WITH d09corpus AS ($d09CorpusSql),
         |${winnowCtesSql("d09corpus", "", 32)},
         |capv AS (SELECT ${d09CapExpr("COUNT(*)")} AS cap FROM d09corpus),
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM m),
         |rare AS (SELECT fp FROM e GROUP BY fp
         |         HAVING COUNT(*) <= (SELECT cap FROM capv)),
         |kept AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp))
         |SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS n_shared
         |FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 3
         |ORDER BY d1, d2""".stripMargin,

    "t04_fingerprint" ->
      """WITH fps AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |      AS fp
        |  FROM documents)
        |SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n_same
        |FROM fps ORDER BY doc_id""".stripMargin,

    "t09_clean_pipeline" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    len(string_split(text, ' ')) AS n_words,
         |    len(list_distinct(string_split(text, ' ')))
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
         |    len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a'))
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
         |    least(len(string_split(text, ' ')) / 100.0, 1.0) AS len_sat
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= 1),
         |flags AS (
         |  SELECT lang,
         |    (ttr * 0.4 + (1.0 - stop_ratio) * 0.3 + len_sat * 0.3) >= 0.5 AS q_ok,
         |    n_words BETWEEN 5 AND 2000 AS len_ok,
         |    ${graft.Dets.phashSql("'sample:' || CAST(doc_id AS VARCHAR)")} % 100
         |      < 30 AS sampled
         |  FROM scored)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN NOT q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_q_fail,
         |  CAST(SUM(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_fail,
         |  CAST(SUM(CASE WHEN q_ok AND len_ok AND sampled THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_kept
         |FROM flags GROUP BY lang ORDER BY lang""".stripMargin,

    "t08_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |t AS (SELECT * FROM terms WHERE w <> ''),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM t GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, w FROM t) GROUP BY w),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.w, tf.tf, df.df,
        |    round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)), 6)
        |      AS tfidf
        |  FROM tf JOIN df ON tf.w = df.w, n
        |  WHERE tf.doc_id % 50 = 0),
        |ranked AS (
        |  SELECT doc_id, w, tf, df, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, w) AS rk
        |  FROM scored)
        |SELECT doc_id, CAST(rk AS INT) AS rk, w, tf, df, tfidf
        |FROM ranked WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "t11_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT doc_id, n_words, words,
        |    list_transform(range(1, len(words)),
        |      i -> words[i] || '_' || words[i+1]) AS grams2,
        |    list_transform(range(1, len(words) - 1),
        |      i -> words[i] || '_' || words[i+1] || '_' || words[i+2]) AS grams3
        |  FROM w),
        |e AS (
        |  SELECT doc_id, n_words, grams2, grams3,
        |    list_filter(range(1, len(sorted) + 1), i -> i = len(sorted) OR
        |      sorted[CAST(i AS INT)] <>
        |      sorted[CAST(least(i + 1, len(sorted)) AS INT)]) AS ends
        |  FROM (SELECT doc_id, n_words, grams2, grams3,
        |          list_sort(words) AS sorted FROM g)),
        |r AS (
        |  SELECT doc_id, n_words,
        |    1.0 - CAST(len(list_distinct(grams2)) AS DOUBLE) / len(grams2)
        |      AS dup_2gram_frac,
        |    1.0 - CAST(len(list_distinct(grams3)) AS DOUBLE) / len(grams3)
        |      AS dup_3gram_frac,
        |    CAST(list_max(list_transform(range(1, len(ends) + 1),
        |      j -> ends[CAST(j AS INT)] -
        |           CASE WHEN j = 1 THEN 0 ELSE ends[CAST(j - 1 AS INT)] END))
        |      AS DOUBLE) / n_words AS top_word_frac
        |  FROM e)
        |SELECT doc_id, n_words, dup_2gram_frac, dup_3gram_frac, top_word_frac,
        |  dup_2gram_frac > 0.3 OR top_word_frac > 0.2 AS repetitive
        |FROM r ORDER BY doc_id""".stripMargin,

    "t12_pii_scrub" -> {
      val email = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
      val phone = "555-[0-9]{4}"
      val ip = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
      s"""WITH p AS (
         |  SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR)
         |    || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com'
         |    || CASE WHEN doc_id % 3 = 0
         |            THEN ' cc a' || CAST(doc_id AS VARCHAR) || '@alt.org'
         |            ELSE '' END
         |    || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS pii_text
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, pii_text,
         |    regexp_replace(regexp_replace(regexp_replace(pii_text,
         |      '$email', '<EMAIL>', 'g'),
         |      '$phone', '<PHONE>', 'g'),
         |      '$ip', '<IP>', 'g') AS scrubbed
         |  FROM p)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, '$email')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(pii_text, '$phone')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(regexp_extract_all(pii_text, '$ip')) AS BIGINT) AS n_ips,
         |  md5(scrubbed) AS scrubbed_md5,
         |  len(regexp_extract_all(scrubbed, '$email')) = 0
         |    AND len(regexp_extract_all(scrubbed, '$phone')) = 0
         |    AND len(regexp_extract_all(scrubbed, '$ip')) = 0 AS clean
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "t13_domain_mix" ->
      s"""WITH counts AS (
         |  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
         |tot AS (SELECT SUM(n_src) AS n_tot, COUNT(*) AS n_sources FROM counts),
         |rates AS (
         |  SELECT source, n_src,
         |    CAST(least(1000000, (n_tot * 1000000) // (n_sources * n_src))
         |         AS BIGINT) AS rate_ppm
         |  FROM counts, tot),
         |kept AS (
         |  SELECT d.source, r.n_src, r.rate_ppm
         |  FROM documents d JOIN rates r USING (source)
         |  WHERE ${graft.Dets.phashSql("'mix:' || CAST(doc_id AS VARCHAR)")}
         |        % 1000000 < r.rate_ppm)
         |SELECT source, max(n_src) AS n_before, max(rate_ppm) AS rate_ppm,
         |  COUNT(*) AS n_kept
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,

    "t14_unigram_nll" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wf AS (SELECT * FROM words WHERE w <> ''),
        |n AS (SELECT COUNT(*) AS n_tot FROM wf),
        |vocab AS (
        |  SELECT w, CAST(round(-ln(CAST(COUNT(*) AS DOUBLE) / n.n_tot) * 1e6)
        |              AS BIGINT) AS nll_micro
        |  FROM wf, n GROUP BY w, n.n_tot),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM wf GROUP BY doc_id, w)
        |SELECT tf.doc_id, CAST(SUM(tf) AS BIGINT) AS n_words,
        |  round(CAST(SUM(tf * nll_micro) AS DOUBLE) / SUM(tf) / 1e6, 6)
        |    AS avg_nll
        |FROM tf JOIN vocab USING (w)
        |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin,

    "t16_domain_cap" ->
      s"""WITH ranked AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY
         |      ${graft.Dets.phashSql("'cap:' || CAST(doc_id AS VARCHAR)")},
         |      doc_id) AS rn
         |  FROM documents),
         |kept AS (SELECT doc_id, rn FROM ranked WHERE rn <= 50)
         |SELECT d.source, COUNT(*) AS n_kept,
         |  CAST(SUM(LENGTH(d.text)) AS BIGINT) AS sum_chars,
         |  CAST(MAX(k.rn) AS BIGINT) AS max_rank
         |FROM documents d JOIN kept k USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "t17_sequence_pack" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS tok
        |  FROM documents),
        |cums AS (
        |  SELECT doc_id, tok,
        |    CAST(SUM(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS cum_end
        |  FROM toks),
        |spans AS (
        |  SELECT doc_id, tok, cum_end, cum_end - tok AS cum_start,
        |    (cum_end - tok) // 512 AS first_seq,
        |    (cum_end - 1) // 512 AS last_seq
        |  FROM cums),
        |x AS (
        |  SELECT *, unnest(range(first_seq, last_seq + 1)) AS seq_id
        |  FROM spans)
        |SELECT seq_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(LEAST(cum_end, (seq_id + 1) * 512) -
        |           GREATEST(cum_start, seq_id * 512)) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN cum_start >= seq_id * 512
        |                 AND cum_end <= (seq_id + 1) * 512
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_whole_docs,
        |  MIN(doc_id) AS head_doc
        |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    "t20_curation_pipeline" ->
      s"""WITH corpus AS (${Dedup.corpusSql}),
         |k1 AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
         |s1 AS (SELECT c.* FROM corpus c
         |       WHERE doc_id IN (SELECT doc_id FROM k1)),
         |s2 AS (
         |  SELECT *, string_split(text, ' ') AS words,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
         |  FROM s1 WHERE len(string_split(text, ' ')) >= 1),
         |s2q AS (SELECT * FROM (
         |  SELECT *,
         |    len(list_distinct(words)) / n_words * 0.4 +
         |    (1.0 - len(list_filter(words, w -> w = 'the' OR w = 'a'))
         |       / n_words) * 0.3 +
         |    least(n_words / 100.0, 1.0) * 0.3 AS quality
         |  FROM s2) WHERE quality >= 0.64),
         |s3 AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY
         |    ${graft.Dets.phashSql("'cur:' || CAST(doc_id AS VARCHAR)")},
         |    doc_id) AS rn
         |  FROM s2q) WHERE rn <= 40),
         |s4 AS (
         |  SELECT doc_id, CAST(length(text) + 1 AS BIGINT) AS nb,
         |    CAST(SUM(CAST(length(text) + 1 AS BIGINT))
         |         OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |         AS BIGINT) AS cum
         |  FROM s3),
         |s4s AS (SELECT (cum - nb) // 16384 AS shard, nb FROM s4)
         |SELECT 0 AS stage_id, 'all' AS stage, COUNT(*) AS n_docs,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars FROM corpus
         |UNION ALL SELECT 1, 'exact_dedup', COUNT(*),
         |  CAST(SUM(length(text)) AS BIGINT) FROM s1
         |UNION ALL SELECT 2, 'quality_gate', COUNT(*),
         |  CAST(SUM(length(text)) AS BIGINT) FROM s2q
         |UNION ALL SELECT 3, 'domain_cap', COUNT(*),
         |  CAST(SUM(length(text)) AS BIGINT) FROM s3
         |UNION ALL SELECT 4, 'packed_shards', COUNT(DISTINCT shard),
         |  CAST(SUM(nb) AS BIGINT) FROM s4s
         |ORDER BY stage_id""".stripMargin,

    "t19_shard_plan" ->
      """WITH sized AS (
        |  SELECT doc_id, CAST(length(text) + 1 AS BIGINT) AS nb
        |  FROM documents),
        |cums AS (
        |  SELECT doc_id, nb,
        |    CAST(SUM(nb) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS cum_end
        |  FROM sized)
        |SELECT (cum_end - nb) // 16384 AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(nb) AS BIGINT) AS bytes,
        |  MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc,
        |  CAST(SUM(nb) AS DOUBLE) / 16384 AS fill
        |FROM cums GROUP BY 1 ORDER BY shard""".stripMargin,

    "t21_corpus_shuffle" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, source,
         |    ${graft.Dets.phashSql("'shuf42:' || CAST(doc_id AS VARCHAR)")}
         |      AS shuf_key
         |  FROM documents),
         |positioned AS (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (ORDER BY shuf_key) AS BIGINT) AS pos
         |  FROM keyed)
         |SELECT (pos - 1) // 64 AS batch_id,
         |  COUNT(*) AS n_docs,
         |  COUNT(DISTINCT source) AS n_sources,
         |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids,
         |  arg_min(doc_id, pos) AS first_doc
         |FROM positioned GROUP BY 1 ORDER BY batch_id""".stripMargin,

    "t22_token_budget" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    string_split(text, ' ') AS words
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |ranked AS (
        |  SELECT doc_id, source, n_words,
        |    (1000000 - CAST(round((
        |      len(list_distinct(words)) / n_words * 0.4 +
        |      (1.0 - len(list_filter(words, w -> w = 'the' OR w = 'a'))
        |         / n_words) * 0.3 +
        |      least(n_words / 100.0, 1.0) * 0.3) * 1e6) AS BIGINT))
        |      * 10000000000 + doc_id AS rank_key
        |  FROM scored),
        |cums AS (
        |  SELECT doc_id, source, rank_key, n_words AS tok,
        |    CAST(SUM(n_words) OVER (ORDER BY rank_key ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS cum_tok
        |  FROM ranked)
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(tok) AS BIGINT) AS sum_tokens,
        |  MIN(rank_key) AS best_rank,
        |  CAST(MAX(cum_tok) AS BIGINT) AS last_cum
        |FROM cums WHERE cum_tok <= 20000
        |GROUP BY source ORDER BY source""".stripMargin,

    "t24_leakage_free_split" ->
      s"""WITH corpus AS (
         |${Dedup.corpusSql}),
         |hashed AS (
         |  SELECT doc_id, ${graft.Dets.phashSql("text")} AS h
         |  FROM corpus),
         |grouped AS (
         |  SELECT doc_id, h,
         |    MIN(doc_id) OVER (PARTITION BY h) AS rep,
         |    COUNT(*) OVER (PARTITION BY h) AS cnt
         |  FROM hashed),
         |assigned AS (
         |  SELECT *, CASE WHEN
         |    ${graft.Dets.phashSql("'split:' || CAST(rep AS VARCHAR)")}
         |      % 100 < 90 THEN 'train' ELSE 'eval' END AS split
         |  FROM grouped)
         |SELECT split, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT h) AS n_groups,
         |  CAST(MAX(cnt) AS BIGINT) AS max_group
         |FROM assigned GROUP BY split ORDER BY split""".stripMargin,

    "t23_classifier_score" ->
      s"""WITH toked AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(list_concat(toks,
         |    list_transform(range(1, len(toks)),
         |      i -> toks[CAST(i AS INT)] || '_' || toks[CAST(i + 1 AS INT)])))
         |    AS g
         |  FROM toked),
         |feats AS (
         |  SELECT doc_id,
         |    ${graft.Dets.phashSql("'f:' || g")} % 65536 AS j
         |  FROM grams),
         |weights AS (
         |  SELECT j,
         |    ${graft.Dets.phashSql("'w:' || CAST(j AS VARCHAR)")} % 2001
         |      - 1000 AS w_milli
         |  FROM range(65536) t(j))
         |SELECT f.doc_id, COUNT(*) AS n_feats,
         |  round(CAST(SUM(w.w_milli) AS DOUBLE) / COUNT(*) / 1000.0, 6)
         |    AS mean_logit,
         |  CASE WHEN SUM(w.w_milli) > 0 THEN 'keep' ELSE 'cut' END AS label
         |FROM feats f JOIN weights w USING (j)
         |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,

    // t45: the same model's logits swept over 9 integer thresholds.
    "t45_classifier_yield" ->
      s"""WITH toked AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(list_concat(toks,
         |    list_transform(range(1, len(toks)),
         |      i -> toks[CAST(i AS INT)] || '_' || toks[CAST(i + 1 AS INT)])))
         |    AS g
         |  FROM toked),
         |feats AS (
         |  SELECT doc_id,
         |    ${graft.Dets.phashSql("'f:' || g")} % 65536 AS j
         |  FROM grams),
         |weights AS (
         |  SELECT j,
         |    ${graft.Dets.phashSql("'w:' || CAST(j AS VARCHAR)")} % 2001
         |      - 1000 AS w_milli
         |  FROM range(65536) t(j)),
         |doc AS (
         |  SELECT f.doc_id, COUNT(*) AS n_feats,
         |    CAST(SUM(w.w_milli) AS BIGINT) AS logit_milli
         |  FROM feats f JOIN weights w USING (j) GROUP BY f.doc_id),
         |tot AS (SELECT COUNT(*) AS all_docs,
         |        CAST(SUM(n_feats) AS BIGINT) AS all_feats FROM doc),
         |tau AS (SELECT unnest([-100, -75, -50, -25, 0, 25, 50, 75, 100])
         |        AS tau_milli)
         |SELECT CAST(t.tau_milli AS BIGINT) AS tau_milli,
         |  CAST(SUM(CASE WHEN d.logit_milli > t.tau_milli * d.n_feats
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN d.logit_milli > t.tau_milli * d.n_feats
         |    THEN d.n_feats ELSE 0 END) AS BIGINT) AS feats_kept,
         |  CAST(SUM(CASE WHEN d.logit_milli > t.tau_milli * d.n_feats
         |    THEN 1 ELSE 0 END) * 1000000 // MAX(tot.all_docs) AS BIGINT)
         |    AS doc_ppm,
         |  CAST(SUM(CASE WHEN d.logit_milli > t.tau_milli * d.n_feats
         |    THEN d.n_feats ELSE 0 END) * 1000000 // MAX(tot.all_feats)
         |    AS BIGINT) AS feat_ppm
         |FROM tau t, doc d, tot
         |GROUP BY t.tau_milli
         |ORDER BY tau_milli""".stripMargin,

    "t25_dsir_resample" ->
      s"""WITH words AS (
         |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |wf AS (
         |  SELECT doc_id, lang,
         |    ${graft.Dets.phashSql("'d:' || w")} % 1024 AS j
         |  FROM words WHERE w <> ''),
         |tgt AS (SELECT * FROM wf WHERE lang = 'en'),
         |pool AS (SELECT * FROM wf WHERE lang <> 'en'),
         |ttot AS (SELECT COUNT(*) AS nt FROM tgt),
         |rtot AS (SELECT COUNT(*) AS nr FROM pool),
         |tcnt AS (SELECT j, COUNT(*) AS ct FROM tgt GROUP BY j),
         |rcnt AS (SELECT j, COUNT(*) AS cr FROM pool GROUP BY j),
         |lam AS (
         |  SELECT b.j,
         |    CAST(round((ln((COALESCE(ct, 0) + 1.0) / (nt + 1024)) -
         |                ln((COALESCE(cr, 0) + 1.0) / (nr + 1024))) * 1e6)
         |         AS BIGINT) AS lam_micro
         |  FROM (SELECT unnest(range(0, 1024)) AS j) b
         |  LEFT JOIN tcnt USING (j) LEFT JOIN rcnt USING (j), ttot, rtot),
         |tf AS (
         |  SELECT doc_id, lang, j, COUNT(*) AS tf
         |  FROM pool GROUP BY doc_id, lang, j)
         |SELECT tf.doc_id, tf.lang, CAST(SUM(tf) AS BIGINT) AS n_words,
         |  round(CAST(SUM(tf * lam_micro) AS DOUBLE) / SUM(tf) / 1e6, 6)
         |    AS avg_w
         |FROM tf JOIN lam USING (j)
         |GROUP BY tf.doc_id, tf.lang
         |ORDER BY avg_w DESC, doc_id LIMIT 100""".stripMargin,

    "t26_bigram_nll" ->
      s"""WITH $bigramScoresSql
         |SELECT doc_id, n_bigrams, avg_nll FROM scores
         |ORDER BY doc_id""".stripMargin,

    "t27_curriculum_buckets" ->
      s"""WITH $bigramScoresSql,
         |ranked AS (
         |  SELECT *, ntile(4) OVER (ORDER BY avg_nll, doc_id) AS bucket
         |  FROM scores)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_tokens,
         |  MIN(avg_nll) AS lo_nll, MAX(avg_nll) AS hi_nll
         |FROM ranked GROUP BY bucket ORDER BY bucket""".stripMargin,

    "t30_source_loo_nll" ->
      """WITH arrs AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, source, ws, unnest(range(1, len(ws) + 1)) AS i
        |  FROM arrs),
        |big AS (
        |  SELECT doc_id, source,
        |    CASE WHEN i = 1 THEN '<s>'
        |         ELSE ws[CAST(i - 1 AS INT)] END AS pw,
        |    ws[CAST(i AS INT)] AS w
        |  FROM pos),
        |tf AS (
        |  SELECT doc_id, source, pw, w, COUNT(*) AS tf
        |  FROM big GROUP BY doc_id, source, pw, w),
        |c2s AS (SELECT source, pw, w, SUM(tf) AS c2s
        |        FROM tf GROUP BY source, pw, w),
        |c2 AS (SELECT pw, w, SUM(c2s) AS c2 FROM c2s GROUP BY pw, w),
        |c1s AS (SELECT source, pw, SUM(c2s) AS c1s
        |        FROM c2s GROUP BY source, pw),
        |c1 AS (SELECT pw, SUM(c1s) AS c1 FROM c1s GROUP BY pw),
        |v AS (SELECT COUNT(DISTINCT w) AS v FROM c2),
        |lms AS (
        |  SELECT s.source, s.pw, s.w,
        |    CAST(round(-ln((s.c2s + 1.0) / (c1s.c1s + v.v)) * 1e6)
        |      AS BIGINT) AS own_nll,
        |    CAST(round(-ln((c2.c2 - s.c2s + 1.0) / (c1.c1 - c1s.c1s + v.v))
        |      * 1e6) AS BIGINT) AS loo_nll
        |  FROM c2s s
        |  JOIN c2 USING (pw, w)
        |  JOIN c1s ON c1s.source = s.source AND c1s.pw = s.pw
        |  JOIN c1 ON c1.pw = s.pw, v),
        |agg AS (
        |  SELECT t.source, COUNT(DISTINCT t.doc_id) AS n_docs,
        |    CAST(SUM(t.tf) AS BIGINT) AS n_bigrams,
        |    SUM(t.tf * l.own_nll) AS own_sum,
        |    SUM(t.tf * l.loo_nll) AS loo_sum
        |  FROM tf t JOIN lms l
        |    ON l.source = t.source AND l.pw = t.pw AND l.w = t.w
        |  GROUP BY t.source)
        |SELECT source, n_docs, n_bigrams,
        |  round(CAST(own_sum AS DOUBLE) / n_bigrams / 1e6, 6) AS avg_own_nll,
        |  round(CAST(loo_sum AS DOUBLE) / n_bigrams / 1e6, 6) AS avg_loo_nll,
        |  round(CAST(loo_sum - own_sum AS DOUBLE) / n_bigrams / 1e6, 6)
        |    AS nll_gap
        |FROM agg ORDER BY source""".stripMargin,

    "t29_quality_drift" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(round((len(list_distinct(words)) / n_words * 0.4 +
        |      (1.0 - len(list_filter(words, w -> w = 'the' OR w = 'a'))
        |         / n_words) * 0.3 +
        |      least(n_words / 100.0, 1.0) * 0.3) * 1e6) AS HUGEINT) AS qm
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS words,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |        FROM documents)
        |  WHERE n_words >= 1),
        |stats AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    SUM(qm) AS s1, SUM(qm * qm) AS s2
        |  FROM q GROUP BY source),
        |j AS (
        |  SELECT q.source, q.qm, s.n_docs, s.s1, s.s2,
        |    (q.qm * s.n_docs - s.s1) * (q.qm * s.n_docs - s.s1) AS lhs,
        |    (s.n_docs * s.s2 - s.s1 * s.s1) * 4 AS rhs
        |  FROM q JOIN stats s USING (source))
        |SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
        |  round(CAST(MAX(s1) AS DOUBLE) / MAX(n_docs) / 1e6, 6) AS mean_q,
        |  round(sqrt(CAST(MAX(n_docs) * MAX(s2) - MAX(s1) * MAX(s1)
        |                  AS DOUBLE)) / MAX(n_docs) / 1e6, 6) AS std_q,
        |  CAST(SUM(CASE WHEN lhs > rhs THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "t28_crossdoc_grams" ->
      s"""WITH corpus AS (${Dedup.corpusSql}),
         |arrs AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM corpus),
         |g AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
         |    i -> ${graft.Dets.phashSql(
                  "array_to_string(ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')")}))
         |    AS gh
         |  FROM arrs WHERE len(ws) >= 5),
         |dg AS (SELECT DISTINCT doc_id, gh FROM g),
         |dfreq AS (SELECT gh, COUNT(*) AS df FROM dg GROUP BY gh)
         |SELECT dg.doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  round(CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / COUNT(*), 6) AS shared_frac
         |FROM dg JOIN dfreq USING (gh)
         |GROUP BY dg.doc_id ORDER BY doc_id""".stripMargin,

    // t34: the oracle replays the same deterministic hash over every
    // position and the same island merge — the plan must be identical
    // byte for byte, because a training run shards it by REPLAYING it.
    // t36: the oracle slices the same 1-based token spans and hashes
    // each chunk's joined text — boundary parity to the token.
    "t36_doc_chunks" -> {
      val h = graft.Dets.phashSql(
        "array_to_string(ws[CAST(ci * 12 + 1 AS INT) : " +
          "CAST(least(ci * 12 + 16, n) AS INT)], ' ')")
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |base AS (
         |  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n
         |  FROM w WHERE len(ws) >= 1),
         |ch AS (
         |  SELECT doc_id, n, ws,
         |    unnest(range(0, CASE WHEN n <= 16 THEN 1
         |                         ELSE 1 + (n - 16 + 11) // 12 END)) AS ci
         |  FROM base),
         |hx AS (
         |  SELECT doc_id, n, CAST($h % 1000000000 AS BIGINT) AS h,
         |    CASE WHEN n <= 16 THEN 1 ELSE 1 + (n - 16 + 11) // 12 END AS nc
         |  FROM ch)
         |SELECT doc_id, MAX(n) AS n_tokens, CAST(MAX(nc) AS BIGINT) AS n_chunks,
         |  CAST(MAX(n) - (MAX(nc) - 1) * 12 AS BIGINT) AS last_fill,
         |  CAST(SUM(h) AS BIGINT) AS hash_mod_sum
         |FROM hx GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // t39: same midpoint split, same once-rounded micro-nat models;
    // the drift column is a single IEEE double division of exact longs.
    "t39_distribution_drift" -> {
      val ph = graft.Dets.phashSql("w")
      s"""WITH docs AS (
         |  SELECT source, doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |h AS (SELECT (MAX(doc_id) + 1) // 2 AS half FROM docs),
         |w AS (
         |  SELECT source, doc_id >= h.half AS is_new,
         |    unnest(list_transform(toks, w -> $ph)) AS wh
         |  FROM docs, h),
         |counts AS (
         |  SELECT source, wh,
         |    CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c_o,
         |    CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS c_n
         |  FROM w GROUP BY 1, 2),
         |tot AS (
         |  SELECT source, CAST(SUM(c_o) AS BIGINT) AS n_o,
         |    CAST(SUM(c_n) AS BIGINT) AS n_n, COUNT(*) AS v
         |  FROM counts GROUP BY 1),
         |sc AS (
         |  SELECT c.source, c.c_n, t.n_o, t.n_n, t.v,
         |    CAST(round(-ln((c.c_o + 1) / CAST(t.n_o + t.v AS DOUBLE)) * 1e6)
         |      AS BIGINT) AS unat_o,
         |    CAST(round(-ln((c.c_n + 1) / CAST(t.n_n + t.v AS DOUBLE)) * 1e6)
         |      AS BIGINT) AS unat_n
         |  FROM counts c JOIN tot t USING (source))
         |SELECT source, MAX(n_o) AS n_old_toks, MAX(n_n) AS n_new_toks,
         |  CAST(MAX(v) AS BIGINT) AS vocab,
         |  CAST(SUM(c_n * unat_o) AS BIGINT) AS nll_old_model,
         |  CAST(SUM(c_n * unat_n) AS BIGINT) AS nll_new_model,
         |  (CAST(SUM(c_n * unat_o) AS BIGINT)
         |   - CAST(SUM(c_n * unat_n) AS BIGINT))
         |    / CAST(MAX(n_n) AS DOUBLE) AS drift_unats_per_tok
         |FROM sc GROUP BY source ORDER BY source""".stripMargin
    },

    // t40: same segments, same planted footer, same df-threshold
    // verdict; fp % 1e9 keeps the checksum well inside BIGINT on both
    // engines (the t36 lesson).
    "t40_line_dedup" -> {
      val fp = graft.Dets.phashSql("line")
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |base AS (
         |  SELECT doc_id, source, ws, CAST(len(ws) AS BIGINT) AS n
         |  FROM w WHERE len(ws) >= 1),
         |nat AS (
         |  SELECT doc_id, unnest(range(0, (n + 7) // 8)) AS li, n, ws
         |  FROM base),
         |natl AS (
         |  SELECT doc_id, li, array_to_string(
         |    ws[CAST(li * 8 + 1 AS INT) : CAST(least(li * 8 + 8, n) AS INT)],
         |    ' ') AS line
         |  FROM nat),
         |pl AS (
         |  SELECT doc_id, (n + 7) // 8 AS li,
         |    'all rights reserved see terms at www dot ' || source AS line
         |  FROM base WHERE doc_id % 3 = 0),
         |lines AS (
         |  SELECT doc_id, CAST(li AS BIGINT) AS li,
         |    $fp AS fp,
         |    CAST(len(list_filter(string_split(line, ' '), x -> x <> ''))
         |      AS BIGINT) AS nw
         |  FROM (SELECT * FROM natl UNION ALL SELECT * FROM pl)),
         |df AS (
         |  SELECT fp, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY 1)
         |SELECT l.doc_id, COUNT(*) AS n_lines,
         |  CAST(SUM(CASE WHEN df.df >= 4 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  CAST(SUM(CASE WHEN df.df < 4 THEN nw ELSE 0 END) AS BIGINT)
         |    AS toks_kept,
         |  CAST(SUM(CASE WHEN df.df < 4
         |    THEN (li + 1) * (fp % 1000000000) ELSE 0 END) AS BIGINT)
         |    AS chk_kept
         |FROM lines l JOIN df USING (fp)
         |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin
    },

    // t41: same whitespace tokenization and 60-bit word hash; each K
    // row is an ORDER BY c DESC, wh LIMIT K over the word-count CTE.
    "t41_vocab_coverage" -> {
      val rows = Seq(16, 64, 256, 1024).map { k =>
        s"""  SELECT CAST($k AS INT) AS k,
           |    (SELECT COALESCE(CAST(SUM(c) AS BIGINT), 0)
           |     FROM (SELECT c FROM wc ORDER BY c DESC, wh LIMIT $k) z$k)
           |      AS covered_tokens""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (
         |  SELECT ${graft.Dets.phashSql("w")} AS wh
         |  FROM (SELECT unnest(list_filter(string_split(text, ' '),
         |          x -> x <> '')) AS w
         |        FROM documents) z),
         |wc AS MATERIALIZED (SELECT wh, COUNT(*) AS c FROM toks GROUP BY wh),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
         |          COUNT(*) AS vocab_size FROM wc),
         |u AS (
         |$rows)
         |SELECT k, vocab_size, total_tokens, covered_tokens,
         |  covered_tokens / CAST(total_tokens AS DOUBLE) AS coverage
         |FROM u, tot ORDER BY k""".stripMargin
    },

    // t42: same plants (chr() keeps the SQL pure ASCII), same
    // strip-and-diff counting — length() is code points in both
    // engines; DuckDB regexp_replace needs the explicit 'g' flag to
    // match Spark's replace-all.
    "t42_encoding_audit" ->
      s"""WITH scarred AS (
         |  SELECT doc_id, source,
         |    text ||
         |    CASE WHEN doc_id % 23 = 0 THEN chr(7) || 'x' ELSE '' END ||
         |    CASE WHEN doc_id % 29 = 0 THEN ' caf' || chr(65533)
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 31 = 0
         |         THEN ' caf' || chr(233) || ' na' || chr(239) || 've'
         |         ELSE '' END AS text
         |  FROM documents),
         |m AS (
         |  SELECT source, CAST(length(text) AS BIGINT) AS chars,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) AS BIGINT)
         |      AS n_ctrl,
         |    CAST(length(text) - length(replace(text, chr(65533), ''))
         |      AS BIGINT) AS n_fffd,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[^\\x00-\\x7F]', '', 'g')) AS BIGINT) AS n_nonascii
         |  FROM scarred)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ctrl_docs,
         |  CAST(SUM(CASE WHEN n_fffd > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fffd_docs,
         |  CAST(SUM(CASE WHEN n_nonascii > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nonascii_docs,
         |  CAST(SUM(n_nonascii) AS BIGINT) AS nonascii_chars,
         |  (CAST(SUM(chars) AS BIGINT) - CAST(SUM(n_nonascii) AS BIGINT))
         |    * 1000000 // CAST(SUM(chars) AS BIGINT) AS ascii_ppm
         |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // t38: the same three conditional sums per candidate L; ppm is
    // integer floor division on both engines.
    "t38_context_length_plan" ->
      """WITH lens AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS BIGINT) AS len
        |  FROM documents),
        |x AS (
        |  SELECT len, unnest([16, 32, 64]) AS seq_len FROM lens),
        |a AS (
        |  SELECT CAST(seq_len AS BIGINT) AS seq_len,
        |    COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN len <= seq_len THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_fit,
        |    CAST(SUM(CASE WHEN len > seq_len THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_truncated,
        |    CAST(SUM(seq_len - least(len, seq_len)) AS BIGINT)
        |      AS pad_tokens,
        |    CAST(SUM(greatest(len - seq_len, 0)) AS BIGINT)
        |      AS trunc_tokens,
        |    CAST(SUM(least(len, seq_len)) AS BIGINT) AS kept
        |  FROM x GROUP BY 1)
        |SELECT seq_len, n_docs, n_fit, n_truncated, pad_tokens,
        |  trunc_tokens,
        |  CAST(kept * 1000000 // (n_docs * seq_len) AS BIGINT) AS util_ppm
        |FROM a ORDER BY seq_len""".stripMargin,

    // t37: a type is new at the quartile of its first-occurrence rank,
    // so the oracle's cumulative-distinct curve is the same min-rank
    // aggregate + 4-bin cumsum — no stateful scan on either engine.
    "t37_vocab_growth" -> {
      val qb = "CASE WHEN %s <= (n_docs + 3) // 4 THEN 1 " +
        "WHEN %s <= (n_docs * 2 + 3) // 4 THEN 2 " +
        "WHEN %s <= (n_docs * 3 + 3) // 4 THEN 3 ELSE 4 END"
      def bin(c: String) = qb.format(c, c, c)
      s"""WITH docs AS (
         |  SELECT source, doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |rk AS (
         |  SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS ntok,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
         |  FROM docs),
         |nsrc AS (SELECT source, MAX(rk) AS n_docs FROM rk GROUP BY source),
         |tokbins AS (
         |  SELECT rk.source, ${bin("rk")} AS quartile,
         |    CAST(SUM(ntok) AS BIGINT) AS btok
         |  FROM rk JOIN nsrc USING (source) GROUP BY 1, 2),
         |tw AS (
         |  SELECT DISTINCT source, doc_id, wh FROM (
         |    SELECT source, doc_id,
         |      unnest(list_transform(toks,
         |        w -> ${graft.Dets.phashSql("w")})) AS wh
         |    FROM docs) z),
         |frk AS (
         |  SELECT tw.source, wh, MIN(rk.rk) AS frk
         |  FROM tw JOIN rk ON tw.source = rk.source AND tw.doc_id = rk.doc_id
         |  GROUP BY 1, 2),
         |typebins AS (
         |  SELECT frk.source, ${bin("frk")} AS quartile,
         |    CAST(COUNT(*) AS BIGINT) AS btype
         |  FROM frk JOIN nsrc USING (source) GROUP BY 1, 2),
         |scaffold AS (
         |  SELECT source, n_docs, unnest([1, 2, 3, 4]) AS quartile
         |  FROM nsrc),
         |b AS (
         |  SELECT s.source, CAST(s.quartile AS BIGINT) AS quartile,
         |    CAST(s.n_docs AS BIGINT) AS n_docs,
         |    CAST((s.quartile * s.n_docs + 3) // 4 AS BIGINT) AS cp_docs,
         |    COALESCE(tb.btok, 0) AS btok, COALESCE(yb.btype, 0) AS btype
         |  FROM scaffold s
         |  LEFT JOIN tokbins tb
         |    ON tb.source = s.source AND tb.quartile = s.quartile
         |  LEFT JOIN typebins yb
         |    ON yb.source = s.source AND yb.quartile = s.quartile),
         |c AS (
         |  SELECT source, quartile, n_docs, cp_docs,
         |    CAST(SUM(btok) OVER (PARTITION BY source ORDER BY quartile)
         |      AS BIGINT) AS cum_tokens,
         |    CAST(SUM(btype) OVER (PARTITION BY source ORDER BY quartile)
         |      AS BIGINT) AS cum_types,
         |    CAST(btype AS BIGINT) AS new_types
         |  FROM b)
         |SELECT source, quartile, n_docs, cp_docs, cum_tokens, cum_types,
         |  new_types,
         |  CAST(CASE WHEN cum_tokens = 0 THEN 0
         |    ELSE cum_types * 1000000 // cum_tokens END AS BIGINT) AS ttr_ppm
         |FROM c ORDER BY source, quartile""".stripMargin
    },

    // t35: same shingle hash grammar as d22's oracle; df = distinct
    // sources per hash; ppm is integer floor division on both engines.
    "t35_source_novelty" ->
      """WITH w AS (
        |  SELECT source, string_split(text, ' ') AS words FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |hs AS (
        |  SELECT DISTINCT source,
        |    unnest(list_transform(list_transform(range(0, len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]),
        |      s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT))) AS h
        |  FROM w),
        |df AS (SELECT h, COUNT(*) AS nsrc FROM hs GROUP BY h)
        |SELECT hs.source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(CASE WHEN df.nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(SUM(CASE WHEN df.nsrc = 1 THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS novel_ppm
        |FROM hs JOIN df USING (h)
        |GROUP BY hs.source ORDER BY hs.source""".stripMargin,

    "t34_span_corruption" -> {
      val h = graft.Dets.phashSql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, n, unnest(range(1, n + 1)) AS i FROM base),
         |starts AS (
         |  SELECT doc_id, n, i, least(i + 2, n) AS e FROM pos
         |  WHERE $h % 20 = 0),
         |flags AS (
         |  SELECT doc_id, i, e,
         |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           IS NULL
         |         OR i > max(e) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |         THEN 1 ELSE 0 END AS ns
         |  FROM starts),
         |sp AS (
         |  SELECT doc_id, i, e,
         |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS UNBOUNDED PRECEDING) AS span_id
         |  FROM flags),
         |spans AS (
         |  SELECT doc_id, span_id, MIN(i) AS s, MAX(e) AS e
         |  FROM sp GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |    CAST(SUM(e - s + 1) AS BIGINT) AS masked_tokens,
         |    CAST(MAX(e - s + 1) AS BIGINT) AS longest_span,
         |    CAST(MIN(s) AS BIGINT) AS first_start
         |  FROM spans GROUP BY 1)
         |SELECT b.doc_id, b.n AS n_tokens,
         |  coalesce(a.n_spans, 0) AS n_spans,
         |  coalesce(a.masked_tokens, 0) AS masked_tokens,
         |  coalesce(a.masked_tokens, 0) / CAST(b.n AS DOUBLE) AS masked_frac,
         |  coalesce(a.longest_span, 0) AS longest_span,
         |  coalesce(a.first_start, 0) AS first_start
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin
    }
  )

  /** DuckDB mirror of [[bigramScores]] as a CTE chain ending in
    * `scores(doc_id, n_bigrams, avg_nll)` — shared by the t26 and t27
    * oracles.
    */
  private def bigramScoresSql: String =
    """arrs AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM arrs),
      |big AS (
      |  SELECT doc_id,
      |    CASE WHEN i = 1 THEN '<s>'
      |         ELSE ws[CAST(i - 1 AS INT)] END AS pw,
      |    ws[CAST(i AS INT)] AS w
      |  FROM pos),
      |c2 AS (SELECT pw, w, COUNT(*) AS c2 FROM big GROUP BY pw, w),
      |c1 AS (SELECT pw, SUM(c2) AS c1 FROM c2 GROUP BY pw),
      |v AS (SELECT COUNT(DISTINCT w) AS v FROM big),
      |lm AS (
      |  SELECT pw, w,
      |    CAST(round(-ln((c2 + 1.0) / (c1 + v)) * 1e6) AS BIGINT)
      |      AS nll_micro
      |  FROM c2 JOIN c1 USING (pw), v),
      |tf AS (
      |  SELECT doc_id, pw, w, COUNT(*) AS tf
      |  FROM big GROUP BY doc_id, pw, w),
      |scores AS (
      |  SELECT tf.doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
      |    round(CAST(SUM(tf * nll_micro) AS DOUBLE) / SUM(tf) / 1e6, 6)
      |      AS avg_nll
      |  FROM tf JOIN lm USING (pw, w)
      |  GROUP BY tf.doc_id)""".stripMargin
}
