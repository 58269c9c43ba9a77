package graft.tools

import graft.{Sessions, SparkEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-curve harness: materializes K×-scaled copies of the fact
  * tables (lineitem/orders/events/documents — the axes that actually
  * grow at 100 TB; dimensions stay 1×, as they do in production) and
  * times representative operators at each K. The point is the CURVE:
  * scan-aggregations, windows, as-of joins, and upserts must scale
  * ~linearly in fact rows; dedup pair OUTPUT grows quadratically with
  * the duplication rate by construction (K mutually-near-duplicate
  * copies of every document), which is the workload's nature, not a
  * plan defect — the harness reports both so the distinction is visible.
  *
  * Key shifting keeps the FK graph consistent: lineitem and orders shift
  * orderkey by the same stride, so scaled facts join 1× dims exactly as
  * 100 TB facts join their dimension tables. Usage:
  *   runMain graft.tools.StressBench [sfDir] [scales csv] [queries csv]
  */
object StressBench {
  private val SHIFT = 100000000L // above any base key and corpus offset

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).getOrElse("1,4,16").split(",").map(_.trim.toInt)
    val defaultQs = "q01_pricing_summary,q08_multiway_join,q13_window_rows_frame," +
      "q29_asof_join,q46_asof_join_native,q40_tumbling_window,w05_upsert_antijoin," +
      "d01_exact_dedup,d02_minhash_lsh,d03_simhash,d04_ngram_jaccard," +
      "d05_embedding_neardup,s03_ann_ivf,s05_kmeans_iter," +
      // round-6/7 additions: winnow join + multi-probe/multi-table ANN +
      // the cluster collapses (d11 output is LINEAR; d09's pair output is
      // quadratic on this suffix-scaled corpus BY CONSTRUCTION — copies
      // share long spans, which is exactly what winnow detects; the
      // plan-vs-output distinction is ScaleProbe's tagged-corpus winnow
      // section)
      "d07_edit_distance,d09_winnow_neardup,d10_neardup_multiprobe," +
      "d11_editdist_clusters,s07_ann_multiprobe,s08_ann_multitable," +
      // round-7 additions: decontamination (broadcast gram join over the
      // scaled training side), chunk dedup ((fp, doc_id)-long shuffles),
      // the map-only text gates, and the quantized two-stage rerank
      // (embeddings scale k× with sign-flip decorrelation — see
      // scaled(); the bucketed candidate scan is linear in n with a
      // constant that dominates at these sizes, so the curve reads
      // near-flat like s07's)
      "d12_decontaminate,d13_chunk_dedup,t11_repetition,t12_pii_scrub," +
      "t13_domain_mix,s09_two_stage_rerank,d14_semdedup,t14_unigram_nll," +
      "m04_video_frames,q63_keep_latest,q64_gaps_islands,s10_batch_ann," +
      "q65_histogram,t15_bpe_train," +
      // d15's cell count is corpus-adaptive since round 10 (k = max(8,
      // floor(sqrt(n/8))) — curve flat); d14 keeps the fixed label
      // clustering ON PURPOSE as the documented quadratic contrast —
      // the knob's measurement lives in ScaleProbe's semdedup section /
      // ARCHITECTURE.md
      "d15_semdedup_cells,q66_scd2_merge,q67_funnel,q68_resample_interpolate," +
      "q69_retention," +
      // round-8: Bloom decontamination (map-side probe — curve should
      // track d12's), the d16 linear consumable over SimHash pairs,
      // KMV set algebra (constant sketch state), and the narrow-hash
      // snapshot diff (linear in rows, independent of row width)
      "d17_bloom_decontaminate,d16_simhash_clusters," +
      "q74_kmv_set_algebra,q75_snapshot_diff," +
      // round-8 tail: skew profile (narrow per-key counts), HLL union
      // rollup (constant sketch state per group), per-domain cap (the
      // ranking window shuffles ~24 B/row, survivors join back narrow)
      "q76_skew_profile,q77_hll_union,t16_domain_cap," +
      // t17: the global cumsum is O(partitions) control data + map-only
      // accumulate; everything downstream shuffles (doc_id, 3 longs) —
      // curve should be linear in docs
      "t17_sequence_pack," +
      // d18: span output is LINEAR in docs (islands, never pairs) even on
      // the mutually-duplicated stress corpus — the curve that separates
      // it from the pair-emitting detectors d04/d09
      "d18_span_dedup," +
      // t18: merge replay is per-DISTINCT-word (sublinear in corpus
      // growth on a fixed vocabulary); the corpus side is one explode +
      // broadcast join + narrow agg — linear
      "t18_bpe_encode," +
      // t19: same cumsum shape as t17 over bytes instead of tokens
      "t19_shard_plan," +
      // s11: PQ train/encode is linear in the k×-scaled embeddings
      // (map-only past the seed-slice Lloyd step) — near-flat at these
      // sizes like s07/s09
      "s11_product_quantization,s12_pq_adc," +
      // q78: facts fold to (day × 64) integer partials, rollup is
      // arithmetic on partials — curve tracks the one fact scan.
      // m05: map-only decode, ~20 B/image group-by (docs stay 1x here;
      // the decode kernel itself is the cost)
      "q78_quantile_rollup,m05_image_phash_dedup," +
      // q79: RunningTotal under 16x orders — linear, no single-task stage
      "q79_running_total_global," +
      // q80: two keyed partial aggs + one keyed join — linear
      "q80_incremental_agg," +
      // t20: four chained stages, each linear; the cumsum re-plans
      // through the injected rule
      "t20_curation_pipeline," +
      // m06: map-only PCM decode + narrow group-by (docs 1x here)
      "m06_audio_phash_dedup," +
      // round-10: seeded corpus shuffle + token-budget selection (both
      // ride the rule-rewritten global cumsum; narrow-key shuffles only)
      "t21_corpus_shuffle,t22_token_budget," +
      // round-11: classifier inference — gram explode + hash is map-only,
      // the model join is a broadcast, one (doc_id, partials) shuffle:
      // curve should be linear in docs like t03's. t24: one narrow
      // window exchange over (doc_id, hash) longs — linear
      "t23_classifier_score,t24_leakage_free_split," +
      // round-11: DSIR resampling (lambda table FIXED at O(B) regardless
      // of corpus size — curve linear in pool words; top-k is
      // TakeOrderedAndProject, no global sort) and bigram-LM scoring
      // (LM table grows with distinct bigrams — sublinearly on the
      // suffix-scaled corpus — and shuffle-joins on the uniform (pw, w)
      // key; everything upstream map-side-combines)
      "t25_dsir_resample,t26_bigram_nll," +
      // m07: PNG decode map-only like m05; caption hashed before any
      // shuffle (~28 B/pair group-by) — curve should track m05's.
      // t27: the global quartile rides DistributedRank (range exchange +
      // control-frame window) — linear, no single-task sort at any k
      "m07_caption_variants,t27_curriculum_buckets," +
      // t28: (doc_id, hash)-long shuffles only; pair-free (doc-frequency
      // join, never a self-join) — near-linear even on the
      // mutually-duplicated stress corpus where pair emitters go quadratic
      "t28_crossdoc_grams," +
      // s13: the (label, bucket) join keeps candidates per query near
      // constant as the k×-scaled embeddings grow (buckets refine) —
      // curve near-flat like s07/s08
      "s13_filtered_ann," +
      // d19: same broadcast gram join as d12 aggregated by bench doc —
      // curve should track d12's
      "d19_eval_exposure," +
      // d20: d06's CC cost + a map-only quality pass + one lbl window —
      // curve should track d06's
      "d20_cluster_representatives," +
      // t29: map-only scoring + per-source integer partials — linear,
      // like t14's
      "t29_quality_drift," +
      // s14: since round 12 the query sample is FIXED-SIZE (NQ=32,
      // deterministic hash order) — the ground-truth pass is n_q
      // corpus scans, so the curve should be LINEAR in corpus rows
      // (round 11's fixed-fraction sample made it quadratic by
      // construction; that reading is preserved in ARCHITECTURE's
      // bench notes as the before)
      "s14_ann_recall," +
      // d21: truth enumeration runs over the df-capped shingle space
      // since round 12 (df <= 64) — per-shingle fan-out bounded at
      // cap², so the curve should flatten toward the capped bill on
      // the mutually-duplicated stress corpus where the uncapped join
      // was super-linear by construction (the cap doesn't bind at
      // sf0.01, so the oracle still checks uncapped semantics)
      "d21_lsh_recall," +
      // d22: one distinct (hash, source) shuffle, then aggregates
      // bounded by k sources — curve should be linear in corpus rows
      // and the report side flat
      "d22_source_overlap," +
      // s15: same fixed-size sample as s14 — linear like s14's
      "s15_ivf_recall," +
      // round-12: s16 PQ/ADC recall — the ADC scan is O(n·M·n_q) table
      // lookups, map-only with (q_id, vec_id, long) partials; embeddings
      // stay 1× in the stress corpus so the curve should be flat like
      // s11/s12's. d23: ONE df-capped truth pass (d21's cost) + four
      // integer aggregates over the checkpointed pair frame — curve
      // should track d21's
      "s16_pq_recall,d23_dedup_rate_curve," +
      // d24: the same one-truth-pass shape as d23 + a K-long signature
      // join per true pair — curve should track d21/d23's
      "d24_minhash_estimator_error," +
      // m08: map-only decode-every-frame through the real GIF reader
      // (docs 1× here — the codec kernel is the cost, curve flat)
      "m08_scene_cuts," +
      // t30: one (source, pw, w) aggregate + total-minus-own LOO —
      // sublinear like t26 (distinct bigrams saturate)
      "t30_source_loo_nll," +
      // round-13: m09 audio VAD — map-only PCM decode, ~32 B/track
      // shuffles; kernel-priced like m06/m08, curve tracks docs. s18
      // centroid drift — two map-only assignment passes linear in the
      // k×-scaled embeddings + 16 B control shuffles: tracks s05's
      // shape, constant-dominated here. t31 tokenizer
      // health — t18's distinct-word replay + one map-only corpus
      // pass into (source, 4 longs) partials: curve tracks t18's
      "m09_audio_vad,s18_centroid_drift,t31_tokenizer_health," +
      // s19: train on the fixed seed slice + two map-only
      // broadcast-argmax assignment passes linear in the k×-scaled
      // embeddings, K-row report: constant-dominated, near-flat.
      // s20: s19's passes + one integer predicate in the aggregate —
      // identical curve
      "s19_incremental_index,s20_index_tombstones," +
      // d25: positional gram scan is map-only and the broadcast bench
      // semi-join filters BEFORE the shuffle — only hit positions reach
      // the keyed window; curve should track d12's
      "d25_decontaminate_spans," +
      // round-14: t32 rule battery — one explode into a two-stage
      // (doc_id, w) count agg, rules fold map-side: linear like t14's.
      // t33 — one (source, long) partial-agg pass, O(k) after: linear
      // scan cost, flat report
      "t32_quality_rules,t33_mixture_temperature," +
      // d26: directional new×old banding — both snapshots derive from
      // documents, so candidates grow linearly (suffix-scaled copies
      // don't band-collide across copies); the md5 layer is one
      // (hash, min-id) equi-join — curve should track d02's shape at
      // lower constant (new side is ~1/4 of the corpus)
      "d26_snapshot_dedup," +
      // q82: the bucketed write is the bill (two linear passes through
      // the scaled facts); the join itself stays exchange-free at
      // every K — the curve prices layout amortization honestly
      "q82_bucketed_join," +
      // m10: map-only decode+edge-scan like m02/m05 (docs scale, the
      // codec kernel is the cost) — linear in docs.
      // s21: projection map-only over the k×-scaled embeddings,
      // candidate scan NQ-sampled (O(NQ·n)) like s14/s16 —
      // constant-dominated at these sizes
      "m10_border_detect,s21_rp_recall," +
      // q83/q84: the partitioned layout write is linear in events and
      // paid ONCE per JVM (first of the two queries bills it); the
      // pruned scans read a fixed day-slice — q84's fact read is bounded
      // by the 3 hot days at every K, so past the write the curve is
      // the layout story itself
      "q83_partition_pruned_scan,q84_runtime_filtered_scan," +
      // s22: one NQ-sampled brute-force top-10 pass (s14/s16 shape) +
      // control-frame vote aggregates: linear in corpus, flat-ish report.
      // m11: map-only decode+pool like m02/m10 — linear in docs
      "s22_knn_label_eval,m11_image_pyramid," +
      // d27: one narrow shuffle on the 8-token prefix key; LCP verify
      // only inside collision buckets — curve should track d01's
      // hash-groupBy shape, not a pair-join's
      "d27_prefix_dedup," +
      // t34: map-only position explode, selected starts (doc_id, 2
      // longs) to a keyed window — tracks d25's curve.
      // m12: map-only PCM decode + decimate like m03/m06 — flat.
      // s23: one NQ-sampled corpus scan + constant control-frame greedy
      // rounds — flat like s14/s22
      "t34_span_corruption,m12_audio_decimate,s23_mmr_rerank," +
      // m13: map-only encode+splice+walk, ~30 B/asset — flat like m02
      "m13_png_metadata," +
      // d28: d06's CC machinery + a map-only hash assignment + the
      // narrow pair audit — curve should track d06's
      "d28_cluster_split," +
      // s24: one integer max broadcast + map-only coding over the
      // k×-scaled embeddings, NQ-sampled code scan (O(NQ·n)):
      // constant-dominated like s21
      "s24_sq_recall," +
      // d29: d06's CC + one groupBy(grp) size + a shuffle join back on
      // grp + per-source aggregate — curve tracks d06/d28's
      "d29_soft_dedup," +
      // m14: map-only PCM decode + two integer passes — flat like m12
      "m14_audio_normalize," +
      // q85: one linear scan feeds the doubling rounds; scaled copies'
      // parents dangle and prune in round 1 — flat past the scan
      "q85_hierarchy_rollup," +
      // m15: map-only decode+rotate+encode round trip — flat like m02
     "m15_image_rotate," +
      // s25: one broadcast-NQ scan over the k×-scaled embeddings
      // folding to (q_id, 4 longs) map-side partials, no window at
      // all — O(NQ·n), constant-dominated like s01
     "s25_range_search," +
      // t35: distinct (source, hash) + one df count + uniform-key join
      // back — pair-free, sublinear like t28 (distinct grams saturate)
     "t35_source_novelty," +
      // t36: map-only chunk explode, (doc_id, 4 longs) to the agg —
      // linear in docs like t03
     "t36_doc_chunks," +
      // m16: map-only decode+equalize+encode — flat like m02/m15
      "m16_hist_equalize," +
      // s26: s15's probe + s24's coding over the k×-scaled embeddings;
      // the NQ-sampled scans are O(NQ·n) — constant-dominated at small
      // k, linear in corpus rows past ~16× (the family's shape)
      "s26_ivfsq_recall," +
      // s27: one brute-force truth scan + three map-only assignment
      // passes over the k×-scaled embeddings; all four curve points
      // are control-frame filters — tracks s15's shape
      "s27_nprobe_curve," +
      // t37: one (doc_id, hash) explode + min-rank agg (t28's shuffle
      // bill); the rank window sorts only per-doc control rows —
      // sublinear like t28/t35 (distinct words saturate)
      "t37_vocab_growth," +
      // m17: map-only decode+tile like m02/m11 — linear in docs,
      // codec-kernel-priced
      "m17_patch_tiles," +
      // q86: two map-side partial aggregates over the scaled orders +
      // one O(keys) full-outer merge — linear in facts like q01
      "q86_incremental_rollup," +
      // d30: d01's hash groupBy + d06's CC (its curve) + narrow-key
      // consumable joins — tracks d06's shape
      "d30_dedup_manifest," +
      // m18: map-only PCM decode + lag loops — flat like m03/m12
      "m18_audio_autocorr," +
      // t38: one corpus scan into 3×(6 longs) map-side partials —
      // linear in docs like t03
      "t38_context_length_plan," +
      // t39: one (source, hash) count agg + broadcast totals —
      // the t14/t30 shuffle bill, sublinear as distinct words saturate
      "t39_distribution_drift," +
      // d31: d22's pair machinery is the bill (distinct (source, hash)
      // + per-shingle source sets); the 5 rank rounds ride O(k²)
      // control frames — curve tracks d22's
      "d31_source_graph_rank," +
      // s28: s15's shape on the live slice — seed train + two map-only
      // assignments + one brute-force truth scan over k×-scaled
      // embeddings: constant-dominated small, linear past ~16×
      "s28_deletion_recall," +
      // round-14 tail: t40 rides t28's (hash, doc_id)-long shuffle on
      // LINE hashes (pair-free df join) — sublinear as shared
      // boilerplate saturates. q87 is the q46 as-of machinery run
      // twice (both directions) + one narrow tie-break — linear in
      // events. d32 prices four band configs over ONE shared signature
      // pass + ONE df-capped truth pass — each config adds a d02-shape
      // candidate join, so the curve should read like d21's plus a
      // constant factor ~4. d33 is the d21 df-capped inverted index
      // with a pure pair-count aggregate — tracks d04's capped shape.
      // d34 shuffles (doc_id, pos, word-hash) longs once; the lag
      // window partitions by (doc_id, word) so no partition outgrows
      // one word's repeats in one doc — linear in corpus tokens.
      // m19/m20 are map-only codec walks (~56-64 B/asset shuffles) —
      // flat like m13. s29 is one map-only scan to 32 B/vector + a
      // narrow h-count join — the cheapest s-query by construction.
      "t40_line_dedup,q87_nearest_join,d32_band_plan,d33_containment," +
      "d34_crosslingual,m19_gif_timing,m20_wav_metadata," +
      "s29_embedding_health," +
      // s30: corpus-adaptive nb-bit blocking (cells held ~32) — flat
      // through 16×; at 64× the scaled corpus packs ~54 same-bucket
      // copies per original (sign-flip decorrelation only moves dims
      // < nb), so cells are genuinely dense with TRUE neighbors and
      // the pair-volume embedding join-back is the workload's nature
      // on a duplicate-heavy corpus (d09's class), not a plan defect.
      // q88: one fact scan fans to two (layout, bucket) keys map-side;
      // everything after the first aggregate is O(128) control rows.
      // d35: d24's shared truth/signature passes + three integer
      // slot-match counts — same-boot at-or-under d24's cells
      "s30_knn_graph,q88_zorder_layout,d35_bbit_minhash," +
      // t41: one map-side-combined (word-hash) count + K-row top-k
      // heaps — sublinear like t14/t28 (distinct words saturate)
      "t41_vocab_coverage," +
      // q89: two carry-forward passes over union frames — q87's bill
      // twice, linear in events
      "q89_sequence_match," +
      // s31: two map-only assignment passes + O(cells) control frames
      "s31_imi_cells," +
      // d37: three d12 passes (gram definitions differ per n) — linear
      "d37_gram_size_sweep," +
      // q90: one user-partitioned window, O(5) frames — linear
      "q90_rolling_median," +
      // t43: t01's map-only scoring + k² control rows — flat
      "t43_langid_confusion," +
      // d38: three family stages on a shrinking corpus — flat, the
      // df cap shrinks the capped space as duplication rises
      "d38_cascade_report," +
      // s32: s30's graph build + 6 bounded-frontier rounds over O(NQ ·
      // beam · degree) control frames — the search itself is corpus-
      // size-free (fixed NQ, fixed rounds, bounded beam); the curve
      // should track s30's build bill
      "s32_graph_beam_recall," +
      // d36: d06's CC bill + O(clusters) aggregates — tracks d06
      "d36_cluster_profile," +
      // t42: map-only strip-and-diff scan, 6 longs/source — t03's bill
      "t42_encoding_audit," +
      // m21: map-only byte rewrite + re-decode — m13's bill plus one
      // decode, ~45 B/asset
      "m21_metadata_strip," +
      // s33: 4 narrow count-aggregate passes + the shared NQ truth
      // scan — no pair ever materializes (the d32 lesson), ~linear
      "s33_build_knob_plan," +
      // d39: d30's CC bill + one map-only token count and a narrow
      // (doc_id, rule) left join — tracks d30
      "d39_token_budget," +
      // q91: metadata-only DDL + 3 stats scans memoized per JVM, then a
      // CBO-reordered 3-way join — linear in facts like q08
      "q91_cbo_join_reorder," +
      // q92: one shuffled join over the planted probe; the AQE skew
      // split keeps the hot partition parallel — linear, no straggler
      "q92_aqe_skew_join," +
      // s34: s32's bill with 4 seeds instead of 1 — same build, same
      // fixed rounds; the extra seeding is O(NQ) control rows — flat
      "s34_multi_entry_beam," +
      // q93: one coalesced keyed agg — linear in events like q01
      "q93_aqe_coalesce," +
      // d40: two signature passes (bench fixed-size, train linear) +
      // broadcast band join; candidates bounded by true near-dups
      "d40_fuzzy_decontaminate," +
      // s35: s34's graph/walk bill + one linear PQ encode pass; the
      // ADC scoring joins only bounded candidate sets — flat search
      "s35_pq_beam_rerank," +
      // m22: map-only IHDR walk + bounded per-bucket windows — linear
      "m22_navit_pack," +
      // q94: map-only Expand row multiplier + the final sort — linear
      "q94_unpivot," +
      // q95: one fact scan + runtime-broadcast join — linear, and the
      // conversion DELETES the fact-side sort at every scale
      "q95_aqe_broadcast_switch," +
      // q96: the bloom build is one agg over the FILTERED dim; the
      // probe is a map-side might_contain — linear, and the pruned
      // fact shuffle SHRINKS with the dim filter's selectivity
      "q96_runtime_bloom_filter," +
      // q97: two broadcast NAAJ probes over the dim-sized customer
      // table — O(M) hash lookups; the planted branch short-circuits
      // to EmptyRelation at runtime (the probe scan never runs)
      "q97_null_aware_anti_join," +
      // s36: s32's bill + one filtered pass over the materialized
      // scoredAll (the routing sample) — flat like the family
      "s36_hierarchical_beam," +
      // q98: one map-only parse_json + typed path extraction — linear,
      // no shuffle at all above the final sort
      "q98_variant," +
      // d41: three narrow (shard, hash) distincts + 1-row controls —
      // 3× d01's bill, linear
      "d41_shard_dedup_error," +
      // t44: two keyed aggregates over one tokenize pass + broadcast
      // normalizers; the floor bounds the PMI join, top-20 is
      // TakeOrderedAndProject — sublinear like t14 (distinct bigrams
      // saturate on the fixed vocabulary)
      "t44_pmi_collocations," +
      // m23: map-only stereo decode + ~60 B/track shuffle — m12's bill
      "m23_stereo_downmix," +
      // q99: four map-only try_* lanes + the final sort — linear
      "q99_try_functions," +
      // q100: one full-outer shuffle join on the merge key + per-row
      // CASE — linear; bucketing the target would delete the exchange
      "q100_merge_into," +
      // s37: s32's walk twice over the one checkpointed graph — flat
      "s37_tombstone_beam," +
      // s38: TWO graph builds (the comparison's cost, not the
      // operator's) + one tail side-scan — ~2x s32's curve
      "s38_freshness_beam," +
      // t45: t23's one scoring pass + a x9 constant sweep on the
      // O(docs) logit frame — tracks t23
      "t45_classifier_yield," +
      // m24: two map-only decode+hash passes + key-to-key plant joins
      "m24_thumb_dedup_audit," +
      // q101: two bounded per-partition heaps — flat at any depth for
      // keyset, O(depth) heap for offset (the point of the pairing)
      "q101_pagination," +
      // round-17: q102 bills the versioned-store build (three sink
      // appends + one compaction rewrite — two linear passes over the
      // scaled orders) ONCE per scale dir, then four manifest-scoped
      // scans; q104 reads only each version's ADDED files (the
      // O(delta) CDF claim priced directly — the v4 anti-join is
      // bounded by the rewrite size); q103 is one shuffled left join +
      // keyed agg — linear in events like q57
      "q102_time_travel,q104_snapshot_cdf,q103_interval_join_outer," +
      // q105/q107 bill the clustered-store build once per scale dir,
      // then footer-stats planning: q105's pruned scan reads 1/3 of
      // the data at every K, q107's COW delete rewrites only the file
      // owning the range. q106 is the two-append evolved store + one
      // mergeSchema scan — linear in orders
      "q105_snapshot_skipping,q106_schema_evolution,q107_cow_delete," +
      // q108: the MoR delete writes O(matched keys) and rewrites
      // nothing; the read adds one broadcast-sized anti-join — both
      // independent of table size past the pruned key scan
      "q108_mor_delete," +
      // q109: the persisted merge rewrites the one file owning the
      // feed's key range + appends the inserts; the probe is O(files)
      // footer metadata — near-flat like the delete pair
      "q109_merge_persisted," +
      // round-18: q110 is q100's plan (one full-outer shuffle + CASE
      // ladder) — linear; q111 reads each version's added files via
      // the ChangeFeedSource (O(delta) planning off the manifest
      // diff) — linear in the appended data, zero cost for the
      // compaction version
      "q110_merge_conditional,q111_change_feed," +
      // q112: store build bills one z-order rewrite (two linear
      // passes) per scale dir; the query itself is two footer-planned
      // pruned scans — sublinear once the curve bounds both dims
      "q112_zorder_skipping," +
      // round-19: q113 bills the DML-history store build (3 appends +
      // COW delete + merge, each writing O(changed rows) change files)
      // once per scale dir, then reads O(changes) through the feed;
      // q114 is q100's plan with a deeper CASE ladder — linear
      "q113_cdc_dml_feed,q114_merge_clauses"
    val qs = args.lift(2).getOrElse(defaultQs).split(",").map(_.trim)

    val spark = Sessions.local(
      conf = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))

    def scaled(k: Int): String = {
      // cache key includes an injective digest of the base dataset path —
      // reusing data derived from a different sfDir would silently
      // measure the wrong inputs
      val base = java.security.MessageDigest.getInstance("MD5")
        .digest(sfDir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val dir = s"/tmp/graft_stress/$base/k$k"
      val marker = new java.io.File(s"$dir/_done")
      if (!marker.exists()) {
        def copies(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
          (0 until k).map(i => f(df, i)).reduce(_ unionByName _)
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        copies(li, (d, i) => d.withColumn("l_orderkey", col("l_orderkey") + i * SHIFT))
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        copies(ord, (d, i) => d.withColumn("o_orderkey", col("o_orderkey") + i * SHIFT))
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        val ev = spark.read.parquet(s"$sfDir/events.parquet") // ts as raw nanos long
        copies(ev, (d, i) => d.withColumn("event_id", col("event_id") + i * SHIFT))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        copies(docs, (d, i) =>
            if (i == 0) d
            else d.withColumn("doc_id", col("doc_id") + i * SHIFT)
                  .withColumn("text", concat(col("text"), lit(s" c$i"))))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        copies(emb, (d, i) =>
            if (i == 0) d
            else d.withColumn("vec_id", col("vec_id") + i * SHIFT)
              // flip one dimension's sign per copy: keeps copies out of
              // each other's cosine>=0.999 neighborhoods (a plain copy
              // would make the near-dup OUTPUT quadratic in k and mask
              // the plan's scaling) while preserving norms and the value
              // distribution the blocking keys see
              .withColumn("embedding",
                expr(s"transform(embedding, (v, j) -> IF(j = ${i % 64}, -v, v))")))
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        for (t <- Seq("region", "nation", "customer", "supplier", "part"))
          spark.read.parquet(s"$sfDir/$t.parquet")
            .write.mode("overwrite").parquet(s"$dir/$t.parquet")
        marker.createNewFile()
      }
      dir
    }

    // warmup
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    println(f"${"query"}%-26s ${scales.map(k => f"k=$k%-9d").mkString}")
    for (name <- qs) {
      val row = scales.map { k =>
        val dir = scaled(k)
        val t0 = System.nanoTime()
        val n =
          try {
            val df = SparkEntry.queries(name)(spark, dir)
            df.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"$name k=$k failed: ${e.getMessage.take(100)}"); -1.0
          }
        spark.catalog.clearCache()
        f"$n%-9.2f "
      }
      println(f"$name%-26s ${row.mkString}")
    }
    spark.stop()
  }
}
