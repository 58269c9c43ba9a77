package graft.operators

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wide-to-long reshaping and lateral (correlated table) joins — the two
  * relational surfaces not already covered by Relational/Windows/SetOps.
  *
  * Scale notes: unpivot is a map-only row expansion (no shuffle; output
  * is k× rows but narrow), safe at any scale. The lateral aggregate is
  * planned by Catalyst as a left outer aggregate-join (DecorrelateInnerQuery),
  * i.e. one shuffle on the join key — not a per-row subquery execution.
  */
object Extras {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SCD2 merge (slowly-changing-dimension versioning) — the warehouse
    // upsert that PRESERVES history where O9's upsert discards it: an
    // update batch closes out the current row (valid_to = T) and opens a
    // new version (valid_from = T). Three branches over one shared scan:
    // untouched rows pass (anti-join), touched rows emit both their
    // closed old version (semi-join) and the new current row. The change
    // batch is the small side at 100 TB (a day's updates vs the full
    // dimension), so both membership joins broadcast — one dimension
    // scan, no dimension shuffle.
    "q66_scd2_merge" -> { (s, d) =>
      import s.implicits._
      val t = 1000L // version timestamp of the update batch
      val dim = T.customer(s, d)
        .select($"c_custkey", $"c_name", $"c_acctbal")
      val changes = dim.filter($"c_custkey" % 5 === 0)
        .select($"c_custkey", $"c_name", ($"c_acctbal" + 100.0).as("c_acctbal"))
      val keys = broadcast(changes.select($"c_custkey"))
      val untouched = dim.join(keys, Seq("c_custkey"), "left_anti")
        .select($"c_custkey", $"c_name", $"c_acctbal",
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"),
          lit(true).as("is_current"))
      val closed = dim.join(keys, Seq("c_custkey"), "left_semi")
        .select($"c_custkey", $"c_name", $"c_acctbal",
          lit(0L).as("valid_from"), lit(t).as("valid_to"),
          lit(false).as("is_current"))
      val opened = changes
        .select($"c_custkey", $"c_name", $"c_acctbal",
          lit(t).as("valid_from"), lit(null).cast("long").as("valid_to"),
          lit(true).as("is_current"))
      untouched.unionByName(closed).unionByName(opened)
        .orderBy($"c_custkey", $"valid_from")
    },

    // MERGE INTO — the full three-clause lakehouse merge (WHEN MATCHED
    // UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT) that
    // q66's SCD2 history-keeping is the versioned cousin of. Spark has
    // no MERGE over plain parquet (that's Delta/Iceberg surface), so
    // this is the idiomatic re-expression the format-level merge
    // compiles to anyway: ONE full-outer join of target and change
    // feed on the key + per-row CASE arbitration — at 100 TB one
    // co-partitioned shuffle (bucketing the target on the merge key
    // deletes even that, q82's layout), and a small change feed rides
    // q95's runtime broadcast switch instead. The feed plants all
    // three clauses deterministically: urgent-order revenue upserts
    // matched customers, %13 keys are delete markers, %9 keys re-key
    // past the max custkey — the not-matched insert stream. Output is the
    // merged state with per-row provenance (kept/updated/inserted;
    // deletes absent), so the oracle pins every clause's arbitration.
    "q100_merge_into" -> { (s, d) =>
      import s.implicits._
      mergeArbitrate(mergeTarget(s, d), mergeFeed(s, d))
        .orderBy($"key")
    },

    // CONDITIONAL MERGE CLAUSES — the `WHEN MATCHED AND <predicate>
    // THEN ...` surface real MERGE INTO ships beyond q100's three
    // plain clauses, with FIRST-MATCH-WINS ordering:
    //   1. WHEN MATCHED AND action='delete'      THEN DELETE
    //   2. WHEN MATCHED AND bal < 0              THEN UPDATE SET bal = amt
    //   3. WHEN MATCHED                          THEN UPDATE SET bal = bal+amt
    //   4. WHEN NOT MATCHED AND action<>'delete' THEN INSERT (amt)
    // Clause 2 SHADOWS clause 3 for delinquent balances (the reset a
    // plain single-CASE arbitration can't state), and clause 4's AND
    // gates inserts — an unmatched delete marker vanishes. Same plan
    // shape as q100: ONE full-outer shuffle join + per-row CASE ladder
    // (bucket the target on the key and even that exchange deletes);
    // per-row `clause` provenance rides the output so the oracle pins
    // every clause's arbitration AND the ordering.
    "q110_merge_conditional" -> { (s, d) =>
      import s.implicits._
      mergeArbitrateConditional(mergeTarget(s, d), mergeFeed(s, d))
        .orderBy($"key")
    },

    // GENERAL MERGE CLAUSE LADDER — q100/q110 restated as
    // configurations of ONE general operator (Merge.mergeClauses:
    // caller-supplied WHEN [NOT] MATCHED AND <cond> THEN
    // DELETE/UPDATE SET/INSERT, first-match-wins); this query runs a
    // ladder NEITHER of them covers, pinning the combinations:
    //   1. MATCHED AND action='delete' AND bal < 5000 → DELETE
    //      (a CONDITIONAL delete — q110's was unconditional)
    //   2. MATCHED AND action='delete'               → SET bal = 0
    //      (soft-delete fallback, shadowed by 1 for low balances)
    //   3. MATCHED AND amt > 600000                  → SET bal = bal + amt/10
    //   4. MATCHED                                   → SET bal = bal + amt
    //   5. NOT MATCHED AND action<>'delete' AND amt > 300000
    //                                                → INSERT bal = amt
    //      (a GATED insert: small-amt source rows enter NOTHING —
    //       the no-clause-matched drop path, unexercised before)
    // Per-row clause labels ride the output so the oracle pins every
    // branch AND the ordering. Same plan shape as q100: one full-outer
    // shuffle join + per-column CASE ladder, all codegen'd builtins.
    "q114_merge_clauses" -> { (s, d) =>
      import s.implicits._
      val (m, nm) = q114Ladder
      Merge.mergeClauses(mergeTarget(s, d), mergeFeed(s, d), "key",
        m, nm, provenance = Some("clause"))
        .orderBy($"key")
    },

    // SNAPSHOT (time-travel) reads over the SnapshotLog manifest
    // layer — the lakehouse read primitive: three appends build
    // versions 1..3 (orders sliced o_orderkey % 3 = 0 / 1 / 2,
    // cumulative), version 4 is a snapshot COMPACTION of v3 (fewer
    // files, same rows — replaced originals stay on disk, which is
    // what keeps v1..v3 readable after the rewrite). The query reads
    // all four versions and reports per-version row count / exact
    // total / max key; the oracle restates each version's known
    // cumulative slice straight off `orders` — so the store build,
    // the manifest layer, AND compaction's snapshot-preservation are
    // all pinned by the hash match. Store built once per fixture
    // generation (fingerprint marker, q82-84 discipline); the query
    // itself is four manifest-scoped parquet scans.
    "q102_time_travel" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStore(s, d)
      (1 to 4).map { v =>
        graft.sources.SnapshotLog.readVersion(s, dir, v)
          .agg(count(lit(1)).as("n_rows"),
               graft.Dets.dsum($"o_totalprice").as("total_price"),
               max($"o_orderkey").as("max_key"))
          .select(lit(v).as("version"), $"n_rows", $"total_price",
                  $"max_key")
      }.reduce(_ unionByName _).orderBy($"version")
    },

    // CHANGE DATA FEED off the snapshot manifests — "what changed
    // between version N-1 and N" answered WITHOUT diffing table
    // contents: the manifest diff names exactly the files each commit
    // added/removed, so an append version's feed is a scan of ONLY its
    // added files (the O(delta) read a 100 TB CDC consumer needs — a
    // content diff would re-scan the whole table), and a rewrite
    // version (v4, the compaction) anti-joins its added against its
    // removed files to prove the feed is EMPTY — compaction moves
    // bytes, not rows. The oracle states each version's true insert
    // slice straight off orders, with v4 pinned to zero.
    "q104_snapshot_cdf" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStore(s, d)
      (2 to 4).map { v =>
        // diff the DATA entries, not raw manifest lines: a version
        // committed by a MoR delete adds a dv:<col>:<file> line, which
        // as a raw path would crash the read (round-17 advice #3);
        // deletion vectors are a delete feed, outside this insert-only
        // CDF's scope by definition
        val prev = graft.sources.SnapshotLog.dataEntries(
          graft.sources.SnapshotLog.manifest(dir, v - 1)).toSet
        val cur = graft.sources.SnapshotLog.dataEntries(
          graft.sources.SnapshotLog.manifest(dir, v)).toSet
        val added = (cur -- prev).toSeq.sorted.map(f => s"$dir/$f")
        val removed = (prev -- cur).toSeq.sorted.map(f => s"$dir/$f")
        val af = s.read.parquet(added: _*)
        val inserted =
          if (removed.isEmpty) af
          else af.join(s.read.parquet(removed: _*).select($"o_orderkey"),
            Seq("o_orderkey"), "left_anti")
        inserted.agg(count($"o_orderkey").as("n_inserted"),
            coalesce(graft.Dets.dsum($"o_totalprice"), lit(0.0))
              .as("inserted_total"))
          .select(lit(v).as("version"), $"n_inserted", $"inserted_total")
      }.reduce(_ unionByName _).orderBy($"version")
    },

    // CHANGE DATA FEED AS A SOURCE — q104's manifest diff made
    // TAILABLE: graft.sources.ChangeFeedSource is a DSv2 table over
    // the snapshot log whose batch read returns every version's
    // inserted rows tagged `_change_version`, planned from the
    // manifest diff (O(delta) files per version, never a table scan)
    // — the read a 100 TB CDC consumer repeats from its version
    // cursor. This query drives that read end-to-end — including the
    // source's own parquet row decoding — through the same per-version
    // aggregate as q104, so the DuckDB hash pins the source against
    // the relational statement. The rewrite version (v4, compaction)
    // must feed ZERO rows: dataChange=false.
    "q111_change_feed" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStore(s, d)
      val feed = graft.sources.ChangeFeed.readBatch(s, dir, fromVersion = 1)
        .select($"_change_version".cast("int").as("version"),
          $"o_orderkey", $"o_totalprice")
      Seq(2, 3, 4).toDF("version")
        .join(feed, Seq("version"), "left_outer")
        .groupBy($"version")
        .agg(count($"o_orderkey").as("n_inserted"),
             coalesce(graft.Dets.dsum($"o_totalprice"), lit(0.0))
               .as("inserted_total"))
        .orderBy($"version")
    },

    // MANIFEST-LEVEL DATA SKIPPING — the read-side payoff of a
    // range-clustered layout under the snapshot log (Delta/Iceberg
    // file pruning): the store's three data files each own one
    // contiguous o_orderkey third (one file per append), and
    // readVersionWhere plans the scan from per-file FOOTER [min,max]
    // alone — a range predicate inside the middle third hands Spark
    // exactly ONE of the three files. The n_files_read/n_files_total
    // literals ride the oracle row, so a pruning regression (3 files
    // read instead of 1) fails the driver's hash gate, not just a
    // spec. Boundaries derive from the persisted _MAXKEY control
    // value (integer thirds), stated identically in the oracle via
    // MAX(o_orderkey) integer division — rows + exact total pin the
    // pruned scan's correctness.
    "q105_snapshot_skipping" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreClustered(s, d)
      val m = ttcMaxKey(dir)
      val (lo, hi) = ttcCowRange(m)
      val (df, kept, total) = graft.sources.SnapshotLog.readVersionWhere(
        s, dir, 3, "o_orderkey", lo, hi)
      df.agg(count(lit(1)).as("n_rows"),
             graft.Dets.dsum($"o_totalprice").as("total_price"))
        .select($"n_rows", $"total_price",
                lit(kept).as("n_files_read"),
                lit(total).as("n_files_total"))
    },

    // Z-ORDER DATA SKIPPING — the multi-dimensional half of q105's
    // story: a table clustered linearly on ONE column answers only
    // that column's ranges from few files (q105) and smears every
    // other column across all of them; Z-ORDERING (16-bit normalize +
    // bit-interleave, range-partitioned rewrite — Delta's OPTIMIZE
    // ZORDER BY, stated with builtin codegen'd expressions) bounds
    // every file's footer [min,max] in BOTH dimensions, so
    // readVersionWhere prunes on EITHER key. The store z-orders
    // orders on (o_orderkey, o_custkey) into ~8 files; the query
    // prunes a quarter-range on EACH column and pins `both_pruned`
    // (kept < total twice) as a literal on the oracle row — a rewrite
    // that silently lost the curve (plain repartition) fails the hash
    // gate, and the rows/exact totals pin pruning's invisibility. The
    // one-column counter-case (linear clustering: b keeps ALL files)
    // is spec-pinned in SnapshotLogSpec.
    "q112_zorder_skipping" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreZOrder(s, d)
      val (mo, mc) = ttzMaxKeys(dir)
      val (dfo, ko, to) = graft.sources.SnapshotLog.readVersionWhere(
        s, dir, 2, "o_orderkey", mo / 4 + 1, mo / 2)
      val (dfc, kc, tc) = graft.sources.SnapshotLog.readVersionWhere(
        s, dir, 2, "o_custkey", mc / 4 + 1, mc / 2)
      dfo.agg(count(lit(1)).as("n_rows_key"),
          graft.Dets.dsum($"o_totalprice").as("total_key"))
        .crossJoin(broadcast(dfc.agg(count(lit(1)).as("n_rows_cust"),
          graft.Dets.dsum($"o_totalprice").as("total_cust"))))
        .select($"n_rows_key", $"total_key", $"n_rows_cust", $"total_cust",
          lit(ko < to && kc < tc).as("both_pruned"))
    },

    // ROW-LEVEL CDC OVER THE FULL DML SURFACE — the half of the change
    // feed q111's insert-only convention left open (round-18 verdict
    // #1): a COW delete and a MERGE are REWRITE versions (manifest
    // removes files), so the manifest diff alone feeds zero rows and a
    // replica tailing the store silently diverges. Since r19 every DML
    // commit writes explicit per-version change files (Delta's
    // `_change_data/` idea: full-row delete preimages, update pre/post
    // images, merge inserts) as `#cdc:` manifest headers, and the feed
    // emits them. History here: v1-3 append the (key,bal) dimension in
    // clustered thirds, v4 COW-deletes the lower-middle slice, v5
    // MERGEs the ranged q109 feed (updates + deletes + far-key
    // inserts). The query tails versions 4-5 and aggregates per
    // (version, change_type); the oracle states every change row
    // relationally off customer/orders — so the DML-time CDC writers,
    // the manifest headers, AND the feed's decoding are all pinned by
    // one hash. O(changed rows) extra write per DML commit, zero cost
    // on the read-the-table path, O(delta) feed IO per version.
    "q113_cdc_dml_feed" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreCdc(s, d)
      graft.sources.ChangeFeed.readBatch(s, dir, fromVersion = 3)
        .groupBy($"_change_version".cast("int").as("version"),
          $"_change_type".as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
             sum($"key").as("key_sum"),
             graft.Dets.dsum($"bal").as("bal_total"))
        .orderBy($"version", $"change_type")
    },

    // TYPED DATA SKIPPING — q105's long-key pruning extended to the
    // column types a real 100 TB table prunes on FIRST (round-19
    // verdict #1): the store's nine files form a (priority-group ×
    // order-date-third) grid, each file range-tight in BOTH the
    // TIMESTAMP and the STRING dimension, and the typed `#tstat:`
    // manifest stats (timestamps as epoch micros; strings Delta-style
    // truncated with a bumped upper bound) let readVersionWhereTs /
    // readVersionWhereStr hand Spark 3-of-9 resp. 6-of-9 files with
    // zero footer opens. All four kept/total counts ride the oracle
    // row, so a stats regression that fell back to reading everything
    // fails the driver's hash gate; rows + exact totals pin that
    // pruning stayed semantically invisible.
    "q115_typed_skipping" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreTyped(s, d)
      val (tmin, tmax) = tttTsRange(dir)
      val span = tmax - tmin
      val (cut1, cut2) = (tmin + span / 3, tmin + 2 * span / 3)
      val (dfT, kT, tT) = graft.sources.SnapshotLog.readVersionWhereTs(
        s, dir, 9, "o_orderdate", cut1 + 1, cut2)
      val (dfS, kS, tS) = graft.sources.SnapshotLog.readVersionWhereStr(
        s, dir, 9, "o_orderpriority", "2", "3z")
      dfT.agg(count(lit(1)).as("n_rows_ts"),
          graft.Dets.dsum($"o_totalprice").as("total_ts"))
        .crossJoin(broadcast(dfS.agg(count(lit(1)).as("n_rows_pri"),
          graft.Dets.dsum($"o_totalprice").as("total_pri"))))
        .select($"n_rows_ts", $"total_ts", $"n_rows_pri", $"total_pri",
          lit(kT).as("ts_files_read"), lit(tT).as("ts_files_total"),
          lit(kS).as("pri_files_read"), lit(tS).as("pri_files_total"))
    },

    // PREDICATE SKIPPING INSIDE THE CHANGE FEED — a range-scoped sync
    // of a tailed store ("replicate only this key slice") should open
    // the few change files that can own the slice, not every file of
    // the delta (round-19 verdict #5): the manifests carry `#range:`
    // stats for each version's appended data files AND its CDC change
    // files, and readBatchWhere skips the files whose stats cannot
    // intersect. Over the q113 DML history, a middle-lower key range
    // plans 1-of-3 append files, keeps v4's delete-preimage change
    // file, and proves every v5 merge change file pruned (the merge
    // touched only keys above the range) — pinned as literals on the
    // oracle row; the per-(version, change_type) aggregates pin the
    // surviving rows exactly.
    "q117_cdc_range_prune" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreCdc(s, d)
      val m = ttcMaxKey(dir)
      val (lo, hi) = (m / 3 + 1, m / 2)
      val planned = graft.sources.ChangeFeed.plannedEntries(dir, 0,
        graft.sources.SnapshotLog.latestVersion(dir),
        Some(("key", lo, hi)))
      val appends = planned.filter(e => !e._3)
      val nAppendRead = appends.count(_._4)
      val cdcKeptVs = planned.collect { case (v, _, true, true) => v }.toSet
      val cdcPrunedVs = planned.collect { case (v, _, true, false) => v }.toSet
      val pruneOk = cdcKeptVs == Set(4) && cdcPrunedVs == Set(5)
      graft.sources.ChangeFeed.readBatchWhere(s, dir, 0, "key", lo, hi)
        .groupBy($"_change_version".cast("int").as("version"),
          $"_change_type".as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
             sum($"key").as("key_sum"),
             graft.Dets.dsum($"bal").as("bal_total"))
        .select($"version", $"change_type", $"n_rows", $"key_sum",
          $"bal_total",
          lit(nAppendRead).as("n_append_read"),
          lit(appends.size).as("n_append_total"),
          lit(pruneOk).as("cdc_prune_ok"))
        .orderBy($"version")
    },

    // DECIMAL DATA SKIPPING — the fourth typed-stats dimension
    // (round-19 verdict #1 named timestamp, string, double, AND
    // decimal): money-typed predicates are the other thing a real
    // table prunes on, and parquet stores precision<=18 decimals as
    // INT64 unscaled with exact footer stats. The store's three files
    // own fixed price bands; a predicate strictly inside the middle
    // band keeps 1-of-3 files (literals on the oracle row), with the
    // exact decimal total pinning that pruning stayed invisible.
    "q118_decimal_skipping" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreDecimal(s, d)
      val (df, kept, total) = graft.sources.SnapshotLog.readVersionWhereDec(
        s, dir, 3, "price",
        new java.math.BigDecimal("60000.00"),
        new java.math.BigDecimal("140000.00"))
      df.agg(count(lit(1)).as("n_rows"),
          sum($"price").cast("double").as("total_price"))
        .select($"n_rows", $"total_price",
          lit(kept).as("n_files_read"), lit(total).as("n_files_total"))
    },

    // COLUMN-MAPPING SCHEMA EVOLUTION — the rename/drop half q106's
    // column-add left open (round-19 verdict #4, Delta's
    // column-mapping idea): the schema-in-log fields carry a STABLE
    // physical name, so a RENAME is a metadata-only commit and every
    // pre-rename file reads through the new name with data intact —
    // no rewrite, no NULLed history — while a DROP projects the
    // physical column away (files keep it; time travel still reads
    // it). The store renames o_totalprice→price between its two
    // appends and then drops o_custkey; the query reads the HEAD and
    // must see EVERY row's price populated (n_priced = n_rows — a
    // drop+add fallback would NULL the pre-rename half), the exact
    // total off both physical generations, the even-key (pre-rename)
    // half's total, and exactly two columns surviving the drop. All
    // stated straight off orders, so the mapped read path is pinned by
    // the hash gate.
    "q116_column_mapping" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreMapped(s, d)
      val head = graft.sources.SnapshotLog.readVersion(s, dir, 4)
      val nCols = head.columns.length
      head.agg(count(lit(1)).as("n_rows"),
          count($"price").as("n_priced"),
          graft.Dets.dsum($"price").as("total_price"),
          sum(when($"o_orderkey" % 2 === 0, graft.Dets.dec($"price")))
            .cast("double").as("even_total"))
        .select($"n_rows", $"n_priced", $"total_price", $"even_total",
          lit(nCols).as("n_cols"))
    },

    // MERGE-ON-READ DELETE — q107's copy-on-write twin, the OTHER half
    // of the lakehouse delete trade (Delta deletion vectors / Iceberg
    // equality deletes): the matched keys are written as one tiny
    // deletion-vector file and the manifest appends a dv: entry — NO
    // data file is rewritten (write cost O(matched keys), the choice
    // for small deletes on huge files), and every read anti-joins the
    // vector against the files committed before it, so a later append
    // can re-insert a key and a compaction materializes the vector
    // away. Applied as version 5 over q107's v4: the report pins the
    // post-delete complement (rows + exact total), the MoR range still
    // alive at v4 (history intact), ZERO data files rewritten and
    // exactly one vector — both file-count literals on the oracle row,
    // so a MoR regression that fell back to rewriting fails the hash
    // gate.
    "q108_mor_delete" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreClustered(s, d)
      val m = ttcMaxKey(dir)
      ensureTtcVersion(s, dir, m, upTo = 5)
      val m4 = graft.sources.SnapshotLog.manifest(dir, 4)
      val m5 = graft.sources.SnapshotLog.manifest(dir, 5)
      val rewritten = (graft.sources.SnapshotLog.dataEntries(m4).toSet --
        graft.sources.SnapshotLog.dataEntries(m5).toSet).size
      val nDvs = graft.sources.SnapshotLog.dvEntries(m5).size
      val lo1 = ttcCowRange(m)._1
      val (lo2, hi2) = ttcMorRange(m)
      val after = graft.sources.SnapshotLog.readVersion(s, dir, 5)
      val before = graft.sources.SnapshotLog.readVersion(s, dir, 4)
      after.agg(count(lit(1)).as("n_rows_after"),
          graft.Dets.dsum($"o_totalprice").as("total_after"),
          sum(when($"o_orderkey".between(lo1, hi2), 1L).otherwise(0L))
            .as("n_deleted_visible"))
        .crossJoin(broadcast(before.agg(
          sum(when($"o_orderkey".between(lo2, hi2), 1L).otherwise(0L))
            .as("n_mor_range_before"))))
        .select($"n_rows_after", $"total_after", $"n_deleted_visible",
          $"n_mor_range_before",
          lit(rewritten).as("n_files_rewritten"),
          lit(nDvs).as("n_dvs"))
    },

    // MERGE INTO, PERSISTED — q100 computes the three-clause merge,
    // this one WRITES it through the snapshot log at file granularity:
    // the feed's updates and deletes live in the middle key third, its
    // %9 re-keys land at +1e6 as pure inserts, and the per-key footer
    // probe (not the interval hull — the inserts sit far outside every
    // file, the hull would have dragged the last file in) rewrites
    // exactly ONE of the three files while two share verbatim; the
    // inserts ride the rewrite output. File counts on the oracle row
    // (the q105/q107/q108 discipline); the merged state itself —
    // count, exact balance total, insert count — is the same
    // full-outer arbitration stated straight off customer/orders, so
    // the persisted write and the relational algebra are pinned to
    // agree. Pre-merge v3 stays readable (history is the undo).
    "q109_merge_persisted" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreMerge(s, d)
      val m = ttcMaxKey(dir)
      ensureTtmVersion4(s, dir, d, m)
      val m3 = graft.sources.SnapshotLog.dataEntries(
        graft.sources.SnapshotLog.manifest(dir, 3))
      val m4 = graft.sources.SnapshotLog.dataEntries(
        graft.sources.SnapshotLog.manifest(dir, 4))
      val rewritten = (m3.toSet -- m4.toSet).size
      val kept = (m3.toSet & m4.toSet).size
      graft.sources.SnapshotLog.readVersion(s, dir, 4)
        .agg(count(lit(1)).as("n_rows"),
             graft.Dets.dsum($"bal").as("total_bal"),
             sum(when($"key" > ttmInsertOffset(m), 1L).otherwise(0L))
               .as("n_inserted"))
        .select($"n_rows", $"total_bal", $"n_inserted",
          lit(rewritten).as("n_files_rewritten"),
          lit(kept).as("n_files_kept"))
    },

    // SCHEMA EVOLUTION under the snapshot log — the column-add read a
    // long-lived 100 TB table cannot avoid (producers upgrade; nobody
    // rewrites history): v1's files predate o_custkey, v2's carry it,
    // and the mergeSchema read unions the file schemas with NULLs
    // where a file predates the column — the Delta/Iceberg column-add
    // semantics over plain parquet, exercised through the manifest
    // layer. The report splits the evolved column's population by
    // origin half: pre-evolution rows MUST read NULL (n_with_cust
    // counts only odd keys) and the evolved column's sum must equal
    // the odd-key custkey sum — the oracle states both straight off
    // orders, so a merge that dropped, reordered, or backfilled the
    // column fails the hash gate.
    "q106_schema_evolution" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreEvolved(s, d)
      graft.sources.SnapshotLog.readVersion(s, dir, 2, mergeSchema = true)
        .agg(count(lit(1)).as("n_rows"),
             count($"o_custkey").as("n_with_cust"),
             sum(when($"o_orderkey" % 2 === 0 && $"o_custkey".isNotNull,
               1L).otherwise(0L)).as("n_backfilled"),
             sum($"o_custkey").as("cust_sum"),
             graft.Dets.dsum($"o_totalprice").as("total_price"))
        .select($"n_rows", $"n_with_cust", $"n_backfilled",
                $"cust_sum", $"total_price")
    },

    // COPY-ON-WRITE DELETE — the row-delete a plain-parquet lake needs
    // MERGE's delete clause to become a standalone operation: delete
    // the middle-sixth key range from the range-clustered store and
    // the footer-stats planner rewrites exactly ONE of the three files
    // (the middle third that owns the range) while the other two are
    // SHARED verbatim into the new manifest — zero IO on untouched
    // data, the granularity that makes deletes affordable at 100 TB.
    // The rewritten/kept file counts ride the oracle row (q105's
    // trick: a COW regression that rewrote everything fails the hash
    // gate); post-delete count/exact total and the pre-delete version
    // still reading EVERYTHING pin both halves of the contract —
    // deletion applied, history intact (time travel is the undo). The
    // delete runs once per fixture generation (version 4 of the
    // clustered store, idempotent behind the versions check).
    "q107_cow_delete" -> { (s, d) =>
      import s.implicits._
      val dir = timeTravelStoreClustered(s, d)
      val m = ttcMaxKey(dir)
      val (lo, hi) = ttcCowRange(m)
      ensureTtcVersion(s, dir, m, upTo = 4)
      // the COW stats replay from the manifests themselves (a fresh
      // JVM over an already-deleted store derives the same counts):
      // files shared between v3 and v4 were untouched, files of v3
      // absent from v4 were the rewrite's inputs
      val m3 = graft.sources.SnapshotLog.manifest(dir, 3).toSet
      val m4 = graft.sources.SnapshotLog.manifest(dir, 4).toSet
      val kept = (m3 & m4).size
      val rewritten = (m3 -- m4).size
      val after = graft.sources.SnapshotLog.readVersion(s, dir, 4)
      val before = graft.sources.SnapshotLog.readVersion(s, dir, 3)
      after.agg(count(lit(1)).as("n_rows_after"),
          graft.Dets.dsum($"o_totalprice").as("total_after"),
          sum(when($"o_orderkey".between(lo, hi), 1L).otherwise(0L))
            .as("n_in_range_after"))
        .crossJoin(broadcast(before.agg(
          count(lit(1)).as("n_rows_before"),
          sum(when($"o_orderkey".between(lo, hi), 1L).otherwise(0L))
            .as("n_in_range_before"))))
        .select($"n_rows_after", $"total_after", $"n_in_range_after",
          $"n_rows_before", $"n_in_range_before",
          lit(rewritten).as("n_files_rewritten"),
          lit(kept).as("n_files_kept"))
    },

    // Funnel analysis — per-user stage progression (view → click →
    // purchase) from the event stream: one pass collects each user's
    // FIRST timestamp per stage (pivot-style conditional min — no joins,
    // no re-scans per stage), then ordered-timestamp conjunctions count
    // who reached each stage in order. One shuffle on user_id; the
    // funnel report is a single tiny aggregate.
    "q67_funnel" -> { (s, d) =>
      import s.implicits._
      val stages = T.events(s, d)
        .withColumn("tsec", unix_timestamp(date_trunc("second", $"ts")))
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "view", $"tsec")).as("t_view"),
             min(when($"event_type" === "click", $"tsec")).as("t_click"),
             min(when($"event_type" === "purchase", $"tsec")).as("t_purchase"))
      stages.agg(
          count(lit(1)).as("n_users"),
          sum(when($"t_view".isNotNull, 1L).otherwise(0L)).as("n_view"),
          sum(when($"t_view".isNotNull && $"t_click" >= $"t_view", 1L)
            .otherwise(0L)).as("n_view_click"),
          sum(when($"t_view".isNotNull && $"t_click" >= $"t_view" &&
                   $"t_purchase" >= $"t_click", 1L)
            .otherwise(0L)).as("n_view_click_purchase"))
        .select($"n_users", $"n_view", $"n_view_click",
                $"n_view_click_purchase")
    },

    // Resample + linear interpolation — the time-series regularization
    // step (sensor/weather series rarely arrive on the grid the model
    // wants): per sampled user, an hourly grid spans their event window
    // and each slot linearly interpolates between the surrounding
    // events. ONE union + one windowed pass: event rows and grid rows
    // interleave on (tsec, event_id), carry-forward gives each slot its
    // predecessor, a mirrored forward frame gives its successor — no
    // per-slot join, no as-of join per direction. Everything orders on
    // integer epoch seconds with an event_id tie-break (grid rows sort
    // AFTER a coincident event, so a slot ON an event takes exactly
    // that event's value), and the lerp is one identical IEEE
    // expression on both engines — no sums, so order-free.
    "q68_resample_interpolate" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = T.events(s, d)
        .filter($"user_id" % 25 === 0)
        .withColumn("tsec", unix_timestamp(date_trunc("second", $"ts")))
        // one deterministic value per (user, second): min-event_id wins.
        // As a groupBy (not a ranking window) the dedup PARTIAL-
        // aggregates map-side, so duplicate seconds collapse before the
        // shuffle — the exchange carries at most one row per (user,
        // second) instead of the full event stream, and the window
        // formulation's full-volume sort disappears entirely
        .groupBy($"user_id", $"tsec")
        .agg(min($"event_id").as("event_id"),
             expr("min_by(value, event_id)").as("value"))
        .select($"user_id", $"tsec", $"event_id", $"value")
      // NOTE (r21): ev feeds both the grid aggregate and the union's
      // event branch with no runtime exchange reuse (2 scans in the
      // executed plan), but a localCheckpoint here measured 1.27x
      // SLOWER — the duplicated work (one 2 MB scan + a map-side-
      // combined dedup shuffle) is cheaper than the materialization
      // barrier. Left duplicated on that measurement.
      val grid = ev.groupBy($"user_id")
        .agg(min($"tsec").as("lo"), max($"tsec").as("hi"))
        // Spark sequence(start, stop) THROWS on start > stop (DuckDB's
        // range is just empty) — a sub-hour user window is skipped on
        // both engines explicitly
        .filter(expr("CAST(ceil(lo / 3600.0) AS BIGINT) * 3600 <= hi"))
        .select($"user_id", explode(expr(
          "sequence(CAST(ceil(lo / 3600.0) AS BIGINT) * 3600, hi, 3600)"))
          .as("tsec"))
        .select($"user_id", $"tsec",
          lit(Long.MaxValue).as("event_id"),
          lit(null).cast("double").as("value"),
          lit(true).as("is_grid"))
      val w = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
      val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ev.withColumn("is_grid", lit(false))
        .unionByName(grid)
        .withColumn("ev_ts",
          when(!$"is_grid", $"tsec").cast("long"))
        .withColumn("prev_ts", last($"ev_ts", ignoreNulls = true).over(back))
        .withColumn("prev_v", last(when(!$"is_grid", $"value"),
          ignoreNulls = true).over(back))
        .withColumn("next_ts", first($"ev_ts", ignoreNulls = true).over(fwd))
        .withColumn("next_v", first(when(!$"is_grid", $"value"),
          ignoreNulls = true).over(fwd))
        .filter($"is_grid")
        .select($"user_id", $"tsec",
          when($"prev_ts".isNotNull && $"next_ts".isNotNull &&
               $"next_ts" > $"prev_ts",
            $"prev_v" + ($"next_v" - $"prev_v") *
              ($"tsec" - $"prev_ts").cast("double") /
              ($"next_ts" - $"prev_ts"))
          .when($"prev_ts".isNotNull && $"next_ts".isNotNull, $"prev_v")
          .when($"prev_ts".isNotNull, $"prev_v")
          .otherwise($"next_v").as("value_interp"))
        .orderBy($"user_id", $"tsec")
    },

    // Cohort retention — the companion to q67's funnel: users grouped by
    // their first active epoch-week, counted at each later week offset.
    // Absolute epoch weeks (tsec div 604800) keep the bucketing free of
    // any corpus-derived scalar; distinct (user, week) first, so the
    // count is activity, not event volume. Two narrow shuffles (user_id,
    // then (cohort, offset)) over long keys only.
    "q69_retention" -> { (s, d) =>
      import s.implicits._
      val uw = T.events(s, d)
        .withColumn("tsec", unix_timestamp(date_trunc("second", $"ts")))
        .select($"user_id", expr("tsec div 604800").as("week"))
        .distinct()
      val cohorts = uw.groupBy($"user_id").agg(min($"week").as("cohort"))
      uw.join(cohorts, Seq("user_id"))
        .groupBy($"cohort", ($"week" - $"cohort").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"cohort", $"week_offset")
    },

    // COST-BASED JOIN REORDERING — the optimizer capability a 100 TB
    // warehouse leans on hardest (hand-ordered joins rot as data
    // drifts; the engine must pick the join tree from STATISTICS):
    // the query is STATED in the worst order — the fact-fact pairing
    // (lineitem ⋈ orders) FIRST, the nation-filtered customer last —
    // and Catalyst's CBO (stats from ANALYZE TABLE ... FOR COLUMNS,
    // equality selectivity 1/NDV from the column NDVs) must reorder
    // so the selective customer filter shrinks orders BEFORE the fact
    // side is touched. PlanShapeSpec pins the reorder structurally:
    // the optimized plan's innermost join pairs orders with customer,
    // never lineitem with orders. Session hygiene: CBO and join
    // reorder are flipped on a derived `newSession()` — conf changes
    // never leak into the shared session (the catalog entries are
    // fingerprint-memoized like q82's, so the stats ingest is paid
    // once per fixture generation, not per run). At 100 TB: ANALYZE
    // runs at ingest; every downstream query inherits the reorder
    // for free — exactly the declarative-plan bet this library makes.
    "q91_cbo_join_reorder" -> { (s, d) =>
      cboJoinFrame(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
             graft.Dets.dsumDec(
               graft.Dets.dec(col("l_extendedprice")) *
                 (lit(1) - graft.Dets.dec(col("l_discount"))))
               .as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // Wide→long melt with the DataFrame unpivot API (ids kept, measure
    // name + value columns emitted).
    "q55_unpivot" -> { (s, d) =>
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_orderkey" % 100 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        // lineitem has duplicate (orderkey, linenumber) keys at sf0.1 —
        // val joins the sort to keep the order total
        .orderBy($"l_orderkey", $"l_linenumber", $"measure", $"val")
    },

    // EXISTS / NOT EXISTS correlated subqueries (planned as semi/anti
    // joins — same scale shape as q05/q06, stated in SQL).
    "q58_exists_subquery" -> { (s, d) =>
      T.customer(s, d).createOrReplaceTempView("v_customer_e")
      T.orders(s, d).createOrReplaceTempView("v_orders_e")
      s.sql(
        """SELECT c.c_custkey, c.c_name
          |FROM v_customer_e c
          |WHERE EXISTS (
          |    SELECT 1 FROM v_orders_e o
          |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
          |  AND NOT EXISTS (
          |    SELECT 1 FROM v_orders_e o
          |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 5000)
          |ORDER BY c.c_custkey""".stripMargin)
    },

    // Window navigation with null handling: nth_value, and lead/first
    // with IGNORE NULLS (the gap-filling idiom for sparse time series).
    "q59_window_ignore_nulls" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"event_id")
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T.events(s, d)
        .withColumn("purchase_val",
          when($"event_type" === "purchase", $"value")) // null otherwise
        .withColumn("second_type", nth_value($"event_type", 2).over(wAll))
        .withColumn("next_purchase",
          lead($"purchase_val", 1, null, ignoreNulls = true).over(w))
        .withColumn("first_purchase",
          first($"purchase_val", ignoreNulls = true).over(wAll))
        .filter($"event_id" % 20 === 0)
        .select($"user_id", $"event_id", $"second_type",
                $"next_purchase", $"first_purchase")
        .orderBy($"user_id", $"event_id")
    },

    // LATERAL correlated aggregate subquery (SQL surface; Catalyst
    // decorrelates it into an aggregate + left outer join).
    "q56_lateral_agg" -> { (s, d) =>
      T.customer(s, d).createOrReplaceTempView("v_customer_l")
      T.orders(s, d).createOrReplaceTempView("v_orders_l")
      s.sql(
        """SELECT c.c_custkey, c.c_name, o.n_orders, o.max_price
          |FROM v_customer_l c,
          |LATERAL (
          |  SELECT COUNT(*) AS n_orders,
          |    CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
          |      AS max_price
          |  FROM v_orders_l WHERE o_custkey = c.c_custkey) o
          |WHERE c.c_custkey % 10 = 0
          |ORDER BY c.c_custkey""".stripMargin)
    },

    // Snapshot reconciliation — the migration-validation op: diff two
    // table snapshots into a report (added / removed / changed /
    // unchanged, plus per-column attribution for the changed set).
    // Scale shape: the diff itself runs NARROW — each side projects to
    // (key, 60-bit row hash) before the full-outer join, so the shuffle
    // carries 16 bytes/row regardless of row width — and only the
    // changed keys (the small fraction reconciliation exists to find)
    // re-join their wide rows for column attribution via a semi-join
    // prefilter. Hash equality stands in for row equality at 2^-60
    // per-pair collision odds (d04 precedent); the oracle compares
    // columns directly, so a collision would surface as a gate failure.
    // Fixture: deterministic mutations of orders (drop %13, reprice %7,
    // reprioritize %19, add %11 under shifted keys).
    "q75_snapshot_diff" -> { (s, d) =>
      import s.implicits._
      val cmpCols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      val base = T.orders(s, d)
      val cur = base.filter($"o_orderkey" % 13 =!= 0)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 7 === 0, $"o_totalprice" + 1.0)
            .otherwise($"o_totalprice"))
        .withColumn("o_orderpriority",
          when($"o_orderkey" % 19 === 0, lit("9-RECHECK"))
            .otherwise($"o_orderpriority"))
        .unionByName(base.filter($"o_orderkey" % 11 === 0)
          .withColumn("o_orderkey", $"o_orderkey" + 9000000L))
      // per-column NULL sentinel BEFORE concat: concat_ws skips nulls,
      // which would conflate (NULL,"x") with ("x",NULL)
      def kh(df: DataFrame): DataFrame = df.select($"o_orderkey".as("k"),
        graft.Dets.phash(concat_ws("\u0001",
          cmpCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*))
          .as("h"))
      val statuses = kh(base).as("b")
        .join(kh(cur).as("c"), Seq("k"), "full_outer")
        .select($"k",
          when(col("c.h").isNull, "removed")
            .when(col("b.h").isNull, "added")
            .when(col("b.h") =!= col("c.h"), "changed")
            .otherwise("unchanged").as("status"))
      // NOT checkpointed: the narrow full-outer diff join is spec-pinned
      // to appear in this query's executed plan (PlanShapeSpec) — the
      // counts and changed-keys branches re-run the (key, hash) diff,
      // which is the narrow shape the pin protects
      val counts = statuses.groupBy($"status").agg(count(lit(1)).as("n"))
      val changedKeys = statuses.filter($"status" === "changed").select($"k")
      val attribution = base.as("b")
        .join(changedKeys, col("b.o_orderkey") === $"k", "left_semi")
        .join(cur.as("c"), col("b.o_orderkey") === col("c.o_orderkey"))
        .select(cmpCols.map(cn =>
          (!(col(s"b.$cn") <=> col(s"c.$cn"))).cast("long").as(cn)): _*)
        .select(cmpCols.map(cn => sum(col(cn)).as(cn)): _*)
        .select(expr(s"stack(${cmpCols.size}, " +
          cmpCols.map(cn => s"'changed_$cn', $cn").mkString(", ") +
          ") AS (status, n)"))
        .filter($"n" > 0)
      counts.unionByName(attribution).orderBy($"status")
    },

    // INCREMENTAL ROLLUP MAINTENANCE — the materialized-view delta
    // merge every warehouse runs nightly: a per-key aggregate state
    // (count / decimal-exact sum / min / max / last-activity) is
    // maintained by MERGING the day's delta state into the base state,
    // never by rescanning base facts. Both sides pre-aggregate to
    // O(keys) rows map-side; the merge is ONE full-outer equi-join on
    // the key handling all three branches (base-only carries, delta-only
    // inserts, both-sides combine — Spark's null-skipping least/greatest
    // and coalesced adds make the combine branch-free). The oracle is
    // the one-shot GROUP BY over all facts: hash equality IS the
    // materialized-view invariant (merge(state(A), state(B)) ==
    // state(A ∪ B)) — the mergeable-state law the sketch ops
    // (q74/q77) rely on, proven here for the algebraic aggregate core.
    // At 100 TB the base STATE is the rollup (O(keys), small) and the
    // delta is a day's arrivals: the fixture derives base from facts
    // only because there is no prior state to read; a deployment reads
    // it back from the lake. Sums stay decimal (widened to (38,4) in
    // the state) until after the merge so the addition is exact.
    "q86_incremental_rollup" -> { (s, d) =>
      import s.implicits._
      val cutoff = "1998-07-01"
      val orders = T.orders(s, d)
      val base = rollupState(orders.filter($"o_orderdate" < lit(cutoff)))
      val delta = rollupState(orders.filter($"o_orderdate" >= lit(cutoff)))
      rollupMerge(base, delta)
        .select($"o_custkey", $"n_orders",
          $"sum_price_dec".cast("double").as("sum_price"),
          $"min_price", $"max_price", $"last_order")
        .orderBy($"o_custkey")
    },

    // CO-LOCATED (bucketed) JOIN — the ingest-time layout decision that
    // removes the shuffle from a 100 TB fact-to-fact join entirely:
    // both sides are written `bucketBy(8, key).sortBy(key)` so every
    // bucket pair is co-located and the sort-merge join needs NO
    // Exchange on either side (PlanShapeSpec pins the join subtree
    // exchange-free and the whole query to ONE post-join aggregate
    // exchange). The MERGE hint keeps Catalyst from broadcasting the
    // small fixture side — at real scale neither fact side broadcasts,
    // so the hinted plan IS the production plan. The bucketed layout is
    // written once per fixture generation and memoized across processes
    // (see [[bucketedTables]]) — exactly the production amortization: a
    // cold session re-registers the catalog entry over the existing
    // files instead of re-proving the ingest decision. Parallelism contract:
    // bucket count (8), not cpu count, fixes the scan partitioning, so
    // results and plan are cluster-size-invariant by construction.
    "q82_bucketed_join" -> { (s, d) =>
      import s.implicits._
      bucketedJoinFrame(s, d)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
             graft.Dets.dsumDec(
               graft.Dets.dec($"l_extendedprice") *
                 (lit(1) - graft.Dets.dec($"l_discount")))
               .as("revenue"))
        .orderBy($"o_orderpriority")
    },

    // STATIC PARTITION PRUNING — the other half of the ingest-layout
    // story (q82 co-locates the join; q83 makes the SCAN pay only for
    // the slice it needs): events land partitioned by
    // (event_type, event_date), so a "clicks in this week" query
    // resolves both predicates against directory METADATA — 7 of
    // ~150 partitions are listed, zero bytes of the rest are read, and
    // no row-level filter survives into the scan (PlanShapeSpec pins
    // partitionFilters non-empty and dataFilters EMPTY). At 100 TB this
    // is the difference between a full-corpus scan and reading one
    // day-slice; the layout is the same one every log pipeline writes.
    "q83_partition_pruned_scan" -> { (s, d) =>
      import s.implicits._
      val ev = s.read.parquet(partitionedEventsLayout(s, d))
      prunedClickWeek(ev)
        .groupBy($"event_date")
        .agg(count(lit(1)).as("n_events"),
             graft.Dets.dsumDec(graft.Dets.dec($"value")).as("total_value"))
        .orderBy($"event_date")
    },

    // DYNAMIC PARTITION PRUNING (runtime filter) — the partition values
    // worth reading are only known AT RUNTIME: the "hot days" are the
    // top-3 days by error count, discovered by a subquery over the same
    // layout. Catalyst inserts a DynamicPruningExpression into the fact
    // scan's partition filters (pinned in PlanShapeSpec): the broadcast
    // of the 3-row dim side is REUSED as a runtime partition filter, so
    // the click scan lists and reads only those 3 days' directories —
    // the star-schema pattern ("facts for the dim rows that survived a
    // selective filter") that static pruning can never express. At
    // 100 TB the fact side never materializes outside the hot slice.
    "q84_runtime_filtered_scan" -> { (s, d) =>
      import s.implicits._
      val ev = s.read.parquet(partitionedEventsLayout(s, d))
      val hot = ev.filter($"event_type" === "error")
        .groupBy($"event_date").agg(count(lit(1)).as("n_err"))
        .orderBy($"n_err".desc, $"event_date").limit(3)
      ev.filter($"event_type" === "click")
        .join(broadcast(hot), Seq("event_date"))
        .groupBy($"event_date", $"n_err")
        .agg(count(lit(1)).as("n_clicks"),
             graft.Dets.dsumDec(graft.Dets.dec($"value")).as("click_value"))
        .orderBy($"event_date")
    },

    // HIERARCHY ROLLUP — the recursive-query class (ANSI WITH
    // RECURSIVE; org charts, BOM explosions, reply trees): every doc is
    // a node of the deterministic octal forest parent(i) = i DIV 8 with
    // roots 0..7, and the report rolls subtree population + char mass
    // up by (root, depth). Spark has no recursive CTE; the naive
    // restatement (one join per LEVEL) serializes O(depth) dependent
    // shuffles, so this is POINTER DOUBLING — the CC family's trick on
    // rooted trees: each round joins every node's ancestor pointer to
    // that ancestor's OWN pointer, doubling the hop span and summing
    // hop counts, so depth-D trees resolve in ceil(log2 D) uniform-key
    // equi-joins of (id, anc, depth) longs. Roots are fixpoints
    // (anc = self, hops 0) and pass through unchanged; after the round
    // budget a convergence guard fails LOUDLY if any non-root ancestor
    // remains — never a silently partial rollup. The DuckDB oracle IS
    // the ANSI recursive CTE, so the two different evaluation
    // strategies must agree row-for-row. Nodes whose parent id is
    // absent are pruned identically by both (the inner pointer join /
    // the never-reached walk row). 100 TB shape: real hierarchies are
    // log-shallow, rounds stay ~3; nothing wider than three longs ever
    // shuffles.
    "q85_hierarchy_rollup" -> { (s, d) =>
      import s.implicits._
      val docs = T.documents(s, d)
        .select($"doc_id", length($"text").cast("long").as("chars"))
      var state = docs.select($"doc_id".as("id"),
          when($"doc_id" < 8, $"doc_id").otherwise(expr("doc_id DIV 8"))
            .as("anc"),
          when($"doc_id" < 8, 0L).otherwise(1L).as("depth"))
        .localCheckpoint()
      for (_ <- 1 to 5) { // 2^5 = 32 hops, far past any octal forest
        val ptr = state.select($"id".as("anc"), $"anc".as("anc2"),
          $"depth".as("d2"))
        state = state.join(ptr, Seq("anc"))
          .select($"id", $"anc2".as("anc"), ($"depth" + $"d2").as("depth"))
          .localCheckpoint()
      }
      val unresolved = state.filter($"anc" >= 8).count()
      require(unresolved == 0L,
        s"hierarchy not converged: $unresolved non-root ancestors")
      state.join(docs, $"id" === $"doc_id")
        .groupBy($"anc".as("root_id"), $"depth")
        .agg(count(lit(1)).as("n_nodes"), sum($"chars").as("sum_chars"))
        .orderBy($"root_id", $"depth")
    },

    // Z-ORDER LAYOUT PLANNER — the MULTI-dimensional half of the
    // layout family (q82 co-locates a join key, q83/q84 prune ONE
    // partition axis; a lakehouse clustering on two filter columns —
    // Delta/Iceberg OPTIMIZE ZORDER BY — needs the interleaved-bit
    // curve, because a linear sort on x leaves y's per-file min/max
    // spans full-range and a 2-D box predicate then reads every file
    // its x-slice touches): both candidate layouts priced against the
    // SAME box predicate under the real pruning model — a bucket (file)
    // is READ iff its per-bucket [min,max] of BOTH dims intersects the
    // box, exactly how parquet row-group stat pruning decides. Dims
    // normalized to 10 bits via in-plan maxes (q65's one-tiny-
    // aggregate-broadcast discipline — no driver scalar); z =
    // bit-interleave(xb, yb) (20 bits); 64 equal-width buckets per
    // layout = the writer's file boundaries. Report per layout:
    // buckets touched, rows read (the I/O bill), rows matching, and
    // read amplification — the number that decides whether to pay the
    // re-cluster. Scale shape: ONE fact scan fans each row to its two
    // (layout, bucket) keys map-side; everything after the first
    // aggregate is O(layouts × buckets) control rows. All counts
    // integer; amplification is one IEEE division per layout row.
    "q88_zorder_layout" -> { (s, d) =>
      import s.implicits._
      val li = T.lineitem(s, d).select($"l_partkey", $"l_suppkey")
      val bounds = li.agg(max($"l_partkey").cast("long").as("px"),
                          max($"l_suppkey").cast("long").as("sx"))
      val g = li.crossJoin(broadcast(bounds))
        .select(
          expr("CAST(l_partkey AS BIGINT) * 1024 DIV (px + 1)").as("xb"),
          expr("CAST(l_suppkey AS BIGINT) * 1024 DIV (sx + 1)").as("yb"))
        .withColumn("z", expr(
          """aggregate(sequence(0, 9), CAST(0 AS BIGINT), (acc, j) ->
            |  acc + shiftleft(shiftright(xb, j) & 1, 2 * j)
            |      + shiftleft(shiftright(yb, j) & 1, 2 * j + 1))"""
            .stripMargin))
        .withColumn("in_box", $"xb".between(192L, 319L) &&
                              $"yb".between(192L, 319L))
      val buckets = g.select(explode(array(
          struct(lit("linear").as("layout"), expr("xb DIV 16").as("b")),
          struct(lit("zorder").as("layout"), expr("z DIV 16384").as("b"))))
          .as("lb"), $"xb", $"yb", $"in_box")
        .groupBy($"lb.layout".as("layout"), $"lb.b".as("b"))
        .agg(count(lit(1)).as("n_rows"),
             min($"xb").as("xmin"), max($"xb").as("xmax"),
             min($"yb").as("ymin"), max($"yb").as("ymax"),
             sum(when($"in_box", 1L).otherwise(0L)).as("match_rows"))
      val touched = $"xmin" <= 319L && $"xmax" >= 192L &&
                    $"ymin" <= 319L && $"ymax" >= 192L
      buckets.groupBy($"layout")
        .agg(count(lit(1)).as("n_buckets"),
             sum(when(touched, 1L).otherwise(0L)).as("buckets_touched"),
             sum(when(touched, $"n_rows").otherwise(0L)).as("rows_read"),
             sum($"match_rows").as("rows_matching"))
        .withColumn("read_amplification",
          $"rows_read" / $"rows_matching".cast("double"))
        .orderBy($"layout")
    }
  )

  /** The exchange-free join subtree of q82 over the memoized bucketed
    * tables — factored out so PlanShapeSpec can assert the join plan
    * in isolation. */
  private[graft] def bucketedJoinFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (tl, to) = bucketedTables(s, d)
    s.table(tl).hint("merge")
      .join(s.table(to).hint("merge"), $"l_orderkey" === $"o_orderkey")
  }

  /** Write-once bucketed (8, orderkey) copies of lineitem and orders —
    * the ingest-time layout q82's co-located join scans. Memoized like
    * [[partitionedEventsLayout]]: the physical layout lives under a
    * warehouse dir carrying a `_GRAFT_FINGERPRINT` of the SOURCE
    * parquet's file metadata; a fresh JVM with a matching fingerprint
    * only re-registers the catalog entries (external bucketed tables
    * over the existing files — an O(1)-metadata DDL) instead of paying
    * the two table writes inside every timed run, and a regenerated
    * fixture invalidates the layout automatically. Table names and dir
    * are tagged by sf-dir digest so multiple scale factors coexist in
    * one catalog. */
  private val bktReady = scala.collection.mutable.Set[String]()
  private[graft] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    import org.apache.spark.sql.SaveMode
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val base = s.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + s"/graft_bkt_$tag"
    val (tl, to) = (s"graft_bkt_lineitem_$tag", s"graft_bkt_orders_$tag")
    val fp = sourceFingerprint(s, s"$d/lineitem.parquet", s"$d/orders.parquet")
    bktReady.synchronized {
      val memoKey = s"$base#$fp"
      if (!bktReady.contains(memoKey)) {
        if (!markerMatches(s, base, fp)) {
          // stale or absent layout: drop catalog entries (external —
          // the drop never deletes data), clear the physical dir, and
          // pay the ingest write once for this fixture generation
          Seq(tl, to).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
          val loc = new org.apache.hadoop.fs.Path(base)
          loc.getFileSystem(s.sessionState.newHadoopConf()).delete(loc, true)
          T.lineitem(s, d)
            .select($"l_orderkey", $"l_extendedprice", $"l_discount")
            .write.format("parquet").mode(SaveMode.Overwrite)
            .option("path", s"$base/lineitem")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(tl)
          T.orders(s, d).select($"o_orderkey", $"o_orderpriority")
            .write.format("parquet").mode(SaveMode.Overwrite)
            .option("path", s"$base/orders")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable(to)
          writeMarker(s, base, fp)
        } else {
          registerBucketed(s, tl, s"$base/lineitem", "l_orderkey")
          registerBucketed(s, to, s"$base/orders", "o_orderkey")
        }
        bktReady += memoKey
      }
    }
    (tl, to)
  }

  /** q102's versioned store: three snapshot appends (the
    * o_orderkey % 3 slices of orders, so each version's row set is
    * stateable in SQL) then one snapshot compaction — built ONCE per
    * fixture generation under the warehouse, fingerprint marker
    * written LAST (a crashed build rebuilds), so the timed query is
    * just four manifest-scoped reads. */
  private[graft] def timeTravelStore(s: SparkSession, d: String): String =
    // SnapshotLog drives java.nio directly — local path form
    memoizedArtifact(s, "graft_tt", d, Seq("orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = T.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      (0L to 2L).foreach { i =>
        graft.sources.SnapshotLog.appendVersion(
          base.filter(col("o_orderkey") % 3 === i), dir)
      }
      graft.sources.SnapshotLog.compactVersion(s, dir)
    }

  /** q105's RANGE-CLUSTERED versioned store: three appends of
    * contiguous o_orderkey thirds, one file each (coalesce(1)), so
    * every data file owns a tight key range and footer-stats file
    * pruning can actually bite. The slice boundary (max key) is an
    * O(1) build-time control read persisted to `_MAXKEY`, so the query
    * re-derives nothing. Memoized per fixture generation like
    * [[timeTravelStore]]. */
  private[graft] def timeTravelStoreClustered(s: SparkSession,
                                              d: String): String =
    memoizedArtifact(s, "graft_ttc", d, Seq("orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = T.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val m = base.agg(max(col("o_orderkey"))).head.getLong(0)
      Seq((0L, m / 3), (m / 3 + 1, 2 * m / 3), (2 * m / 3 + 1, m))
        .foreach { case (lo, hi) =>
          graft.sources.SnapshotLog.appendVersion(
            base.filter(col("o_orderkey").between(lo, hi)).coalesce(1),
            dir)
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_MAXKEY"),
        m.toString.getBytes("UTF-8"))
    }

  /** Serializes the once-per-store delete versions of the clustered
    * store (q107's COW v4, q108's MoR v5): each is applied exactly
    * once per fixture generation, idempotent behind the version
    * check, and v5 transitively ensures v4. */
  private val cowLock = new Object

  /** The clustered store's persisted slice boundary (written once at
    * build time — no scan at query time). */
  private[graft] def ttcMaxKey(dir: String): Long =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MAXKEY")), "UTF-8").trim.toLong

  /** The two delete ranges, stated ONCE in lockstep with the oracle
    * SQL's integer thirds (q105 also reads the COW range — it sits
    * strictly inside the middle slice, the 1-of-3-files pin). */
  private[graft] def ttcCowRange(m: Long): (Long, Long) =
    (m / 3 + 1, m / 2)
  private[graft] def ttcMorRange(m: Long): (Long, Long) =
    (m / 2 + 1, 2 * m / 3)

  private[graft] def ensureTtcVersion(s: SparkSession, dir: String,
                                      m: Long, upTo: Int): Unit =
    cowLock.synchronized {
      val (cl, ch) = ttcCowRange(m)
      val (ml, mh) = ttcMorRange(m)
      if (upTo >= 4 && graft.sources.SnapshotLog.versions(dir).max < 4)
        graft.sources.SnapshotLog.deleteWhere(s, dir, "o_orderkey", cl, ch)
      if (upTo >= 5 && graft.sources.SnapshotLog.versions(dir).max < 5)
        graft.sources.SnapshotLog.deleteWhereMoR(s, dir, "o_orderkey", ml, mh)
    }

  /** q112's Z-ORDERED store: one append of orders then a z-order
    * compaction on (o_orderkey, o_custkey) into ~8 files; both max
    * keys persist as control values (the _MAXKEY discipline). */
  private[graft] def timeTravelStoreZOrder(s: SparkSession,
                                           d: String): String =
    memoizedArtifact(s, "graft_ttzo", d, Seq("orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = T.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sources.SnapshotLog.appendVersion(base, dir)
      val total = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
        .map(_.length()).sum
      graft.sources.SnapshotLog.compactVersionZOrder(s, dir,
        "o_orderkey", "o_custkey",
        targetBytes = math.max(1L, total / 8))
      // q112's oracle pins both_pruned = TRUE as a literal; that holds
      // structurally only if the z-order rewrite produced enough files
      // for a quarter-range to prune on each axis — fail LOUD at build
      // time instead of a spurious hash mismatch at a scale where the
      // rewrite collapsed to too few non-empty parts (round-18 advice #5)
      val nZ = graft.sources.SnapshotLog.dataEntries(
        graft.sources.SnapshotLog.manifest(dir, 2)).size
      require(nZ >= 4,
        s"z-order fixture needs >= 4 data files for the pruning pin, got $nZ")
      val r = base.agg(max(col("o_orderkey")), max(col("o_custkey"))).head
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_MAXKEYS"),
        s"${r.getLong(0)} ${r.getLong(1)}".getBytes("UTF-8"))
    }

  private[graft] def ttzMaxKeys(dir: String): (Long, Long) = {
    val Array(mo, mc) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MAXKEYS")), "UTF-8").trim.split(" ")
    (mo.toLong, mc.toLong)
  }

  /** q106's SCHEMA-EVOLVED versioned store: v1 appends the even
    * o_orderkeys WITHOUT o_custkey (the original producer schema), v2
    * appends the odd keys WITH it (a producer upgrade) — the memoized
    * build behind the mergeSchema read. */
  private[graft] def timeTravelStoreEvolved(s: SparkSession,
                                            d: String): String =
    memoizedArtifact(s, "graft_tte", d, Seq("orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = T.orders(s, d)
      graft.sources.SnapshotLog.appendVersion(
        base.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice")), dir)
      graft.sources.SnapshotLog.appendVersion(
        base.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
                  col("o_custkey")), dir)
    }

  /** q115's TYPED-GRID store: NINE single-file appends — one per
    * (o_orderpriority group × o_orderdate third) cell of orders — so
    * every data file owns a tight range in BOTH the TIMESTAMP and the
    * STRING dimension and the typed stats-in-log can prove pruning on
    * either (round-19 verdict #1: long-only stats silently degraded
    * every timestamp/string predicate to a full read). Timestamps are
    * forced to INT64 micros at write time (INT96 carries no usable
    * footer stats); the date cuts persist as `_TSCUTS` control values
    * (the _MAXKEY discipline). Build fails LOUD unless all nine files
    * carry typed stats for both columns AND each low-priority-group
    * file contains a '2-*' row — the structural facts behind q115's
    * pinned kept/total file counts (the q112 discipline). */
  private[graft] def timeTravelStoreTyped(s: SparkSession,
                                          d: String): String =
    memoizedArtifact(s, "graft_tts", d, Seq("orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val prevTs = s.conf.getOption("spark.sql.parquet.outputTimestampType")
      s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try {
        // NTZ-encoded fixture timestamps cast to TIMESTAMP (identity
        // under the UTC session timezone, the Tables.normalizeTs rule)
        val base = T.orders(s, d).select(col("o_orderkey"),
          col("o_orderdate")
            .cast(org.apache.spark.sql.types.TimestampType)
            .as("o_orderdate"),
          col("o_orderpriority"), col("o_totalprice"))
        val r = base.agg(min(unix_micros(col("o_orderdate"))),
                         max(unix_micros(col("o_orderdate")))).head
        val (tmin, tmax) = (r.getLong(0), r.getLong(1))
        val span = tmax - tmin
        val (cut1, cut2) = (tmin + span / 3, tmin + 2 * span / 3)
        val mic = unix_micros(col("o_orderdate"))
        val priGroups = Seq(
          col("o_orderpriority") < "3",
          col("o_orderpriority") >= "3" && col("o_orderpriority") < "4",
          col("o_orderpriority") >= "4")
        val dateThirds = Seq(
          mic <= cut1, mic > cut1 && mic <= cut2, mic > cut2)
        for (pg <- priGroups; tt <- dateThirds)
          graft.sources.SnapshotLog.appendVersion(
            base.filter(pg && tt).coalesce(1), dir)
        val files = graft.sources.SnapshotLog.dataEntries(
          graft.sources.SnapshotLog.manifest(dir, 9))
        require(files.size == 9,
          s"typed-grid fixture needs 9 non-empty cells, got ${files.size}")
        val typed = graft.sources.SnapshotLog.fileTypedRanges(dir, 9)
        val missing = files.flatMap(f =>
          Seq("o_orderdate", "o_orderpriority").collect {
            case c if !typed.contains((f, c)) => s"$f/$c" })
        require(missing.isEmpty,
          s"typed-grid fixture: files without typed stats: $missing")
        // the pinned pri_files_read = 6 needs every low-group file's
        // stat MAX to reach the '2' lower bound
        val lowGroupOk = priGroups.head
        val perThird = dateThirds.map(tt => base.filter(lowGroupOk && tt)
          .filter(col("o_orderpriority") >= "2").limit(1).count())
        require(perThird.forall(_ > 0),
          "typed-grid fixture: a low-priority cell has no '2-*' row — " +
            "the pri-pruning pin would not hold at this scale")
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_TSCUTS"),
          s"$tmin $tmax".getBytes("UTF-8"))
      } finally {
        prevTs match {
          case Some(v) => s.conf.set("spark.sql.parquet.outputTimestampType", v)
          case None => s.conf.unset("spark.sql.parquet.outputTimestampType")
        }
      }
    }

  private[graft] def tttTsRange(dir: String): (Long, Long) = {
    val Array(a, b) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_TSCUTS")), "UTF-8").trim.split(" ")
    (a.toLong, b.toLong)
  }

  /** q118's DECIMAL-CLUSTERED store: three single-file appends of
    * (o_orderkey, price DECIMAL(12,2)) sliced by FIXED price
    * boundaries (50k / 150k — o_totalprice's distribution is
    * scale-free, so the slices are non-empty at every sf; the build
    * fails loud otherwise), so each file owns a tight decimal range
    * and the `dec` typed stats can prove pruning. Spark writes
    * precision-12 decimals as INT64 unscaled — exactly the stats the
    * collector reads. */
  private[graft] def timeTravelStoreDecimal(s: SparkSession,
                                            d: String): String =
    memoizedArtifact(s, "graft_ttdec", d, Seq("orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = T.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      Seq(col("price") < 50000.00,
          col("price") >= 50000.00 && col("price") < 150000.00,
          col("price") >= 150000.00)
        .foreach { slice =>
          graft.sources.SnapshotLog.appendVersion(
            base.filter(slice).coalesce(1), dir)
        }
      val typed = graft.sources.SnapshotLog.fileTypedRanges(dir, 3)
      val files = graft.sources.SnapshotLog.dataEntries(
        graft.sources.SnapshotLog.manifest(dir, 3))
      require(files.size == 3 &&
          files.forall(f => typed.get((f, "price")).exists(_.tag == "dec")),
        s"decimal fixture needs 3 stat-bearing files, got $files / $typed")
    }

  /** q116's COLUMN-MAPPED store: v1 appends the even o_orderkeys as
    * (o_orderkey, o_totalprice, o_custkey); v2 RENAMES o_totalprice →
    * price (metadata-only — the physical column in the files is
    * unchanged); v3 appends the odd keys under the new name (written
    * physical by the mapped append path); v4 DROPS o_custkey. The
    * memoized build behind q116's rename/drop read. */
  private[graft] def timeTravelStoreMapped(s: SparkSession,
                                           d: String): String =
    memoizedArtifact(s, "graft_ttcm", d, Seq("orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = T.orders(s, d)
      graft.sources.SnapshotLog.appendVersion(
        base.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"),
                  col("o_custkey")), dir)
      graft.sources.SnapshotLog.renameColumn(s, dir,
        "o_totalprice", "price")
      graft.sources.SnapshotLog.appendVersion(
        base.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice").as("price"),
                  col("o_custkey")), dir)
      graft.sources.SnapshotLog.dropColumn(s, dir, "o_custkey")
    }

  /** q91's deliberately mis-ordered 3-way join on a derived CBO-enabled
    * session over ANALYZEd catalog tables — factored out so
    * PlanShapeSpec can pin the reordered join tree in isolation. The
    * syntactic order pairs the two fact tables first; with column
    * stats (NDVs → 1/NDV equality selectivity) Catalyst's join
    * reordering must pull the nation-filtered customer in before
    * lineitem. The derived session keeps the cbo/joinReorder confs
    * from leaking into the caller's session. */
  private[graft] def cboJoinFrame(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      s.conf.get("spark.sql.shuffle.partitions"))
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val (tl, to, tc) = cboStatsTables(s2, d)
    val li = s2.table(tl)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = s2.table(to)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val cust = s2.table(tc).select(col("c_custkey"), col("c_nationkey"))
      .filter(col("c_nationkey") === 3)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
  }

  /** External catalog tables straight over the fixture parquet (no data
    * copy — the DDL is metadata-only) plus ANALYZE ... FOR COLUMNS, the
    * ingest-time stats pass CBO feeds on. Stats live in the in-memory
    * catalog, so each JVM pays the three stats scans once.
    *
    * Memoized on the SOURCE fingerprint, not the raw path (round-15
    * advice #3, matching the bucketedTables discipline): a fixture
    * regenerated in-place changes file lengths/mtimes, which both
    * re-runs ANALYZE (fresh NDVs for q91's reorder) and drops+recreates
    * the table definitions — stale column stats never outlive their
    * source for the JVM's lifetime. */
  private val cboStatsReady = scala.collection.mutable.Set[String]()
  private def cboStatsTables(s: SparkSession, d: String)
      : (String, String, String) = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    def name(t: String) = s"graft_cbo_${t}_$tag"
    val srcs = Seq("lineitem", "orders", "customer")
    val fp = sourceFingerprint(s, srcs.map(t => s"$d/$t.parquet"): _*)
    val memoKey = s"$d@$fp"
    cboStatsReady.synchronized {
      if (!cboStatsReady.contains(memoKey)) {
        Seq(("lineitem", Seq("l_orderkey")),
            ("orders", Seq("o_orderkey", "o_custkey")),
            ("customer", Seq("c_custkey", "c_nationkey"))).foreach {
          case (t, cols) =>
            val tbl = name(t)
            // a changed fingerprint means the parquet under the table
            // moved under the catalog — drop so CREATE re-reads schema
            // and ANALYZE below rebuilds the stats from the new bytes
            s.sql(s"DROP TABLE IF EXISTS $tbl")
            s.sql(s"CREATE TABLE $tbl USING parquet " +
              s"LOCATION '$d/$t.parquet'")
            s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS " +
              s"FOR COLUMNS ${cols.mkString(", ")}")
        }
        // only this fingerprint's key is valid now; retire stale ones
        // for the same dir so a flip back re-runs ANALYZE too
        cboStatsReady.filterInPlace(!_.startsWith(s"$d@"))
        cboStatsReady += memoKey
      }
    }
    (name("lineitem"), name("orders"), name("customer"))
  }

  /** Re-register a catalog entry over an existing bucketed layout (fresh
    * JVM, files already on disk): an external bucketed table whose
    * schema comes from the layout's own footer — one metadata read, no
    * data IO, and no hand-maintained DDL to drift from the fixture. */
  private def registerBucketed(s: SparkSession, table: String, loc: String,
                               key: String): Unit = {
    if (!s.catalog.tableExists(table)) {
      val schema = s.read.parquet(loc).schema.toDDL
      s.sql(s"CREATE TABLE $table ($schema) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS " +
        s"LOCATION '$loc'")
    }
  }

  /** q83's pruned scan subtree — factored out so PlanShapeSpec can
    * inspect the scan node's partition/data filter split in isolation. */
  private[graft] def prunedClickWeek(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.filter($"event_type" === "click" &&
        $"event_date".between(lit("2024-01-10").cast("date"),
                              lit("2024-01-16").cast("date")))
  }

  /** Write-once-per-JVM (event_type, event_date)-partitioned copy of the
    * events table under the session warehouse — the ingest-time layout
    * q83/q84 scan. The first caller in a JVM pays the write (overwriting
    * any stale dir from a previous process); subsequent queries reuse it,
    * which is exactly the production amortization: the layout is written
    * once at ingest and every downstream query prunes against it. The
    * dir name carries a digest of the source sf dir so different scale
    * factors in one JVM get disjoint layouts.
    *
    * Memoized ACROSS processes (round-14 advice: stop paying the
    * ingest-time write inside every timed bench run): the layout dir
    * carries a `_GRAFT_FINGERPRINT` of the SOURCE parquet's file
    * metadata; a fresh JVM whose fingerprint matches reuses the layout
    * without rewriting, and a regenerated fixture (changed lengths /
    * mtimes) invalidates it automatically — cold-session
    * reproducibility without re-proving an ingest decision per run. */
  private val partLayoutsWritten = scala.collection.mutable.Set[String]()
  private[graft] def partitionedEventsLayout(s: SparkSession, d: String): String = {
    import s.implicits._
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val dir = s.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + s"/graft_part_events_$tag"
    val fp = sourceFingerprint(s, s"$d/events.parquet")
    partLayoutsWritten.synchronized {
      val memoKey = s"$dir#$fp"
      if (!partLayoutsWritten.contains(memoKey)) {
        if (!markerMatches(s, dir, fp)) {
          T.events(s, d)
            .select($"event_id", $"user_id", $"value", $"ts",
              to_date($"ts").as("event_date"), $"event_type")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("event_type", "event_date")
            .parquet(dir)
          writeMarker(s, dir, fp)
        }
        partLayoutsWritten += memoKey
      }
    }
    dir
  }

  /** O(1)-metadata content fingerprint of source parquet paths: the
    * sorted (name, length, mtime) triples of every visible file,
    * digested. Detects a fixture regeneration without reading a byte of
    * data — the invalidation key for the memoized ingest layouts. */
  /** THE shared fingerprint-memoized artifact-build discipline (one
    * implementation for what were six near-identical copies across
    * beam/PQ/dedup-eval/time-travel, round-17 review): dir =
    * warehouse/`<prefix>_<md5(d)>`; if the `_GRAFT_FINGERPRINT` marker
    * doesn't match the current source fingerprint, the dir is wiped,
    * `build(dir)` runs, and the marker is written LAST (a crashed
    * build rebuilds); an in-JVM set skips the marker read on repeat
    * calls. `localPath` strips the `file:` scheme for builds that
    * drive java.nio directly (the SnapshotLog stores). */
  private val artifactReady =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def memoizedArtifact(s: SparkSession, prefix: String,
                                      d: String, srcFiles: Seq[String],
                                      localPath: Boolean = false)
                                     (build: String => Unit): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    val dir = (if (localPath) wh.stripPrefix("file:") else wh) +
      s"/${prefix}_$tag"
    val fp = sourceFingerprint(s, srcFiles.map(f => s"$d/$f"): _*)
    // one lock PER ARTIFACT DIR, not one global monitor: a minutes-long
    // build must not serialize unrelated families' builds or even their
    // fast marker-check paths (round-17 review)
    val lock = artifactLocks.computeIfAbsent(dir, _ => new Object)
    lock.synchronized {
      val memoKey = s"$dir#$fp"
      if (!artifactReady.contains(memoKey)) {
        if (!markerMatches(s, dir, fp)) {
          val loc = new org.apache.hadoop.fs.Path(dir)
          loc.getFileSystem(s.sessionState.newHadoopConf()).delete(loc, true)
          build(dir)
          writeMarker(s, dir, fp)
        }
        artifactReady.add(memoKey)
      }
    }
    dir
  }

  /** Session-checkpointed artifact frame, shared by every artifact
    * reader: ONE materialized copy per (session, artifact dir, frame)
    * per source generation. A regenerated fixture (new fingerprint)
    * EVICTS and unpersists the stale generation's entry, so a
    * long-lived session cycling fixtures doesn't pin dead checkpoint
    * blocks (round-17 review). */
  private val frameCache = scala.collection.mutable.Map[
    (SparkSession, String, String), (String, DataFrame)]()
  private[graft] def sessionArtifactFrame(s: SparkSession, dir: String,
                                          fp: String,
                                          name: String): DataFrame =
    frameCache.synchronized {
      frameCache.get((s, dir, name)) match {
        case Some((oldFp, df)) if oldFp == fp => df
        case old =>
          old.foreach { case (_, stale) =>
            try stale.unpersist(blocking = false)
            catch { case _: Throwable => () }
          }
          val df = s.read.parquet(s"$dir/$name").localCheckpoint()
          frameCache((s, dir, name)) = (fp, df)
          df
      }
    }

  private[graft] def sourceFingerprint(s: SparkSession, paths: String*): String = {
    import org.apache.hadoop.fs.Path
    val conf = s.sessionState.newHadoopConf()
    val entries = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(path).isDirectory)
          fs.listStatus(path).filter(f => !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
        else Array(fs.getFileStatus(path))
      files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
    }.sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def markerPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_GRAFT_FINGERPRINT")

  private[graft] def markerMatches(s: SparkSession, dir: String, fp: String): Boolean = {
    val p = markerPath(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    fs.exists(p) && {
      val in = fs.open(p)
      try {
        // loop to fill: a single read() may legally return short on
        // HDFS/object-store streams, and a spurious mismatch here
        // re-pays the full layout write the memoization exists to save
        val bytes = new Array[Byte](fp.length)
        var off = 0
        var n = 0
        while (off < bytes.length && n >= 0) {
          n = in.read(bytes, off, bytes.length - off)
          if (n > 0) off += n
        }
        off == fp.length && new String(bytes, "UTF-8") == fp
      } finally in.close()
    }
  }

  /** The marker is written LAST (after a complete layout write), so a
    * crashed write leaves no marker and the next caller rewrites — the
    * commit-last discipline of SnapshotLog's manifest claim. */
  private[graft] def writeMarker(s: SparkSession, dir: String, fp: String): Unit = {
    val p = markerPath(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  /** q86's per-key aggregate state over a batch of orders. Sums are
    * exact decimals, widened to DECIMAL(38,4) in the state so state
    * merging never narrows; the report casts to double once at the
    * end. The schema is CLOSED under [[rollupMerge]] — state in,
    * state out — which is what makes the maintenance iterable over
    * any number of deltas.
    */
  private[graft] def rollupState(df: DataFrame): DataFrame =
    df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           // the state column is DECIMAL(38,4) — wide enough that the
           // merge below is CLOSED without a narrowing cast (a (19,4)
           // overflow cast back to (18,4) returns NULL silently under
           // non-ANSI Spark, which would corrupt hot keys over
           // unbounded micro-batches without any error)
           sum(col("o_totalprice").cast("decimal(18,4)"))
             .cast("decimal(38,4)").as("sum_price_dec"),
           min(col("o_totalprice")).as("min_price"),
           max(col("o_totalprice")).as("max_price"),
           max(col("o_orderdate")).as("last_order"))

  /** The q86 merge: one full-outer equi-join on the key, all three
    * branches (base-only carry, delta-only insert, combine) branch-free
    * via null-skipping least/greatest and coalesced adds. */
  private[graft] def rollupMerge(base: DataFrame, delta: DataFrame): DataFrame = {
    val b = base.select(col("o_custkey"), col("n_orders").as("n_b"),
      col("sum_price_dec").as("s_b"), col("min_price").as("mn_b"),
      col("max_price").as("mx_b"), col("last_order").as("lo_b"))
    val dl = delta.select(col("o_custkey"), col("n_orders").as("n_d"),
      col("sum_price_dec").as("s_d"), col("min_price").as("mn_d"),
      col("max_price").as("mx_d"), col("last_order").as("lo_d"))
    b.join(dl, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_orders"),
        // both sides are decimal(38,4); Spark caps the add's result at
        // (38,4), so this cast never narrows — the merge stays exact
        // and NULL-free for any number of iterated maintenance steps
        (coalesce(col("s_b"), lit(0).cast("decimal(38,4)")) +
         coalesce(col("s_d"), lit(0).cast("decimal(38,4)")))
          .cast("decimal(38,4)").as("sum_price_dec"),
        least(col("mn_b"), col("mn_d")).as("min_price"),
        greatest(col("mx_b"), col("mx_d")).as("max_price"),
        greatest(col("lo_b"), col("lo_d")).as("last_order"))
  }

  /** q114's five-clause ladder (see the q114 entry's comment for the
    * clause semantics). */
  private def q114Ladder
      : (Seq[Merge.MergeClause], Seq[Merge.MergeClause]) = (
    Seq(
      Merge.delete("hard_delete",
        col("action") === "delete" && col("bal") < 5000),
      Merge.update("soft_delete", col("action") === "delete",
        "bal" -> lit(0.0)),
      Merge.update("bonus", col("amt") > 600000,
        "bal" -> (col("bal") + col("amt") / 10)),
      Merge.update("plain", lit(true),
        "bal" -> (col("bal") + col("amt")))),
    Seq(
      Merge.insert("inserted",
        col("action") =!= "delete" && col("amt") > 300000,
        "bal" -> col("amt"))))

  /** q100's target and change feed, factored out so the batch query,
    * the CDC stream, and the specs state the SAME rules once. */
  private[graft] def mergeTarget(s: SparkSession, d: String): DataFrame =
    T.customer(s, d).select(col("c_custkey").as("key"),
                            col("c_acctbal").as("bal"))

  /** [[mergeFeed]] restricted to base custkeys in [lo, hi] — q109's
    * feed: updates and deletes stay inside the middle slice, the %9
    * re-keys land at `insertOffset` + key as pure inserts, so the
    * persisted merge's file-granularity claim is testable. The offset
    * DERIVES from the store's max key (round-17 advice #4: a
    * hard-coded +1e6 aliases live keys above ~sf7, silently dragging
    * extra files into the probe and voiding the insert-count pin) —
    * [[ttmInsertOffset]] states it once for the feed, the query, and
    * the oracle. */
  private[graft] def ttmInsertOffset(m: Long): Long = m * 10
  private[graft] def mergeFeedRanged(s: SparkSession, d: String,
                                     lo: Long, hi: Long,
                                     insertOffset: Long): DataFrame = {
    val src0 = T.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .filter(col("o_custkey").between(lo, hi))
      .groupBy(col("o_custkey"))
      .agg(graft.Dets.dsum(col("o_totalprice")).as("amt"))
    src0.select(
      when(col("o_custkey") % 9 === 0, col("o_custkey") + insertOffset)
        .otherwise(col("o_custkey")).as("key"),
      col("amt"),
      when(col("o_custkey") % 13 === 0 && col("o_custkey") % 9 =!= 0,
        lit("delete")).otherwise(lit("upsert")).as("action"))
  }

  /** q109's MERGE-target store: the (key, bal) dimension range-
    * clustered into three single-file thirds by max key (_MAXKEY
    * persisted, the q105 discipline) — the layout that lets the
    * persisted merge prove it rewrote ONE file. */
  private[graft] def timeTravelStoreMerge(s: SparkSession,
                                          d: String): String =
    // BOTH source tables fingerprint the artifact: the base build reads
    // customer, but the committed v4 (ensureTtmVersion4's merge) derives
    // from orders — declaring only one would freeze q109 on a stale
    // feed after a partial fixture refresh (round-17 review). Prefix
    // bumped (ttm -> ttm2) when the insert offset moved to max-key
    // derivation: v4's contents changed without the sources changing.
    memoizedArtifact(s, "graft_ttm2", d,
        Seq("customer.parquet", "orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = mergeTarget(s, d)
      val m = base.agg(max(col("key"))).head.getLong(0)
      Seq((0L, m / 3), (m / 3 + 1, 2 * m / 3), (2 * m / 3 + 1, m))
        .foreach { case (lo, hi) =>
          graft.sources.SnapshotLog.appendVersion(
            base.filter(col("key").between(lo, hi)).coalesce(1), dir)
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_MAXKEY"),
        m.toString.getBytes("UTF-8"))
    }

  /** q113's DML-history store: v1-3 append the (key, bal) dimension in
    * clustered single-file thirds (the ttm layout), v4 COW-deletes the
    * lower-middle key slice, v5 merges the ranged feed — each DML
    * commit writing its row-level change files. Built ONCE per fixture
    * generation; both source tables fingerprint it (v5 derives from
    * orders). */
  private[graft] def timeTravelStoreCdc(s: SparkSession,
                                        d: String): String =
    // prefix bumped (ttcdc -> ttcdc2) when the manifests gained
    // CDC-file stats headers: q117's feed pruning plans off them, and
    // a store memoized before the headers existed would silently read
    // conservative (content and q113's hash are unchanged)
    memoizedArtifact(s, "graft_ttcdc2", d,
        Seq("customer.parquet", "orders.parquet"),
        localPath = true) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = mergeTarget(s, d)
      val m = base.agg(max(col("key"))).head.getLong(0)
      Seq((0L, m / 3), (m / 3 + 1, 2 * m / 3), (2 * m / 3 + 1, m))
        .foreach { case (lo, hi) =>
          graft.sources.SnapshotLog.appendVersion(
            base.filter(col("key").between(lo, hi)).coalesce(1), dir)
        }
      graft.sources.SnapshotLog.deleteWhere(s, dir, "key",
        m / 3 + 1, m / 2)
      graft.sources.SnapshotLog.mergeInto(s, dir,
        mergeFeedRanged(s, d, m / 2 + 1, 2 * m / 3, ttmInsertOffset(m)),
        "key", "bal")
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_MAXKEY"),
        m.toString.getBytes("UTF-8"))
    }

  /** Applies q109's persisted merge exactly once per store generation
    * (version 4), serialized like the clustered store's deletes. */
  private[graft] def ensureTtmVersion4(s: SparkSession, dir: String,
                                       d: String, m: Long): Unit =
    cowLock.synchronized {
      if (graft.sources.SnapshotLog.versions(dir).max < 4)
        graft.sources.SnapshotLog.mergeInto(s, dir,
          mergeFeedRanged(s, d, m / 3 + 1, 2 * m / 3, ttmInsertOffset(m)),
          "key", "bal")
    }

  /** q100/q110's change feed. The not-matched re-key offset DERIVES
    * from the target's max key via [[ttmInsertOffset]], exactly as
    * q109's ranged feed does (round-18 advice: the old hard-coded
    * +1e6 aliases live custkeys above ~sf7, silently turning the
    * insert stream into updates and voiding the not-matched clause).
    * The max is one O(1) driver-side agg over the small dimension. */
  private[graft] def mergeFeed(s: SparkSession, d: String): DataFrame = {
    val m = T.customer(s, d).agg(max(col("c_custkey"))).head.getLong(0)
    val src0 = T.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(graft.Dets.dsum(col("o_totalprice")).as("amt"))
    src0.select(
      when(col("o_custkey") % 9 === 0, col("o_custkey") + ttmInsertOffset(m))
        .otherwise(col("o_custkey")).as("key"),
      col("amt"),
      when(col("o_custkey") % 13 === 0 && col("o_custkey") % 9 =!= 0,
        lit("delete")).otherwise(lit("upsert")).as("action"))
  }

  /** q100's three plain clauses stated as a CONFIGURATION of the
    * general [[Merge.mergeClauses]] ladder (round-18 verdict #3: one
    * machinery, not a hard-coded CASE per merge flavor). `status` is
    * the per-row provenance the batch oracle pins. */
  private[graft] def mergeArbitrate(target: DataFrame,
                                    source: DataFrame): DataFrame =
    Merge.mergeClauses(target, source, "key",
      matched = Seq(
        Merge.delete("deleted", col("action") === "delete"),
        Merge.update("updated", lit(true),
          "bal" -> (col("bal") + col("amt")))),
      notMatched = Seq(
        Merge.insert("inserted", col("action") =!= "delete",
          "bal" -> col("amt"))),
      provenance = Some("status"))

  /** q110's ordered clause ladder (see the registry entry for the
    * clause list) as a [[Merge.mergeClauses]] configuration: every
    * 'delete' row drops — matched by clause 1, unmatched by the
    * insert clause's AND-predicate — and first-match-wins puts clause
    * 2 (reset on negative balance) in front of clause 3 (accumulate). */
  private[graft] def mergeArbitrateConditional(target: DataFrame,
                                               source: DataFrame): DataFrame =
    Merge.mergeClauses(target, source, "key",
      matched = Seq(
        Merge.delete("deleted", col("action") === "delete"),
        Merge.update("reset", col("bal") < 0, "bal" -> col("amt")),
        Merge.update("updated", lit(true),
          "bal" -> (col("bal") + col("amt")))),
      notMatched = Seq(
        Merge.insert("inserted", col("action") =!= "delete",
          "bal" -> col("amt"))),
      provenance = Some("clause"))

  def oracleSql: Map[String, String] = Map(

    // q86: the one-shot GROUP BY over ALL facts — equality with the
    // Spark-side base+delta merge proves the materialized-view
    // invariant merge(state(A), state(B)) == state(A ∪ B).
    "q86_incremental_rollup" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price,
        |  MAX(o_orderdate) AS last_order
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // q88: same 10-bit normalization, bit-interleave, 64 equal-width
    // buckets per layout, and min/max-intersection pruning model.
    "q88_zorder_layout" ->
      """WITH bounds AS (
        |  SELECT CAST(MAX(l_partkey) AS BIGINT) AS px,
        |         CAST(MAX(l_suppkey) AS BIGINT) AS sx FROM lineitem),
        |g AS (
        |  SELECT CAST(l_partkey AS BIGINT) * 1024 // (px + 1) AS xb,
        |         CAST(l_suppkey AS BIGINT) * 1024 // (sx + 1) AS yb
        |  FROM lineitem, bounds),
        |gz AS (
        |  SELECT xb, yb,
        |    CAST(list_sum(list_transform(range(0, 10), j ->
        |      (((xb >> CAST(j AS INT)) & 1) << CAST(2 * j AS INT)) +
        |      (((yb >> CAST(j AS INT)) & 1) << CAST(2 * j + 1 AS INT))))
        |      AS BIGINT) AS z,
        |    (xb BETWEEN 192 AND 319 AND yb BETWEEN 192 AND 319) AS in_box
        |  FROM g),
        |lb AS (
        |  SELECT 'linear' AS layout, xb // 16 AS b, xb, yb, in_box FROM gz
        |  UNION ALL
        |  SELECT 'zorder' AS layout, z // 16384 AS b, xb, yb, in_box
        |  FROM gz),
        |bk AS (
        |  SELECT layout, b, COUNT(*) AS n_rows,
        |    MIN(xb) AS xmin, MAX(xb) AS xmax,
        |    MIN(yb) AS ymin, MAX(yb) AS ymax,
        |    CAST(SUM(CASE WHEN in_box THEN 1 ELSE 0 END) AS BIGINT)
        |      AS match_rows
        |  FROM lb GROUP BY layout, b)
        |SELECT layout, COUNT(*) AS n_buckets,
        |  CAST(SUM(CASE WHEN xmin <= 319 AND xmax >= 192
        |                 AND ymin <= 319 AND ymax >= 192
        |            THEN 1 ELSE 0 END) AS BIGINT) AS buckets_touched,
        |  CAST(SUM(CASE WHEN xmin <= 319 AND xmax >= 192
        |                 AND ymin <= 319 AND ymax >= 192
        |            THEN n_rows ELSE 0 END) AS BIGINT) AS rows_read,
        |  CAST(SUM(match_rows) AS BIGINT) AS rows_matching,
        |  CAST(SUM(CASE WHEN xmin <= 319 AND xmax >= 192
        |                 AND ymin <= 319 AND ymax >= 192
        |            THEN n_rows ELSE 0 END) AS DOUBLE) / SUM(match_rows)
        |    AS read_amplification
        |FROM bk GROUP BY layout ORDER BY layout""".stripMargin,

    "q66_scd2_merge" ->
      """WITH dim AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |changes AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
        |  FROM dim WHERE c_custkey % 5 = 0)
        |SELECT c_custkey, c_name, c_acctbal,
        |  CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
        |  TRUE AS is_current
        |FROM dim WHERE c_custkey % 5 <> 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal,
        |  CAST(0 AS BIGINT), CAST(1000 AS BIGINT), FALSE
        |FROM dim WHERE c_custkey % 5 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal,
        |  CAST(1000 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        |FROM changes
        |ORDER BY c_custkey, valid_from""".stripMargin,

    // q100: the same three-clause arbitration stated over a full outer
    // join — both engines must agree row-for-row on every clause. The
    // insert offset is MAX(c_custkey)*10 on BOTH engines
    // (ttmInsertOffset — a hard-coded constant aliases live keys at
    // high sf, q109's round-17 lesson shared here).
    "q100_merge_into" ->
      """WITH mm AS (SELECT MAX(c_custkey) AS mx FROM customer),
        |tgt AS (SELECT c_custkey AS key, c_acctbal AS bal
        |             FROM customer),
        |src0 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS amt
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |src AS (
        |  SELECT CASE WHEN o_custkey % 9 = 0 THEN o_custkey + mx * 10
        |              ELSE o_custkey END AS key,
        |    amt,
        |    CASE WHEN o_custkey % 13 = 0 AND o_custkey % 9 <> 0
        |         THEN 'delete' ELSE 'upsert' END AS action
        |  FROM src0, mm),
        |m AS (
        |  SELECT COALESCE(t.key, s.key) AS key, t.bal, s.amt, s.action
        |  FROM tgt t FULL OUTER JOIN src s ON t.key = s.key)
        |SELECT key,
        |  CASE WHEN action IS NULL THEN bal
        |       WHEN bal IS NOT NULL THEN bal + amt
        |       ELSE amt END AS bal,
        |  CASE WHEN action IS NULL THEN 'kept'
        |       WHEN bal IS NOT NULL THEN 'updated'
        |       ELSE 'inserted' END AS status
        |FROM m WHERE action IS NULL OR action <> 'delete'
        |ORDER BY key""".stripMargin,

    // q110: the ordered clause ladder stated as one CASE whose branch
    // order IS the clause order — both engines must agree on every
    // row's surviving clause, incl. clause 2 shadowing clause 3.
    // Insert offset = MAX(c_custkey)*10, as q100/q109.
    "q110_merge_conditional" ->
      """WITH mm AS (SELECT MAX(c_custkey) AS mx FROM customer),
        |tgt AS (SELECT c_custkey AS key, c_acctbal AS bal
        |             FROM customer),
        |src0 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS amt
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |src AS (
        |  SELECT CASE WHEN o_custkey % 9 = 0 THEN o_custkey + mx * 10
        |              ELSE o_custkey END AS key,
        |    amt,
        |    CASE WHEN o_custkey % 13 = 0 AND o_custkey % 9 <> 0
        |         THEN 'delete' ELSE 'upsert' END AS action
        |  FROM src0, mm),
        |m AS (
        |  SELECT COALESCE(t.key, s.key) AS key, t.bal, s.amt, s.action
        |  FROM tgt t FULL OUTER JOIN src s ON t.key = s.key)
        |SELECT key,
        |  CASE WHEN action IS NULL THEN bal
        |       WHEN bal IS NULL THEN amt
        |       WHEN bal < 0 THEN amt
        |       ELSE bal + amt END AS bal,
        |  CASE WHEN action IS NULL THEN 'kept'
        |       WHEN bal IS NULL THEN 'inserted'
        |       WHEN bal < 0 THEN 'reset'
        |       ELSE 'updated' END AS clause
        |FROM m WHERE action IS NULL OR action <> 'delete'
        |ORDER BY key""".stripMargin,

    // q114: the five-clause ladder as one CASE whose branch order IS
    // the clause order; the WHERE states the two drop paths (the
    // conditional hard delete and the failed insert gate).
    "q114_merge_clauses" ->
      """WITH mm AS (SELECT MAX(c_custkey) AS mx FROM customer),
        |tgt AS (SELECT c_custkey AS key, c_acctbal AS bal
        |             FROM customer),
        |src0 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS amt
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |src AS (
        |  SELECT CASE WHEN o_custkey % 9 = 0 THEN o_custkey + mx * 10
        |              ELSE o_custkey END AS key,
        |    amt,
        |    CASE WHEN o_custkey % 13 = 0 AND o_custkey % 9 <> 0
        |         THEN 'delete' ELSE 'upsert' END AS action
        |  FROM src0, mm),
        |m AS (
        |  SELECT COALESCE(t.key, s.key) AS key, t.bal, s.amt, s.action,
        |    t.key IS NOT NULL AS m_t, s.key IS NOT NULL AS m_s
        |  FROM tgt t FULL OUTER JOIN src s ON t.key = s.key)
        |SELECT key,
        |  CASE WHEN NOT m_s THEN bal
        |       WHEN m_t AND action = 'delete' THEN 0.0
        |       WHEN m_t AND amt > 600000 THEN bal + amt / 10
        |       WHEN m_t THEN bal + amt
        |       ELSE amt END AS bal,
        |  CASE WHEN NOT m_s THEN 'kept'
        |       WHEN m_t AND action = 'delete' THEN 'soft_delete'
        |       WHEN m_t AND amt > 600000 THEN 'bonus'
        |       WHEN m_t THEN 'plain'
        |       ELSE 'inserted' END AS clause
        |FROM m
        |WHERE NOT m_s
        |   OR (m_t AND NOT (action = 'delete' AND bal < 5000))
        |   OR (NOT m_t AND action <> 'delete' AND amt > 300000)
        |ORDER BY key""".stripMargin,

    // q102: each version's cumulative slice stated straight off orders
    // (v1 = keys ≡ 0 mod 3, v2 adds ≡ 1, v3 adds ≡ 2, v4 = the
    // compacted twin of v3) — the hash match pins that the snapshot
    // appends, the manifest layer, and the compaction rewrite all
    // preserve exactly these row sets.
    "q102_time_travel" ->
      """WITH v AS (SELECT unnest([1, 2, 3, 4]) AS version)
        |SELECT version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_price,
        |  MAX(o_orderkey) AS max_key
        |FROM v JOIN orders
        |  ON (v.version >= 3 OR o_orderkey % 3 < v.version)
        |GROUP BY version ORDER BY version""".stripMargin,

    // q104: the per-version insert slice off orders; v4 (compaction)
    // must feed zero changes.
    "q104_snapshot_cdf" ->
      """WITH v AS (SELECT unnest([2, 3, 4]) AS version)
        |SELECT version,
        |  COUNT(o_orderkey) AS n_inserted,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0)
        |       AS DOUBLE) AS inserted_total
        |FROM v LEFT JOIN orders
        |  ON v.version <= 3 AND o_orderkey % 3 = v.version - 1
        |GROUP BY version ORDER BY version""".stripMargin,

    // q111: the same per-version insert slices, now read THROUGH the
    // ChangeFeedSource (its row decoding included in the hash).
    "q111_change_feed" ->
      """WITH v AS (SELECT unnest([2, 3, 4]) AS version)
        |SELECT version,
        |  COUNT(o_orderkey) AS n_inserted,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0)
        |       AS DOUBLE) AS inserted_total
        |FROM v LEFT JOIN orders
        |  ON v.version <= 3 AND o_orderkey % 3 = v.version - 1
        |GROUP BY version ORDER BY version""".stripMargin,

    // q113: every DML change row stated relationally — v4's deletes
    // are the COW range off customer, v5's updates/deletes/inserts are
    // the q109 merge algebra's per-clause effects (pre/post images for
    // matched upserts, preimages for matched deletes, far-key inserts).
    "q113_cdc_dml_feed" ->
      """WITH m AS (SELECT MAX(c_custkey) AS mx FROM customer),
        |src0 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS amt
        |  FROM orders, m
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_custkey > mx // 2 AND o_custkey <= 2 * mx // 3
        |  GROUP BY o_custkey),
        |src AS (
        |  SELECT CASE WHEN o_custkey % 9 = 0 THEN o_custkey + mx * 10
        |         ELSE o_custkey END AS key, amt,
        |    CASE WHEN o_custkey % 13 = 0 AND o_custkey % 9 <> 0
        |         THEN 'delete' ELSE 'upsert' END AS action
        |  FROM src0, m),
        |ch AS (
        |  SELECT 4 AS version, 'delete' AS change_type,
        |         c_custkey AS key, c_acctbal AS bal
        |  FROM customer, m
        |  WHERE c_custkey > mx // 3 AND c_custkey <= mx // 2
        |  UNION ALL
        |  SELECT 5, 'delete', key, c_acctbal
        |  FROM src JOIN customer ON key = c_custkey
        |  WHERE action = 'delete'
        |  UNION ALL
        |  SELECT 5, 'update_preimage', key, c_acctbal
        |  FROM src JOIN customer ON key = c_custkey
        |  WHERE action <> 'delete'
        |  UNION ALL
        |  SELECT 5, 'update_postimage', key, c_acctbal + amt
        |  FROM src JOIN customer ON key = c_custkey
        |  WHERE action <> 'delete'
        |  UNION ALL
        |  SELECT 5, 'insert', key, amt FROM src, m WHERE key > mx)
        |SELECT version, change_type, COUNT(*) AS n_rows,
        |  CAST(SUM(key) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS bal_total
        |FROM ch GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,

    // q105: the same range predicate straight off orders (integer
    // thirds of the max key); the file-count literals pin the pruning.
    "q105_snapshot_skipping" ->
      """WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders)
        |SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_price,
        |  CAST(1 AS INT) AS n_files_read,
        |  CAST(3 AS INT) AS n_files_total
        |FROM orders, m
        |WHERE o_orderkey > mx // 3 AND o_orderkey <= mx // 2""".stripMargin,

    // q115: the middle date third and the ['2','3z'] priority band
    // stated straight off orders (epoch-micros integer thirds — the
    // same floor division the store build uses); the four file-count
    // literals pin the typed pruning.
    "q115_typed_skipping" ->
      """WITH b AS (SELECT epoch_us(MIN(o_orderdate)) AS tmin,
        |                  epoch_us(MAX(o_orderdate)) AS tmax FROM orders),
        |c AS (SELECT tmin + (tmax - tmin) // 3 AS cut1,
        |             tmin + 2 * (tmax - tmin) // 3 AS cut2 FROM b)
        |SELECT
        |  (SELECT COUNT(*) FROM orders, c
        |   WHERE epoch_us(o_orderdate) > cut1
        |     AND epoch_us(o_orderdate) <= cut2) AS n_rows_ts,
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |   FROM orders, c
        |   WHERE epoch_us(o_orderdate) > cut1
        |     AND epoch_us(o_orderdate) <= cut2) AS total_ts,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_orderpriority BETWEEN '2' AND '3z') AS n_rows_pri,
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |   FROM orders
        |   WHERE o_orderpriority BETWEEN '2' AND '3z') AS total_pri,
        |  CAST(3 AS INT) AS ts_files_read,
        |  CAST(9 AS INT) AS ts_files_total,
        |  CAST(6 AS INT) AS pri_files_read,
        |  CAST(9 AS INT) AS pri_files_total""".stripMargin,

    // q117: the range-scoped feed stated off customer (v2 inserted the
    // middle third's keys with bal = acctbal; v4's delete preimages
    // are the same untouched rows); the literals pin the feed's file
    // pruning (1-of-3 appends read, v4's change file kept, v5's all
    // pruned).
    "q117_cdc_range_prune" ->
      """WITH m AS (SELECT MAX(c_custkey) AS mx FROM customer),
        |r AS (SELECT c_custkey AS key, c_acctbal AS bal
        |      FROM customer, m
        |      WHERE c_custkey > mx // 3 AND c_custkey <= mx // 2),
        |ch AS (
        |  SELECT 2 AS version, 'insert' AS change_type, key, bal FROM r
        |  UNION ALL
        |  SELECT 4, 'delete', key, bal FROM r)
        |SELECT version, change_type, COUNT(*) AS n_rows,
        |  CAST(SUM(key) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS bal_total,
        |  CAST(1 AS INT) AS n_append_read,
        |  CAST(3 AS INT) AS n_append_total,
        |  TRUE AS cdc_prune_ok
        |FROM ch GROUP BY version, change_type
        |ORDER BY version""".stripMargin,

    // q118: the middle price band off orders; literals pin the
    // decimal pruning.
    "q118_decimal_skipping" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS total_price,
        |  CAST(1 AS INT) AS n_files_read,
        |  CAST(3 AS INT) AS n_files_total
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(12,2))
        |      BETWEEN 60000.00 AND 140000.00""".stripMargin,

    // q116: the mapped head stated off orders — every row priced, two
    // columns after the drop.
    "q116_column_mapping" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(*) AS n_priced,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_price,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 0
        |           THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
        |       AS DOUBLE) AS even_total,
        |  CAST(2 AS INT) AS n_cols
        |FROM orders""".stripMargin,

    // q112: quarter-range counts/totals on each z-ordered dimension
    // stated straight off orders; both_pruned pins the curve.
    "q112_zorder_skipping" ->
      """WITH m AS (SELECT MAX(o_orderkey) AS mo, MAX(o_custkey) AS mc
        |           FROM orders)
        |SELECT
        |  (SELECT COUNT(*) FROM orders, m
        |   WHERE o_orderkey > mo // 4 AND o_orderkey <= mo // 2)
        |    AS n_rows_key,
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |   FROM orders, m
        |   WHERE o_orderkey > mo // 4 AND o_orderkey <= mo // 2)
        |    AS total_key,
        |  (SELECT COUNT(*) FROM orders, m
        |   WHERE o_custkey > mc // 4 AND o_custkey <= mc // 2)
        |    AS n_rows_cust,
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |   FROM orders, m
        |   WHERE o_custkey > mc // 4 AND o_custkey <= mc // 2)
        |    AS total_cust,
        |  TRUE AS both_pruned""".stripMargin,

    // q107: the post-delete set stated as the range's complement; the
    // file-count literals pin the copy-on-write granularity.
    "q107_cow_delete" ->
      """WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders)
        |SELECT
        |  CAST(SUM(CASE WHEN o_orderkey > mx // 3 AND o_orderkey <= mx // 2
        |           THEN 0 ELSE 1 END) AS BIGINT) AS n_rows_after,
        |  CAST(SUM(CASE WHEN o_orderkey > mx // 3 AND o_orderkey <= mx // 2
        |           THEN CAST(0 AS DECIMAL(18,4))
        |           ELSE CAST(o_totalprice AS DECIMAL(18,4)) END)
        |       AS DOUBLE) AS total_after,
        |  CAST(0 AS BIGINT) AS n_in_range_after,
        |  COUNT(*) AS n_rows_before,
        |  CAST(SUM(CASE WHEN o_orderkey > mx // 3 AND o_orderkey <= mx // 2
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range_before,
        |  CAST(1 AS INT) AS n_files_rewritten,
        |  CAST(2 AS INT) AS n_files_kept
        |FROM orders, m""".stripMargin,

    // q108: the post-delete set is the complement of BOTH deleted
    // thirds; the file counts pin zero rewrites and one vector.
    "q108_mor_delete" ->
      """WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders)
        |SELECT
        |  CAST(SUM(CASE WHEN o_orderkey > mx // 3
        |                 AND o_orderkey <= 2 * mx // 3
        |           THEN 0 ELSE 1 END) AS BIGINT) AS n_rows_after,
        |  CAST(SUM(CASE WHEN o_orderkey > mx // 3
        |                 AND o_orderkey <= 2 * mx // 3
        |           THEN CAST(0 AS DECIMAL(18,4))
        |           ELSE CAST(o_totalprice AS DECIMAL(18,4)) END)
        |       AS DOUBLE) AS total_after,
        |  CAST(0 AS BIGINT) AS n_deleted_visible,
        |  CAST(SUM(CASE WHEN o_orderkey > mx // 2
        |                 AND o_orderkey <= 2 * mx // 3
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_mor_range_before,
        |  CAST(0 AS INT) AS n_files_rewritten,
        |  CAST(1 AS INT) AS n_dvs
        |FROM orders, m""".stripMargin,

    // q109: the same arbitration stated relationally over the ranged
    // feed; the file counts pin the persisted merge's granularity.
    // the insert offset is mx*10 on BOTH engines (ttmInsertOffset —
    // round-17 advice #4: a hard-coded constant aliases live keys at
    // high sf)
    "q109_merge_persisted" ->
      """WITH m AS (SELECT MAX(c_custkey) AS mx FROM customer),
        |src0 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS amt
        |  FROM orders, m
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_custkey > mx // 3 AND o_custkey <= 2 * mx // 3
        |  GROUP BY o_custkey),
        |src AS (
        |  SELECT CASE WHEN o_custkey % 9 = 0 THEN o_custkey + mx * 10
        |         ELSE o_custkey END AS key, amt,
        |    CASE WHEN o_custkey % 13 = 0 AND o_custkey % 9 <> 0
        |         THEN 'delete' ELSE 'upsert' END AS action
        |  FROM src0, m),
        |tgt AS (SELECT c_custkey AS key, c_acctbal AS bal FROM customer),
        |mg AS (
        |  SELECT COALESCE(t.key, s.key) AS key,
        |    CASE WHEN s.action IS NULL THEN t.bal
        |         WHEN t.bal IS NOT NULL THEN t.bal + s.amt
        |         ELSE s.amt END AS bal,
        |    s.action
        |  FROM tgt t FULL OUTER JOIN src s ON t.key = s.key)
        |SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal,
        |  CAST(SUM(CASE WHEN key > (SELECT mx * 10 FROM m) THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_inserted,
        |  CAST(1 AS INT) AS n_files_rewritten,
        |  CAST(2 AS INT) AS n_files_kept
        |FROM mg WHERE action IS NULL OR action <> 'delete'""".stripMargin,

    // q106: the evolved column exists only on odd keys; zero backfill.
    "q106_schema_evolution" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_with_cust,
        |  CAST(0 AS BIGINT) AS n_backfilled,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN o_custkey END)
        |       AS BIGINT) AS cust_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_price
        |FROM orders""".stripMargin,

    "q67_funnel" ->
      """WITH s AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN tsec END) AS t_view,
        |    MIN(CASE WHEN event_type = 'click' THEN tsec END) AS t_click,
        |    MIN(CASE WHEN event_type = 'purchase' THEN tsec END) AS t_purchase
        |  FROM (SELECT user_id, event_type,
        |          CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
        |               AS BIGINT) AS tsec
        |        FROM events)
        |  GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_view,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
        |                AND t_purchase >= t_click
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
        |FROM s""".stripMargin,

    "q68_resample_interpolate" ->
      """WITH ev0 AS (
        |  SELECT user_id, event_id, value,
        |    CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
        |         AS BIGINT) AS tsec
        |  FROM events WHERE user_id % 25 = 0),
        |ev AS (
        |  SELECT user_id, tsec, event_id, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, tsec
        |                                 ORDER BY event_id) AS rn
        |    FROM ev0)
        |  WHERE rn = 1),
        |bounds AS (
        |  SELECT user_id, MIN(tsec) AS lo, MAX(tsec) AS hi
        |  FROM ev GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(range(CAST(ceil(lo / 3600.0) AS BIGINT) * 3600,
        |                 hi + 1, 3600)) AS tsec
        |  FROM bounds
        |  WHERE CAST(ceil(lo / 3600.0) AS BIGINT) * 3600 <= hi),
        |u AS (
        |  SELECT user_id, tsec, event_id, value, FALSE AS is_grid FROM ev
        |  UNION ALL
        |  SELECT user_id, tsec, 9223372036854775807,
        |    CAST(NULL AS DOUBLE), TRUE
        |  FROM grid),
        |wnd AS (
        |  SELECT user_id, tsec, is_grid,
        |    MAX(CASE WHEN NOT is_grid THEN tsec END) OVER back AS prev_ts,
        |    max_by(CASE WHEN NOT is_grid THEN value END,
        |           CASE WHEN NOT is_grid THEN tsec END)
        |      FILTER (NOT is_grid) OVER back AS prev_v,
        |    MIN(CASE WHEN NOT is_grid THEN tsec END) OVER fwd AS next_ts,
        |    min_by(CASE WHEN NOT is_grid THEN value END,
        |           CASE WHEN NOT is_grid THEN tsec END)
        |      FILTER (NOT is_grid) OVER fwd AS next_v
        |  FROM u
        |  WINDOW back AS (PARTITION BY user_id ORDER BY tsec, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         fwd AS (PARTITION BY user_id ORDER BY tsec, event_id
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, tsec,
        |  CASE WHEN prev_ts IS NOT NULL AND next_ts IS NOT NULL
        |            AND next_ts > prev_ts
        |       THEN prev_v + (next_v - prev_v) *
        |            CAST(tsec - prev_ts AS DOUBLE) / (next_ts - prev_ts)
        |       WHEN prev_ts IS NOT NULL AND next_ts IS NOT NULL THEN prev_v
        |       WHEN prev_ts IS NOT NULL THEN prev_v
        |       ELSE next_v END AS value_interp
        |FROM wnd WHERE is_grid
        |ORDER BY user_id, tsec""".stripMargin,

    "q69_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
        |         AS BIGINT) // 604800 AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort FROM uw GROUP BY user_id)
        |SELECT c.cohort, uw.week - c.cohort AS week_offset,
        |  COUNT(*) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort, week_offset""".stripMargin,

    "q55_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |         l_quantity AS val
        |  FROM lineitem WHERE l_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |  FROM lineitem WHERE l_orderkey % 100 = 0)
        |ORDER BY l_orderkey, l_linenumber, measure, val""".stripMargin,

    "q58_exists_subquery" ->
      """SELECT c.c_custkey, c.c_name
        |FROM customer c
        |WHERE EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 5000)
        |ORDER BY c.c_custkey""".stripMargin,

    // DuckDB has no IGNORE NULLS clause; "next/first non-null" is
    // min_by(val, order) FILTER (val IS NOT NULL) over the matching
    // frame (event_id is unique, so min_by is unambiguous).
    "q59_window_ignore_nulls" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CASE WHEN event_type = 'purchase' THEN value END AS purchase_val
        |  FROM events),
        |win AS (
        |  SELECT user_id, event_id,
        |    nth_value(event_type, 2) OVER wall AS second_type,
        |    min_by(purchase_val, event_id) FILTER (purchase_val IS NOT NULL)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_purchase,
        |    min_by(purchase_val, event_id) FILTER (purchase_val IS NOT NULL)
        |      OVER wall AS first_purchase
        |  FROM e
        |  WINDOW wall AS (PARTITION BY user_id ORDER BY event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id, second_type, next_purchase, first_purchase
        |FROM win WHERE event_id % 20 = 0
        |ORDER BY user_id, event_id""".stripMargin,

    // The lateral aggregate without GROUP BY yields exactly one row per
    // outer row (NULL max / 0 count when no orders) == left join on the
    // grouped aggregate.
    "q56_lateral_agg" ->
      """SELECT c.c_custkey, c.c_name,
        |  COALESCE(o.n_orders, 0) AS n_orders, o.max_price
        |FROM customer c
        |LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
        |      AS DOUBLE) AS max_price
        |  FROM orders GROUP BY o_custkey) o
        |  ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey % 10 = 0
        |ORDER BY c.c_custkey""".stripMargin,

    // The oracle compares columns DIRECTLY (IS DISTINCT FROM) where the
    // Spark side compares 60-bit row hashes — a hash collision would
    // surface here as a gate failure. Attribution sums run over all
    // common keys (unchanged keys contribute 0), equal to Spark's
    // changed-key-prefiltered sums.
    "q75_snapshot_diff" ->
      """WITH base AS (SELECT * FROM orders),
        |cur AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate,
        |    CASE WHEN o_orderkey % 19 = 0 THEN '9-RECHECK'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM base WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 9000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM base WHERE o_orderkey % 11 = 0),
        |st AS (
        |  SELECT CASE WHEN c.o_orderkey IS NULL THEN 'removed'
        |              WHEN b.o_orderkey IS NULL THEN 'added'
        |              WHEN b.o_custkey IS DISTINCT FROM c.o_custkey
        |                OR b.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |                OR b.o_totalprice IS DISTINCT FROM c.o_totalprice
        |                OR b.o_orderdate IS DISTINCT FROM c.o_orderdate
        |                OR b.o_orderpriority IS DISTINCT FROM c.o_orderpriority
        |              THEN 'changed' ELSE 'unchanged' END AS status
        |  FROM base b FULL OUTER JOIN cur c ON b.o_orderkey = c.o_orderkey),
        |counts AS (SELECT status, COUNT(*) AS n FROM st GROUP BY status),
        |att AS (
        |  SELECT s AS status, CAST(n AS BIGINT) AS n FROM (
        |    SELECT unnest(['changed_o_custkey', 'changed_o_orderstatus',
        |                   'changed_o_totalprice', 'changed_o_orderdate',
        |                   'changed_o_orderpriority']) AS s,
        |      unnest([
        |        SUM(CASE WHEN b.o_custkey IS DISTINCT FROM c.o_custkey
        |            THEN 1 ELSE 0 END),
        |        SUM(CASE WHEN b.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |            THEN 1 ELSE 0 END),
        |        SUM(CASE WHEN b.o_totalprice IS DISTINCT FROM c.o_totalprice
        |            THEN 1 ELSE 0 END),
        |        SUM(CASE WHEN b.o_orderdate IS DISTINCT FROM c.o_orderdate
        |            THEN 1 ELSE 0 END),
        |        SUM(CASE WHEN b.o_orderpriority IS DISTINCT FROM c.o_orderpriority
        |            THEN 1 ELSE 0 END)]) AS n
        |    FROM base b JOIN cur c ON b.o_orderkey = c.o_orderkey)
        |  WHERE n > 0)
        |SELECT status, n FROM counts
        |UNION ALL SELECT status, n FROM att
        |ORDER BY status""".stripMargin,

    "q82_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // q91: the oracle states the join in ANY order — SQL is
    // declarative, which is the point; the Spark-side reorder must be
    // a pure plan transformation (same rows, same hash).
    "q91_cbo_join_reorder" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey = 3
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // q83: the oracle scans the RAW events table with the same
    // predicates — the partitioned layout must be a pure re-arrangement
    // (any row lost or duplicated by the write/prune path fails the hash)
    "q83_partition_pruned_scan" ->
      """SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_type = 'click'
        |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q84_runtime_filtered_scan" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS event_date, event_type, value
        |  FROM events),
        |hot AS (
        |  SELECT event_date, COUNT(*) AS n_err FROM ev
        |  WHERE event_type = 'error'
        |  GROUP BY 1 ORDER BY n_err DESC, event_date LIMIT 3)
        |SELECT e.event_date, h.n_err, COUNT(*) AS n_clicks,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS click_value
        |FROM ev e JOIN hot h USING (event_date)
        |WHERE e.event_type = 'click'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // q85: the oracle is the ANSI recursive CTE itself — level-by-level
    // evaluation vs Spark's pointer doubling, two different strategies
    // forced to the same rollup.
    "q85_hierarchy_rollup" ->
      """WITH RECURSIVE walk AS (
        |  SELECT doc_id AS id, doc_id AS root, 0 AS depth
        |  FROM documents WHERE doc_id < 8
        |  UNION ALL
        |  SELECT d.doc_id, w.root, w.depth + 1
        |  FROM documents d JOIN walk w ON d.doc_id // 8 = w.id
        |  WHERE d.doc_id >= 8)
        |SELECT w.root AS root_id, CAST(w.depth AS BIGINT) AS depth,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(SUM(length(d.text)) AS BIGINT) AS sum_chars
        |FROM walk w JOIN documents d ON d.doc_id = w.id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
