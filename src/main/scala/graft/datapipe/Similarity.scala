package graft.datapipe

import graft.{Tables => T}
import graft.functions.CosineSim.cosine_sim
import graft.functions.NearestCentroid.nearest_centroid
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (array<float>, dim 64).
  *
  * s01 is the exact brute-force baseline: score every row against the
  * query vector, TakeOrderedAndProject keeps top-k with per-partition
  * heaps — O(n) scan, no shuffle of vectors, embarrassingly parallel at
  * 100 TB (each executor scans its partitions and emits k candidates).
  *
  * s02 is the scale path: sign-bucket LSH (axis-aligned hyperplanes on the
  * first 8 dims -> 256 buckets). Probing only the query's bucket cuts the
  * scanned fraction to ~1/256 at the cost of recall; a production variant
  * uses random hyperplanes / multiple tables (or IVF centroids) — same
  * plan shape: partition-prunable equi-join on bucket id, then local top-k.
  *
  * Cosine folds fix the IEEE accumulation order (left fold from 0.0,
  * elements cast to double) so Spark and the DuckDB oracle produce
  * bit-identical scores — which also makes top-k ordering deterministic.
  * d05-style near-dup lives here too (blocked on label × sign bucket).
  */
object Similarity {
  private val QID = 0L // query vector: vec_id 0

  /** Fixed SIZE of the s14/s15 recall-eval query sample. A fixed
    * FRACTION (the round-11 `vec_id % 25` fixture) makes the eval's
    * brute-force ground truth O(corpus × corpus/25) — quadratic in the
    * stress curve BY CONSTRUCTION; a fixed-size sample is the knob a
    * 100 TB deployment actually turns (FAISS-style: eval on a held-out
    * query set of constant size), making the same plan linear in corpus
    * rows. Sampling is a deterministic hash order (phash(vec_id),
    * vec_id) + LIMIT — TakeOrderedAndProject on the Spark side, so the
    * sample costs one narrow top-k scan, never a global sort — and is
    * unbiased in vec_id (hash order, not id order).
    */
  private val NQ = 32

  /** Shared ORDER BY for the fixed-size query sample (DuckDB mirror of
    * the Spark `orderBy(phash(vec_id), vec_id).limit(NQ)`).
    */
  private def sampleOrderSql =
    s"ORDER BY ${graft.Dets.phashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $NQ"

  /** s21's Johnson-Lindenstrauss sign matrix: RP_D rows of 64 ±1
    * entries unrolled from a fixed 64-bit LCG — a frozen compile-time
    * CONSTANT (model weights, not data), embedded as literals in both
    * engines so neither ever hashes at runtime. ±1 (Rademacher) signs
    * satisfy the JL lemma like Gaussians do, and keep every projection
    * an exact integer dot product.
    */
  private val RP_D = 16
  private[graft] val RP_SIGNS: Array[Array[Long]] = {
    var st = 0x106689D45497239BL
    Array.fill(RP_D, 64) {
      st = st * 6364136223846793005L + 1442695040888963407L
      if (((st >>> 33) & 1L) == 0L) 1L else -1L
    }
  }

  /** Sign-LSH bucket over 8 dims starting at `off`: axis-aligned
    * hyperplane signs -> 256 buckets. Different offsets are INDEPENDENT
    * hash tables (disjoint hyperplane sets) — the multi-table
    * OR-construction s08 unions. off=0 is shared by s02 (ANN probe) and
    * d05 (second blocking key).
    */
  private[graft] def signBucketFrom(off: Int) = {
    val idx = if (off == 0) "j + 1" else s"j + ${off + 1}"
    expr(
      s"""aggregate(sequence(0, 7), 0,
         |  (acc, j) -> acc + IF(CAST(element_at(embedding, $idx) AS DOUBLE) > 0.0,
         |                       CAST(round(pow(2, j)) AS INT), 0))""".stripMargin)
  }
  private val signBucket = signBucketFrom(0)

  /** DuckDB mirror of [[signBucketFrom]] over column `embedding`. */
  private def signBucketSqlFrom(off: Int): String = {
    val idx = if (off == 0) "j + 1" else s"j + ${off + 1}"
    s"""list_sum(list_transform(range(0, 8), j ->
       |      CASE WHEN CAST(embedding[$idx] AS DOUBLE) > 0.0
       |           THEN CAST(round(pow(2, j)) AS INT) ELSE 0 END))""".stripMargin
  }
  private val signBucketSql = signBucketSqlFrom(0)

  /** nb-bit sign-LSH bucket over array column `e` — the graph family's
    * blocking key (s30's candidate-pruning build, s32's connectivity
    * build, s33's knob sweep all share this ONE definition; `nb` is a
    * SQL token — a column name or an integer literal — so the
    * corpus-adaptive and fixed-sweep variants stay textually
    * identical). */
  private[datapipe] def lshBucketExpr(e: String, nb: String) = expr(
    s"""aggregate(sequence(0, $nb - 1), CAST(0 AS BIGINT),
       |  (acc, j) -> acc +
       |    IF(CAST(element_at($e, j + 1) AS DOUBLE) > 0.0,
       |       shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"""
      .stripMargin)

  /** Probe-1 list for the nb-bit bucket in column `bkt`: the bucket
    * itself plus the flip of the smallest-|component| hashed dim —
    * shared by the same three call sites as [[lshBucketExpr]]. */
  private[datapipe] def lshProbe1Expr(e: String, bkt: String, nb: String) =
    expr(
      s"""concat(array($bkt), transform(slice(transform(array_sort(
         |  transform(sequence(0, $nb - 1),
         |    j -> struct(abs(CAST(element_at($e, j + 1) AS DOUBLE))
         |                  AS a, j AS j))),
         |  x -> x.j), 1, 1),
         |  j -> $bkt ^ shiftleft(CAST(1 AS BIGINT), j)))""".stripMargin)

  /** DuckDB mirrors of [[lshBucketExpr]]/[[lshProbe1Expr]] — one
    * definition for all three oracle chains. */
  private def lshBucketSql(e: String, nb: String) =
    s"""CAST(list_sum(list_transform(range(0, $nb), j ->
       |      CASE WHEN CAST($e[CAST(j AS INT) + 1] AS DOUBLE) > 0.0
       |           THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
       |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
  private def lshProbe1Sql(e: String, bkt: String, nb: String) =
    s"""list_prepend($bkt, list_transform(
       |      list_transform(list_sort(list_transform(range(0, $nb),
       |        j -> {'a': abs(CAST($e[CAST(j AS INT) + 1]
       |                       AS DOUBLE)), 'j': j})), x -> x.j)[1:1],
       |      j -> CAST(xor($bkt, (CAST(1 AS BIGINT)
       |                           << CAST(j AS INT))) AS BIGINT)))""".stripMargin

  /** Multi-probe bucket list for a vector: its sign bucket PLUS the `p`
    * buckets reached by flipping the signs of the p smallest-|component|
    * hashed dims — the dims most likely to flip under tiny perturbation,
    * i.e. exactly where single-bucket probing loses near-boundary
    * neighbors. Deterministic tie-break: (|v| asc, dim asc) on both
    * engines. p = 0 degenerates to plain single-bucket blocking.
    */
  private def probeBuckets(e: String, b: String, p: Int) = expr(
    s"""concat(array($b), transform(slice(transform(array_sort(
       |  transform(sequence(0, 7),
       |    j -> struct(abs(CAST(element_at($e, j + 1) AS DOUBLE)) AS a, j AS j))),
       |  x -> x.j), 1, $p), j -> CAST($b ^ shiftleft(1, j) AS INT)))""".stripMargin)

  /** DuckDB mirror of [[probeBuckets]] over columns `$e`/`$b` — a list to
    * unnest.
    */
  private def probeBucketsSql(e: String, b: String, p: Int) =
    s"""list_prepend($b, list_transform(
       |    list_transform(list_sort(list_transform(range(0, 8),
       |      j -> {'a': abs(CAST($e[j + 1] AS DOUBLE)), 'j': j})), x -> x.j)[1:$p],
       |    j -> CAST(xor($b, (1 << CAST(j AS INT))) AS INT)))""".stripMargin

  // ----- product quantization (s11/s12) -----
  // M=4 subspaces, K=8 codewords; all distances integer L2 over
  // round(x * 1e8) fixed point so neither engine ever compares floats.
  private val PQ_M = 4
  private val PQ_K = 8

  /** (vec_id, j, sv): each vector split into its M subvectors. */
  private def pqSubs(emb: DataFrame): DataFrame = emb
    .filter(size(col("embedding")) > 0)
    .select(col("vec_id"), explode(expr(
      s"transform(sequence(0, $PQ_M - 1), j -> struct(j AS j, " +
      s"slice(embedding, j * (size(embedding) div $PQ_M) + 1, " +
      s"size(embedding) div $PQ_M) AS sv))")).as("x"))
    .select(col("vec_id"), col("x.j").as("j"), col("x.sv").as("sv"))

  /** Adds integer-L2 `d2` between array columns `a` and `b`. */
  private def intL2(df: DataFrame, a: Column, b: Column): DataFrame = df
    .withColumn("d2", expr(
      s"aggregate(zip_with(${a.toString}, ${b.toString}, (a, b) -> " +
      "CAST(round(CAST(a AS DOUBLE) * 1e8) AS BIGINT) - " +
      "CAST(round(CAST(b AS DOUBLE) * 1e8) AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))

  /** array<float> → array<bigint>: the 1e8 fixed point per element, via
    * Spark's OWN `round` (bit-identical to [[intL2]]'s per-pair cast
    * chain). Applied ONCE per vector so the codegen'd
    * [[graft.functions.IntL2]] pair loop never re-rounds — on the
    * brute-force and encode passes the per-pair rounding was K- or
    * NQ-fold redundant and the interpreted fold was the measured bill
    * (s16 exact-truth stage 4.3 s of its 6.9 at sf0.1).
    */
  private def roundFx(c: String): Column = expr(
    s"transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 1e8) AS BIGINT))")

  /** One Lloyd iteration from the deterministic vec_id % K seeding:
    * (j, code, centroid) with s05's exact-decimal order-free means.
    */
  private def pqCodebook(subs: DataFrame): DataFrame = subs
    .withColumn("code", (col("vec_id") % PQ_K).cast("int"))
    .select(col("j"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
    .groupBy(col("j"), col("code"), col("pos"))
    .agg((sum(round(col("v").cast("double") * 1e8).cast("long")).cast("double")
            / count(lit(1)) / 1e8).cast("float").as("m"))
    .groupBy(col("j"), col("code"))
    .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
      .as("centroid"))

  /** (vec_id, j, code, d2): each subvector encoded as its nearest
    * codeword (ties to the smallest code), with its residual. The
    * codebook is passed in so callers that also need it (s12's
    * distance table) train it ONCE. Subvectors and centroids are
    * fixed-point-rounded ONCE (before the K-way codebook fan-out);
    * the per-candidate distance is the codegen'd IntL2 loop.
    */
  private def pqEncode(subs: DataFrame, cb: DataFrame): DataFrame = {
    import graft.functions.IntL2.int_l2
    subs.withColumn("lsv", roundFx("sv"))
      .join(broadcast(cb.withColumn("lcentroid", roundFx("centroid"))),
            Seq("j"))
      .withColumn("d2", int_l2(col("lsv"), col("lcentroid")))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("j"),
              col("best.code").as("code"), col("best.d2").as("d2"))
  }

  /** DuckDB-side integer-L2 mirror of [[intL2]]. */
  private def intL2Sql(a: String, b: String) =
    s"""CAST(list_sum(list_transform(
       |      list_transform(range(1, len($a) + 1), i ->
       |        CAST(round(CAST($a[CAST(i AS INT)] AS DOUBLE) * 1e8) AS BIGINT) -
       |        CAST(round(CAST($b[CAST(i AS INT)] AS DOUBLE) * 1e8) AS BIGINT)),
       |      x -> x * x)) AS BIGINT)""".stripMargin

  /** The shared s11/s12 oracle CTE chain: subspace split, %K-seeded
    * exact-decimal codebook, integer-L2 encode (`best`, filter rn = 1).
    */
  private def pqOracleCtes =
    s"""e AS (
       |  SELECT vec_id, label, embedding
       |  FROM embeddings WHERE len(embedding) > 0),
       |subs AS (
       |  SELECT vec_id, j,
       |    embedding[CAST(j * (len(embedding) // $PQ_M) + 1 AS INT):
       |              CAST((j + 1) * (len(embedding) // $PQ_M) AS INT)] AS sv
       |  FROM (SELECT vec_id, embedding, unnest(range(0, $PQ_M)) AS j FROM e)),
       |su AS (
       |  SELECT vec_id, j, unnest(range(1, len(sv) + 1)) AS pos,
       |    unnest(list_transform(sv, x -> CAST(x AS DOUBLE))) AS v
       |  FROM subs),
       |cent AS (
       |  SELECT j, vec_id % $PQ_K AS code, pos,
       |    CAST(CAST(SUM(CAST(round(v * 1e8) AS BIGINT)) AS DOUBLE)
       |         / COUNT(*) / 1e8 AS REAL) AS m
       |  FROM su GROUP BY 1, 2, 3),
       |cb AS (
       |  SELECT j, code, list(m ORDER BY pos) AS centroid
       |  FROM cent GROUP BY j, code),
       |scored AS (
       |  SELECT s.vec_id, s.j, c.code,
       |    ${intL2Sql("s.sv", "c.centroid")} AS d2
       |  FROM subs s JOIN cb c USING (j)),
       |best AS (
       |  SELECT vec_id, j, code, d2,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
       |  FROM scored)""".stripMargin

  /** DuckDB-side dot product with the fixed left-fold order that
    * graft.functions.CosineSim replicates (Spark-side cosines all go
    * through that codegen'd expression).
    */
  private[datapipe] def dotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(range(1, len($a) + 1),
       |    j -> CAST($a[j] AS DOUBLE) * CAST($b[j] AS DOUBLE))),
       |  (acc, x) -> acc + x)""".stripMargin

  /** Collapse per-cell centroid rows into ONE row holding the sorted
    * (cell, centroid) struct array. Broadcast-crossJoined to the vectors,
    * this makes centroid assignment map-only: each row computes a fused
    * codegen'd argmax ([[graft.functions.NearestCentroid]]) against the
    * broadcast array — no fan-out, no re-shuffle of embedding payloads.
    * array_sort fixes the struct order (collect_list is order-free), which
    * [[graft.functions.NearestCentroid]]'s first-wins tie-break needs for
    * determinism.
    */
  /** One Lloyd step's centroids from an assigned (cell, embedding)
    * frame — s05's exact-decimal convention (per-position fixed-point
    * long sums divided once, order-free), shared by s05/s18/s19.
    */
  private[datapipe] def lloydCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(round(col("v").cast("double") * 1e8).cast("long")).cast("double")
              / count(lit(1)) / 1e8).cast("float").as("m"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
        .as("centroid"))

  private[datapipe] def centroidRow(perCell: DataFrame): DataFrame =
    perCell.agg(
      expr("array_sort(collect_list(struct(cell, centroid)))").as("cents"))

  /** Map-only assignment of every vector to its nearest centroid: one
    * broadcast row of centroids, one codegen'd per-row argmax. The
    * embeddings side keeps its scan partitioning untouched
    * (PlanShapeSpec pins the no-Exchange shape).
    */
  private[graft] def assignCells(emb: DataFrame, centsRow: DataFrame,
                                 cellName: String): DataFrame =
    emb.crossJoin(broadcast(centsRow))
      .withColumn(cellName, nearest_centroid(col("embedding"), col("cents")))
      .drop("cents")

  /** DuckDB mirror of the assignment: deterministic argmax via
    * ROW_NUMBER ordered by (isnan ASC, cosine DESC, cell ASC) — identical
    * tie-break to NearestCentroid's first-wins scan over cell-sorted
    * centroids. The leading isnan key matches the Spark side's "NaN never
    * wins" rule: DuckDB's DESC order would otherwise sort a NaN cosine
    * (collapsed zero-norm centroid) above every real value, while
    * NearestCentroid's `>` comparison never selects one; an all-NaN row
    * falls through to the smallest cell on both engines.
    */
  private[datapipe] def assignSql(centTbl: String, srcTbl: String = "embeddings"): String = {
    val cosExpr =
      s"""${dotSql("e.embedding", "c.centroid")} /
         |        (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |         sqrt(${dotSql("c.centroid", "c.centroid")}))""".stripMargin
    s"""SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY isnan($cosExpr) ASC,
       |      $cosExpr DESC,
       |      c.cell ASC) AS rn
       |  FROM $srcTbl e, $centTbl c)
       |WHERE rn = 1""".stripMargin
  }

  /** d10's pair pipeline over an arbitrary (vec_id, embedding, label)
    * frame: multi-probe sign-LSH blocking (probe-`p` on BOTH sides, so a
    * near-boundary flip on either vector still collides — probe(x) vs
    * base(y) unioned with base(x) vs probe(y) by symmetry of the exploded
    * join), label-conjunct like d05, exact-cosine verify. Exposed to
    * OperatorSpec, which pins that p=1 finds a planted boundary-straddling
    * pair p=0 provably misses.
    */
  private[graft] def multiProbePairs(emb0: DataFrame, p: Int,
                                     threshold: Double): DataFrame = {
    // read 4x (probes, bases, both verify joins) with no runtime
    // exchange reuse — materialize the bucketed corpus once
    val emb = emb0.withColumn("bucket", signBucket).localCheckpoint()
    val probes = emb.select(col("vec_id"), col("label"),
      explode(probeBuckets("embedding", "bucket", p)).as("bkey"))
    val bases = emb.select(col("vec_id").as("y_id"),
      col("label").as("y_label"), col("bucket").as("bkey"))
    val cand = probes.join(bases, probes("bkey") === bases("bkey") &&
        col("label") === col("y_label") && col("vec_id") =!= col("y_id"))
      .select(least(col("vec_id"), col("y_id")).as("v1"),
              greatest(col("vec_id"), col("y_id")).as("v2"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("v1"), col("embedding").as("e1"),
                       col("label")), Seq("v1"))
      .join(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")),
            Seq("v2"))
      .withColumn("cosine", cosine_sim(col("e1"), col("e2")))
      .filter(col("cosine") >= threshold)
      .select(col("v1"), col("v2"), col("label"), col("cosine"))
  }

  /** d10's corpus: embeddings plus planted NEAR-BOUNDARY dups — each copy
    * negates its source's single smallest-|v| coordinate among the 8
    * hashed dims, so the pair's cosine stays near 1 (the flipped term is
    * the smallest contributor) while its sign bucket provably differs in
    * exactly that bit: the case single-bucket blocking (d05) structurally
    * misses and probe-1 recovers.
    */
  private def d10Corpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = T.embeddings(s, d).select($"vec_id", $"embedding", $"label")
    base.unionByName(base.filter($"vec_id" % 17 === 0)
      .withColumn("jmin", expr(
        "element_at(transform(array_sort(transform(sequence(0, 7), " +
          "j -> struct(abs(CAST(element_at(embedding, j + 1) AS DOUBLE)) AS a, " +
          "j AS j))), x -> x.j), 1)"))
      .select(($"vec_id" + 3000000L).as("vec_id"),
        expr("transform(embedding, (v, i) -> IF(i = jmin, -v, v))")
          .as("embedding"),
        $"label"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force exact top-10 by cosine against vec_id 0.
    "s01_topk_cosine" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d)
      val q = broadcast(emb.filter($"vec_id" === QID)
        .select($"embedding".as("q_emb")))
      emb.filter($"vec_id" =!= QID)
        .crossJoin(q)
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .select($"vec_id", $"label", $"cosine")
        .orderBy($"cosine".desc, $"vec_id")
        .limit(10)
    },

    // LSH-bucketed ANN: probe only the query's sign bucket, local top-5.
    "s02_ann_lsh_bucket" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d).withColumn("bucket", signBucket)
      val q = broadcast(emb.filter($"vec_id" === QID)
        .select($"embedding".as("q_emb"), $"bucket".as("q_bucket")))
      emb.filter($"vec_id" =!= QID)
        .join(q, $"bucket" === $"q_bucket")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .select($"vec_id", $"label", $"bucket", $"cosine")
        .orderBy($"cosine".desc, $"vec_id")
        .limit(5)
    },

    // Multi-probe LSH ANN: s02 plus probe-2 — the query also scans the 2
    // buckets reached by flipping its smallest-|component| signs, the
    // standard recall-recovery knob for sign LSH (probing the buckets a
    // near-boundary neighbor most plausibly landed in). Cost: 3/256 of
    // the corpus scanned instead of 1/256, still partition-prunable by
    // bucket; the probe list is computed once on the 1-row broadcast
    // query side, never per candidate.
    "s07_ann_multiprobe" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d).withColumn("bucket", signBucket)
      val q = broadcast(emb.filter($"vec_id" === QID)
        .select($"embedding".as("q_emb"), $"bucket".as("q_bucket"))
        .select($"q_emb",
          explode(probeBuckets("q_emb", "q_bucket", 2)).as("probe_bucket")))
      emb.filter($"vec_id" =!= QID)
        .join(q, $"bucket" === $"probe_bucket")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .select($"vec_id", $"label", $"bucket", $"cosine")
        .orderBy($"cosine".desc, $"vec_id")
        .limit(5)
    },

    // Multi-TABLE LSH ANN (OR-construction): L = 2 independent hash
    // tables — disjoint hyperplane sets (dims 0..7 and 8..15) — each
    // probed at the query's bucket, candidate lists unioned. The standard
    // recall knob COMPLEMENTARY to s07's multi-probe: probes explore
    // CORRELATED buckets of one table (recovering near-boundary flips of
    // its own hyperplanes), while a second table re-rolls ALL the
    // hyperplanes, so a neighbor far from table 1's query bucket can
    // still collide in table 2. Cost: ~L/256 of the corpus scanned
    // (vs 3/256 for probe-2), each table's probe an equi-join that stays
    // partition-prunable by its own bucket id; the union dedups only the
    // candidate rows (~2/256 of the corpus), never the full relation.
    "s08_ann_multitable" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d)
        .withColumn("b1", signBucketFrom(0))
        .withColumn("b2", signBucketFrom(8))
      val q = broadcast(emb.filter($"vec_id" === QID)
        .select($"embedding".as("q_emb"), $"b1".as("q_b1"), $"b2".as("q_b2")))
      val base = emb.filter($"vec_id" =!= QID)
      val t1 = base.join(q, $"b1" === $"q_b1")
      val t2 = base.join(q, $"b2" === $"q_b2")
      t1.unionByName(t2)
        .dropDuplicates("vec_id") // rows are identical per vec_id
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .select($"vec_id", $"label", $"cosine")
        .orderBy($"cosine".desc, $"vec_id")
        .limit(5)
    },

    // Two-stage retrieval: score EVERY vector against the query on its
    // int8-quantized form (s06's affine codes — the 4x-smaller index a
    // serving system actually scans), take the top 3k approximate
    // candidates, then fetch the exact float32 vectors for ONLY those
    // 3k and rerank. The standard accuracy-recovery pattern for
    // quantized ANN at scale: the wide scan touches compressed data
    // (map-only + TakeOrderedAndProject), the exact fetch is a 3k-row
    // broadcast join — full-precision embeddings never shuffle. Ties in
    // both stages break by vec_id, so the candidate cut is a total
    // order on both engines.
    "s09_two_stage_rerank" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val recon = emb
        .withColumn("xs", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("lo", expr("array_min(xs)"))
        .withColumn("hi", expr("array_max(xs)"))
        .withColumn("scale",
          expr("IF(hi = lo, CAST(1.0 AS DOUBLE), (hi - lo) / 255)"))
        .withColumn("approx_emb", expr(
          "transform(xs, x -> CAST(lo + CAST(round((x - lo) / scale) AS INT)" +
          " * scale AS FLOAT))"))
        .select($"vec_id", $"label", $"approx_emb")
      val q = broadcast(emb.filter($"vec_id" === QID)
        .select($"embedding".as("q_emb")))
      val stage1 = recon.filter($"vec_id" =!= QID)
        .crossJoin(q)
        .withColumn("approx_cosine", cosine_sim($"approx_emb", $"q_emb"))
        .select($"vec_id", $"label", $"approx_cosine")
        .orderBy($"approx_cosine".desc, $"vec_id")
        .limit(30)
      broadcast(stage1)
        .join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
        .crossJoin(q)
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .select($"vec_id", $"label", $"approx_cosine", $"cosine")
        .orderBy($"cosine".desc, $"vec_id")
        .limit(10)
    },

    // d05 with multi-probe blocking over a corpus of planted NEAR-BOUNDARY
    // dups (smallest-hashed-coordinate sign flips): probe-1 on both sides
    // recovers the cross-bucket pairs single-bucket d05 structurally
    // misses. Threshold 0.995, not 0.999: the flip itself costs
    // 2*v_min^2/|v|^2 of cosine, small but nonzero.
    "d10_neardup_multiprobe" -> { (s, d) =>
      multiProbePairs(d10Corpus(s, d), 1, 0.995)
        .orderBy(col("v1"), col("v2"))
    },

    // Batched multi-query ANN — the batch-serving shape: score the whole
    // query SET (tiny, broadcast) against the corpus in one scan, then
    // top-5 per query via a ranking window partitioned by query id. One
    // corpus pass amortized over all queries (vs |Q| separate s01 scans);
    // the shuffle carries only (q_id, vec_id, label, cosine) — never
    // embeddings. Parallelism of the rank stage is bounded by |Q|, which
    // is the batch size a serving tier controls.
    "s10_batch_ann" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d)
      val qs = broadcast(emb.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb")))
      val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      emb.join(qs, $"vec_id" =!= $"q_id")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 5)
        .select($"q_id", $"rk", $"vec_id", $"label", $"cosine")
        .orderBy($"q_id", $"rk")
    },

    // FILTERED ANN — the "filtered vector search" production stores
    // serve (a metadata predicate ANDed into candidate generation, not
    // applied after the fact): each query vector searches ONLY its own
    // label's vectors (the tenant/shard filter) within its sign-LSH
    // bucket (the ANN blocking), top-5 by exact cosine. The filter
    // composes WITH the bucket as equi-JOIN KEYS — (label, bucket) —
    // so out-of-label candidates never materialize, score, or shuffle;
    // post-filtering a label-blind top-k would instead both scan
    // everything and silently under-fill filtered result lists. Scale
    // shape: queries broadcast; the corpus side is one scan + a hash
    // join on (label, bucket); per-query top-k is a window over
    // candidates only. s10's batch-ANN pattern with the predicate
    // fused into the join.
    "s13_filtered_ann" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).withColumn("bucket", signBucket)
      val qs = broadcast(emb.filter($"vec_id" % 61 === 0)
        .select($"vec_id".as("qid"), $"embedding".as("q_emb"),
                $"label".as("q_label"), $"bucket".as("q_bucket")))
      val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id")
      emb.join(qs, $"label" === $"q_label" && $"bucket" === $"q_bucket" &&
                   $"vec_id" =!= $"qid")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 5)
        .select($"qid", $"q_label".as("label"), $"rnk", $"vec_id", $"cosine")
        .orderBy($"qid", $"rnk")
    },

    // ANN RECALL EVALUATION — the measurement harness every ANN
    // deployment needs before trusting its index: on a FIXED-SIZE query
    // sample (NQ vectors in deterministic hash order — see [[NQ]] for
    // why fixed-size, not fixed-fraction), compute the EXACT cosine
    // top-10 (brute force, the ground truth), generate candidates with
    // the two production blockings (s02's single sign-bucket probe and
    // s07's probe-2 multi-probe), and report each method's recall@10
    // next to its avg candidate-list size — the recall/cost frontier as
    // data, not guesswork. Scale shape: the NQ-row query frame is
    // localCheckpointed once and broadcast everywhere; the ground truth
    // is one corpus scan per query batch (map-only score, then a
    // window over (q_id, vec_id, cosine) triples — 24 B/row, embeddings
    // never shuffle) and is localCheckpointed (≤ n_q × 10 rows) so the
    // two method reports don't recompute the brute-force pass; candidate
    // generation is the same partition-prunable bucket equi-join the
    // production path uses. Recall divides by the ACTUAL ground-truth
    // row count (n_truth), not n_q × 10 — a query with fewer than 10
    // valid neighbors (NaN/zero-norm filtered, tiny corpus slice) must
    // not deflate a perfect index below 1.0. Recall is derived from
    // integer counts via one double division, so it is cross-engine
    // IEEE-exact.
    "s14_ann_recall" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
        .withColumn("bucket", signBucket)
      val qs0 = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
                $"bucket".as("q_bucket"))
        .localCheckpoint() // NQ rows; the top-k sample scan runs ONCE
      val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      val exact10 = emb.join(broadcast(qs0), $"vec_id" =!= $"q_id")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .filter(!isnan($"cosine")) // zero-norm vectors never rank
        .select($"q_id", $"vec_id", $"cosine")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .select($"q_id", $"vec_id")
        .localCheckpoint() // <= n_q * 10 rows; brute force runs ONCE
      val cand1 = emb.join(broadcast(qs0),
          $"bucket" === $"q_bucket" && $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id")
      // probe-2 bucket list per query (3 DISTINCT buckets by
      // construction — each flips a different bit — so no dedup join).
      val probes = qs0.select($"q_id",
        explode(probeBuckets("q_emb", "q_bucket", 2)).as("pb"))
      val cand2 = emb.join(broadcast(probes),
          $"bucket" === $"pb" && $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id")
      val nq = qs0.agg(count(lit(1)).as("n_q"))
      val nTruth = exact10.agg(count(lit(1)).as("n_truth"))
      def report(name: String, cand: DataFrame): DataFrame =
        exact10.join(cand, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(nq))
          .crossJoin(broadcast(nTruth))
          .select(lit(name).as("method"), $"n_q", $"n_truth", $"hits",
            $"n_cand",
            ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
            ($"n_cand" / $"n_q".cast("double")).as("avg_candidates"))
      report("lsh_bucket", cand1)
        .unionByName(report("multiprobe_2", cand2))
        .orderBy($"method")
    },

    // IVF RECALL EVALUATION — s14's methodology applied to the OTHER
    // candidate generator: how much of the exact top-10 does probing
    // nprobe posting lists of s03's coarse quantizer recover, and at
    // what candidate cost? nprobe is THE serving knob of an IVF index
    // (FAISS's nprobe) — this measures its recall/cost frontier as
    // data. Probe lists come from ranking all 8 centroids per query
    // (one 8-row broadcast explode + a per-query window, identical
    // tie-break to NearestCentroid: isnan-last, cosine desc, cell
    // asc), so nprobe_1 is exactly the home cell and nprobe_2 adds
    // the runner-up; the corpus side joins its ONE precomputed
    // home_cell against the probe list — posting lists stay
    // partition-prunable, vectors never shuffle. Ground truth is the
    // same checkpointed brute-force pass as s14.
    "s15_ivf_recall" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      // s03's coarse quantizer: 8 exact-decimal seed-cell means
      // (posexplode drops empty arrays, so training matches s03's)
      val centroids = T.embeddings(s, d)
        .select(($"vec_id" % 8).as("cell"),
                posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cell", $"pos")
        .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1)))
          .cast("float").as("m"))
        .groupBy($"cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("centroid"))
      val centsRow = centroidRow(centroids)
      val assigned = assignCells(emb, centsRow, "home_cell")
      // same fixed-size deterministic-hash query sample as s14 (see
      // [[NQ]]): drawn from the len>0 frame, so both evals measure the
      // same query set
      val qs0 = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        .localCheckpoint() // NQ rows; the top-k sample scan runs ONCE
      val qcells = qs0.crossJoin(broadcast(centsRow))
        .select($"q_id", $"q_emb", explode($"cents").as("c"))
        .withColumn("cos", cosine_sim($"q_emb", $"c.centroid"))
        .withColumn("rn", row_number().over(Window.partitionBy($"q_id")
          .orderBy(isnan($"cos").asc, $"cos".desc, $"c.cell".asc)))
        .select($"q_id", $"c.cell".as("pcell"), $"rn")
        // NQ x 8 control rows, read per probe depth — unmaterialized it
        // re-ran the centroid aggregation behind centsRow each time
        .localCheckpoint()
      // two longs per vector, read by both probe depths and both report
      // sides — the assignment + centroid pipeline ran ~4x without it
      val base = assigned.select($"vec_id", $"home_cell").localCheckpoint()
      def cand(maxProbe: Int): DataFrame =
        base.join(broadcast(qcells.filter($"rn" <= maxProbe)),
            $"home_cell" === $"pcell" && $"vec_id" =!= $"q_id")
          .select($"q_id", $"vec_id")
      val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      val exact10 = emb.join(broadcast(qs0), $"vec_id" =!= $"q_id")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .filter(!isnan($"cosine"))
        .select($"q_id", $"vec_id", $"cosine")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .select($"q_id", $"vec_id")
        .localCheckpoint() // <= n_q * 10 rows; brute force runs ONCE
      val nq = qs0.agg(count(lit(1)).as("n_q"))
      val nTruth = exact10.agg(count(lit(1)).as("n_truth"))
      def report(name: String, cand: DataFrame): DataFrame =
        exact10.join(cand, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(nq))
          .crossJoin(broadcast(nTruth))
          .select(lit(name).as("method"), $"n_q", $"n_truth", $"hits",
            $"n_cand",
            ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
            ($"n_cand" / $"n_q".cast("double")).as("avg_candidates"))
      report("ivf_nprobe_1", cand(1))
        .unionByName(report("ivf_nprobe_2", cand(2)))
        .orderBy($"method")
    },

    // PQ/ADC RECALL EVALUATION — completes the recall-eval family
    // across all three index types (s14: LSH buckets, s15: IVF posting
    // lists, s16: quantized codes): how much of the EXACT integer-L2
    // top-10 does the ADC scan's top-C recover, at rerank widths C=30
    // (s12's production width) and C=100? Unlike s14/s15 the candidate
    // generator is not a blocking join — ADC scores EVERY vector from
    // M table lookups — so what's measured is the quantization error's
    // effect on the top of the list: the number a deployment uses to
    // size C. Scale shape: the codebook (M×K rows) and per-query
    // distance tables (NQ×M×K rows) broadcast; the ADC scan fans each
    // (vec, j, code) row out NQ ways against the broadcast table and
    // reduces map-side to (q_id, vec_id, long) partials — that O(n·M·
    // n_q) lookup bill IS ADC's cost model, all map-only; top-C per
    // query is a ranking window over narrow integer rows. Ground truth
    // = exact int-L2 brute force (same fixed-point rounding as the
    // index, so "exact" means exactly what the index approximates),
    // localCheckpointed once. All counts integer, one IEEE division.
    "s16_pq_recall" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      // codebook + codes off the persisted PQ artifact (trained once
      // per fixture generation, shared with s11/s12/s35)
      val cb = pqFrame(s, d, "codebook")
      val codes = pqFrame(s, d, "codes").select($"vec_id", $"j", $"code")
      val qs0 = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        .localCheckpoint() // NQ rows; same sample frame as s14/s15
      val dt = pqSubs(qs0.select($"q_id".as("vec_id"), $"q_emb".as("embedding")))
        .withColumn("lsv", roundFx("sv"))
        .join(broadcast(cb.withColumn("lcentroid", roundFx("centroid"))),
              Seq("j"))
        .withColumn("d2", graft.functions.IntL2.int_l2($"lsv", $"lcentroid"))
        .select($"vec_id".as("q_id"), $"j", $"code", $"d2".as("dq"))
        // consumed exactly once (the adc broadcast) — checkpointing it
        // would be a pure extra job; qs0 is already checkpointed, so
        // recompute risk is nil
      val adc = codes.join(broadcast(dt), Seq("j", "code"))
        .filter($"vec_id" =!= $"q_id")
        .groupBy($"q_id", $"vec_id")
        .agg(sum($"dq").as("adc"))
      val wA = Window.partitionBy($"q_id").orderBy($"adc", $"vec_id")
      val ranked = adc.withColumn("rn", row_number().over(wA))
        .select($"q_id", $"vec_id", $"rn")
        .filter($"rn" <= 100)
        .localCheckpoint() // <= NQ×100 rows; the ADC scan runs ONCE
      val wE = Window.partitionBy($"q_id").orderBy($"d2", $"vec_id")
      // ground truth: fixed-point arrays computed ONCE per vector (and
      // once per query before the broadcast), pair loop codegen'd —
      // the NQ-fold per-pair re-rounding was s16's dominant stage
      val exact10 = emb.select($"vec_id", roundFx("embedding").as("lv"))
        .join(broadcast(qs0.select($"q_id", roundFx("q_emb").as("lq"))),
              $"vec_id" =!= $"q_id")
        .withColumn("d2", graft.functions.IntL2.int_l2($"lv", $"lq"))
        .select($"q_id", $"vec_id", $"d2")
        .withColumn("rn", row_number().over(wE))
        .filter($"rn" <= 10)
        .select($"q_id", $"vec_id")
        .localCheckpoint() // <= n_q × 10 rows; brute force runs ONCE
      val nq = qs0.agg(count(lit(1)).as("n_q"))
      val nTruth = exact10.agg(count(lit(1)).as("n_truth"))
      def report(c: Int): DataFrame = {
        val cand = ranked.filter($"rn" <= c).select($"q_id", $"vec_id")
        exact10.join(cand, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(nq))
          .crossJoin(broadcast(nTruth))
          .select(lit(s"adc_top$c").as("method"), $"n_q", $"n_truth",
            $"hits", $"n_cand",
            ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
            ($"n_cand" / $"n_q".cast("double")).as("avg_candidates"))
      }
      report(30).unionByName(report(100)).orderBy($"method")
    },

    // RANDOM-PROJECTION RECALL — the dim-REDUCTION axis of the eval
    // family (s14 measures LSH hashing, s15 coarse quantization, s16
    // subspace quantization; s21 measures what plain Johnson-
    // Lindenstrauss reduction costs): embeddings project 64→16 dims
    // through a frozen ±1 sign matrix, candidates rank by integer L2
    // in the REDUCED space (4× fewer multiplies per pair, 4× smaller
    // vectors crossing any shuffle), and top-30/top-100 candidate sets
    // are scored against the full-dimension exact top-10. Numerics:
    // the sign matrix is a pure compile-time constant (LCG-derived,
    // embedded as literals in BOTH engines — no runtime hashing);
    // projections are exact integer dot products of once-rounded 1e6
    // fixed-point components, sized so dim·maxdiff² stays ~100× under
    // 2⁶³ (the IntL2 overflow contract) even at worst case. Scale
    // shape: projection is map-only; the candidate pass is the
    // NQ-sampled brute-force scan of the other evals but at quarter
    // width; both ranked frames checkpoint once.
    "s21_rp_recall" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      def proj(df: DataFrame): DataFrame = df
        .withColumn("fx", expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
        .withColumn("proj", array((0 until RP_D).map { j =>
          expr(s"aggregate(zip_with(fx, array(${RP_SIGNS(j).mkString(",")}), " +
            "(x, s) -> x * s), CAST(0 AS BIGINT), (a, v) -> a + v)")
        }: _*))
      val qs0 = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        .localCheckpoint() // NQ rows; the s14/s15/s16 sample frame
      val qproj = proj(qs0.select($"q_id".as("vec_id"),
          $"q_emb".as("embedding")))
        .select($"vec_id".as("q_id"), $"proj".as("qp"))
      val wP = Window.partitionBy($"q_id").orderBy($"pd2", $"vec_id")
      val ranked = proj(emb).select($"vec_id", $"proj")
        .join(broadcast(qproj), $"vec_id" =!= $"q_id")
        .withColumn("pd2", graft.functions.IntL2.int_l2($"proj", $"qp"))
        .select($"q_id", $"vec_id", $"pd2")
        .withColumn("rn", row_number().over(wP))
        .filter($"rn" <= 100)
        .select($"q_id", $"vec_id", $"rn")
        .localCheckpoint() // <= NQ×100 rows; the reduced scan runs ONCE
      val wE = Window.partitionBy($"q_id").orderBy($"d2", $"vec_id")
      val exact10 = emb.select($"vec_id", roundFx("embedding").as("lv"))
        .join(broadcast(qs0.select($"q_id", roundFx("q_emb").as("lq"))),
              $"vec_id" =!= $"q_id")
        .withColumn("d2", graft.functions.IntL2.int_l2($"lv", $"lq"))
        .select($"q_id", $"vec_id", $"d2")
        .withColumn("rn", row_number().over(wE))
        .filter($"rn" <= 10)
        .select($"q_id", $"vec_id")
        .localCheckpoint() // <= NQ×10 rows; full-dim truth runs ONCE
      val nq = qs0.agg(count(lit(1)).as("n_q"))
      val nTruth = exact10.agg(count(lit(1)).as("n_truth"))
      def report(c: Int): DataFrame = {
        val cand = ranked.filter($"rn" <= c).select($"q_id", $"vec_id")
        exact10.join(cand, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(nq))
          .crossJoin(broadcast(nTruth))
          .select(lit(s"rp16_top$c").as("method"), $"n_q", $"n_truth",
            $"hits", $"n_cand",
            ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
            ($"n_cand" / $"n_q".cast("double")).as("avg_candidates"))
      }
      report(30).unionByName(report(100)).orderBy($"method")
    },

    // KNN LABEL EVAL — the supervised readout of the similarity stack:
    // embeddings carry labels, so "do near neighbors share the query's
    // label" is measurable end-to-end (the leave-one-out kNN-classifier
    // accuracy every embedding-quality dashboard reports). One NQ-sampled
    // exact int-L2 top-10 pass (the s01/s16 truth shape: queries
    // broadcast, corpus scanned once, per-partition heaps) feeds all
    // three k's; the majority vote (ties to the smaller label) is a
    // keyed aggregate + keyed window over NQ×10 rows — control-frame
    // sized, never corpus-sized. Scale shape: linear in corpus rows at
    // fixed NQ, like s14/s16.
    "s22_knn_label_eval" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val qs = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
                $"label".as("q_label"))
        .localCheckpoint() // NQ rows; the shared eval sample frame
      val w = Window.partitionBy($"q_id").orderBy($"d2", $"vec_id")
      val top10 = emb.select($"vec_id", $"label", roundFx("embedding").as("lv"))
        .join(broadcast(qs.select($"q_id", roundFx("q_emb").as("lq"))),
              $"vec_id" =!= $"q_id")
        .withColumn("d2", graft.functions.IntL2.int_l2($"lv", $"lq"))
        .select($"q_id", $"vec_id", $"label", $"d2")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .localCheckpoint() // NQ×10 rows; brute force runs ONCE for all k
      def acc(k: Int): DataFrame = {
        val wV = Window.partitionBy($"q_id").orderBy($"votes".desc, $"label")
        val pred = top10.filter($"rn" <= k)
          .groupBy($"q_id", $"label").agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(wV))
          .filter($"vr" === 1)
          .select($"q_id", $"label".as("pred"))
        pred.join(broadcast(qs.select($"q_id", $"q_label")), Seq("q_id"))
          .agg(count(lit(1)).as("n_q"),
               sum(when($"pred" === $"q_label", 1L).otherwise(0L)).as("hits"))
          .select(lit(s"knn_k$k").as("method"), $"n_q", $"hits",
            ($"hits" / $"n_q".cast("double")).as("accuracy"))
      }
      acc(1).unionByName(acc(5)).unionByName(acc(10)).orderBy($"method")
    },

    // MMR DIVERSITY RE-RANK — the selection step retrieval runs AFTER
    // similarity scoring (RAG context assembly, dedup-aware curation):
    // of each query's top-20 nearest, pick 5 by Maximal Marginal
    // Relevance (Carbonell & Goldstein '98) so near-duplicate
    // candidates don't crowd out coverage. At lambda = 0.5 the MMR
    // argmax reduces to maximizing (min distance to already-picked −
    // distance to query) — PURE INTEGER on the 1e8 fixed point, no
    // float ever ranks; ties to the smaller vec_id. The 4 greedy
    // rounds unroll over CONTROL frames only: the NQ×20 candidate set
    // and its NQ×380 pairwise-distance table are checkpointed once
    // (one corpus scan + one control-frame self-join), every round is
    // a keyed min + keyed argmax window over those. Scale shape:
    // linear in corpus at fixed NQ (the scan), constant after.
    "s23_mmr_rerank" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.IntL2.int_l2
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val qs = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val wQ = Window.partitionBy($"q_id").orderBy($"d2q", $"vec_id")
      val cand = emb.select($"vec_id", roundFx("embedding").as("lv"))
        .join(broadcast(qs.select($"q_id", roundFx("q_emb").as("lq"))),
              $"vec_id" =!= $"q_id")
        .withColumn("d2q", int_l2($"lv", $"lq"))
        .withColumn("rn", row_number().over(wQ))
        .filter($"rn" <= 20)
        .select($"q_id", $"vec_id", $"d2q", $"lv")
        .localCheckpoint() // NQ×20; the one corpus scan
      val pair = cand.select($"q_id", $"vec_id".as("c"), $"lv".as("la"))
        .join(cand.select($"q_id", $"vec_id".as("o"), $"lv".as("lb")),
              Seq("q_id"))
        .filter($"c" =!= $"o")
        .withColumn("dc", int_l2($"la", $"lb"))
        .select($"q_id", $"c", $"o", $"dc")
        .localCheckpoint() // NQ×380 control frame
      var selected = cand
        .withColumn("rn", row_number().over(wQ)).filter($"rn" === 1)
        .select($"q_id", $"vec_id", lit(1).as("pick"))
        .localCheckpoint()
      for (t <- 2 to 5) {
        val wS = Window.partitionBy($"q_id")
          .orderBy(($"mind" - $"d2q").desc, $"vec_id")
        val minToSel = pair
          .join(selected.select($"q_id", $"vec_id".as("o")), Seq("q_id", "o"))
          .groupBy($"q_id", $"c").agg(min($"dc").as("mind"))
          .withColumnRenamed("c", "vec_id")
        val next = cand
          .join(selected.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"),
                "left_anti")
          .join(minToSel, Seq("q_id", "vec_id"))
          .withColumn("rn", row_number().over(wS)).filter($"rn" === 1)
          .select($"q_id", $"vec_id", lit(t).as("pick"))
        selected = selected.unionByName(next).localCheckpoint()
      }
      selected.join(cand.select($"q_id", $"vec_id", $"d2q"),
          Seq("q_id", "vec_id"))
        .select($"q_id", $"pick", $"vec_id", $"d2q")
        .orderBy($"q_id", $"pick")
    },

    // SCALAR-QUANTIZATION RECALL — the last unmeasured compression axis
    // of the eval family (s14: LSH hashing, s15: coarse quantization,
    // s16: subspace quantization, s21: dim reduction; s24 measures what
    // uniform 8-BIT RESOLUTION costs): every component quantizes to a
    // symmetric int8 code c = round(127·x/maxabs) against ONE global
    // scale (the FAISS SQ8-uniform layout — a 4× memory-bandwidth cut
    // per scan vs float32, and because the scale is shared, code-space
    // L2 ranks identically to dequantized L2 with zero per-pair float
    // work), candidates rank by integer L2 over codes, and top-30/100
    // are scored against the full-precision exact top-10. Numerics:
    // components round once to 1e6 fixed point (s21's grid), the global
    // maxabs is an integer max, and the code is integer round-half-up on
    // |x| with the sign reapplied — no float touches quantization or
    // ranking on either engine, so the s06-style per-vector float scale
    // (whose cross-vector distances would need float dequantization)
    // is deliberately NOT the eval's layout. Scale shape: maxabs is one
    // map-side-combined max broadcast back; coding is map-only; the
    // candidate pass is the NQ-sampled brute scan of the other evals at
    // one-quarter memory traffic; both ranked frames checkpoint once.
    "s24_sq_recall" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val fx = emb.withColumn("fx", expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
      // global symmetric scale: one integer max over all |components|
      // (greatest(…, 1) guards an all-zero corpus from DIV 0)
      val mRow = fx.agg(greatest(
        max(expr("array_max(transform(fx, x -> abs(x)))")), lit(1L)).as("m"))
      def sq(df: DataFrame): DataFrame = df.crossJoin(broadcast(mRow))
        .withColumn("codes", expr(
          """transform(fx, x -> IF(x >= 0, (254 * x + m) DIV (2 * m),
            |                      -((254 * -x + m) DIV (2 * m))))""".stripMargin))
      val qs0 = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        .localCheckpoint() // NQ rows; the s14/s15/s16/s21 sample frame
      val qc = sq(qs0.select($"q_id",
          expr("transform(q_emb, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
            .as("fx")))
        .select($"q_id", $"codes".as("qcodes"))
      val wC = Window.partitionBy($"q_id").orderBy($"cd2", $"vec_id")
      val ranked = sq(fx).select($"vec_id", $"codes")
        .join(broadcast(qc), $"vec_id" =!= $"q_id")
        .withColumn("cd2", graft.functions.IntL2.int_l2($"codes", $"qcodes"))
        .select($"q_id", $"vec_id", $"cd2")
        .withColumn("rn", row_number().over(wC))
        .filter($"rn" <= 100)
        .select($"q_id", $"vec_id", $"rn")
        .localCheckpoint() // <= NQ×100 rows; the code scan runs ONCE
      val wE = Window.partitionBy($"q_id").orderBy($"d2", $"vec_id")
      val exact10 = emb.select($"vec_id", roundFx("embedding").as("lv"))
        .join(broadcast(qs0.select($"q_id", roundFx("q_emb").as("lq"))),
              $"vec_id" =!= $"q_id")
        .withColumn("d2", graft.functions.IntL2.int_l2($"lv", $"lq"))
        .select($"q_id", $"vec_id", $"d2")
        .withColumn("rn", row_number().over(wE))
        .filter($"rn" <= 10)
        .select($"q_id", $"vec_id")
        .localCheckpoint() // <= NQ×10 rows; full-precision truth runs ONCE
      val nq = qs0.agg(count(lit(1)).as("n_q"))
      val nTruth = exact10.agg(count(lit(1)).as("n_truth"))
      def report(c: Int): DataFrame = {
        val cand = ranked.filter($"rn" <= c).select($"q_id", $"vec_id")
        exact10.join(cand, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(nq))
          .crossJoin(broadcast(nTruth))
          .select(lit(s"sq8_top$c").as("method"), $"n_q", $"n_truth",
            $"hits", $"n_cand",
            ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
            ($"n_cand" / $"n_q".cast("double")).as("avg_candidates"))
      }
      report(30).unionByName(report(100)).orderBy($"method")
    },

    // IVF+SQ8 COMPOSED INDEX — the layout a CPU ANN deployment
    // actually ships (FAISS "IVF,SQ8": coarse cells prune WHICH vectors
    // to touch, int8 codes shrink WHAT each touch costs — s15 measured
    // the first loss alone, s24 the second; production pays BOTH, and
    // the composed recall is what sizes nprobe and the rerank width):
    // vectors live in s03/s15's 8 coarse cells as s24's global-scale
    // int8 codes; each query probes its top-2 cells (s15's exact
    // cosine ranking) and ranks ONLY those cells' codes by integer
    // code-space L2; top-30/100 candidates score against the exact
    // full-precision int-L2 top-10. Scale shape: the probe join keeps
    // posting lists partition-prunable (vectors never shuffle — the
    // store row is (vec_id, cell, 64 bytes of codes)); the per-query
    // scan touches ~2/8 of the corpus at a quarter of the bandwidth —
    // the two multiplicative savings the composition exists for.
    "s26_ivfsq_recall" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val centroids = T.embeddings(s, d)
        .select(($"vec_id" % 8).as("cell"),
                posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cell", $"pos")
        .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1)))
          .cast("float").as("m"))
        .groupBy($"cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("centroid"))
      val centsRow = centroidRow(centroids)
      val fxE = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
      val mRow = emb.withColumn("fx", expr(fxE))
        .agg(greatest(max(expr("array_max(transform(fx, x -> abs(x)))")),
          lit(1L)).as("m"))
      def sq(df: DataFrame): DataFrame = df.crossJoin(broadcast(mRow))
        .withColumn("codes", expr(
          """transform(fx, x -> IF(x >= 0, (254 * x + m) DIV (2 * m),
            |                      -((254 * -x + m) DIV (2 * m))))""".stripMargin))
      val store = sq(assignCells(emb, centsRow, "home_cell")
          .withColumn("fx", expr(fxE)))
        .select($"vec_id", $"home_cell", $"codes")
      val qs0 = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        .localCheckpoint() // NQ rows; the family's shared sample frame
      val qcells = qs0.crossJoin(broadcast(centsRow))
        .select($"q_id", $"q_emb", explode($"cents").as("c"))
        .withColumn("cos", cosine_sim($"q_emb", $"c.centroid"))
        .withColumn("rn", row_number().over(Window.partitionBy($"q_id")
          .orderBy(isnan($"cos").asc, $"cos".desc, $"c.cell".asc)))
        .filter($"rn" <= 2)
        .select($"q_id", $"c.cell".as("pcell"))
      val probe = qcells.join(
        sq(qs0.select($"q_id", expr(
            "transform(q_emb, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
          .as("fx"))).select($"q_id", $"codes".as("qcodes")),
        Seq("q_id"))
      val wC = Window.partitionBy($"q_id").orderBy($"cd2", $"vec_id")
      val ranked = store
        .join(broadcast(probe), $"home_cell" === $"pcell" && $"vec_id" =!= $"q_id")
        .withColumn("cd2", graft.functions.IntL2.int_l2($"codes", $"qcodes"))
        .select($"q_id", $"vec_id", $"cd2")
        .withColumn("rn", row_number().over(wC))
        .filter($"rn" <= 100)
        .select($"q_id", $"vec_id", $"rn")
        .localCheckpoint() // <= NQ×100 rows; the probed code scan runs ONCE
      val wE = Window.partitionBy($"q_id").orderBy($"d2", $"vec_id")
      val exact10 = emb.select($"vec_id", roundFx("embedding").as("lv"))
        .join(broadcast(qs0.select($"q_id", roundFx("q_emb").as("lq"))),
              $"vec_id" =!= $"q_id")
        .withColumn("d2", graft.functions.IntL2.int_l2($"lv", $"lq"))
        .select($"q_id", $"vec_id", $"d2")
        .withColumn("rn", row_number().over(wE))
        .filter($"rn" <= 10)
        .select($"q_id", $"vec_id")
        .localCheckpoint() // <= NQ×10 rows; the truth pass runs ONCE
      val nq = qs0.agg(count(lit(1)).as("n_q"))
      val nTruth = exact10.agg(count(lit(1)).as("n_truth"))
      def report(c: Int): DataFrame = {
        val cand = ranked.filter($"rn" <= c).select($"q_id", $"vec_id")
        exact10.join(cand, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(nq))
          .crossJoin(broadcast(nTruth))
          .select(lit(s"ivfsq_top$c").as("method"), $"n_q", $"n_truth",
            $"hits", $"n_cand",
            ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
            ($"n_cand" / $"n_q".cast("double")).as("avg_candidates"))
      }
      report(30).unionByName(report(100)).orderBy($"method")
    },

    // NPROBE OPERATING CURVE — the knob-sizing table s26's finding
    // points at (the composed index's loss is ALL cell pruning, so
    // "raise nprobe" is the fix — to WHAT?): recall ceiling and scan
    // cost at nprobe = 1/2/4/8 over s15's coarse quantizer, the
    // recall-vs-bandwidth tradeoff an IVF deployment reads to pick its
    // operating point. The trick that makes the whole curve one pass:
    // a truth pair is recalled at nprobe=p iff its home cell's probe
    // RANK for that query is <= p, so joining the exact top-10 to the
    // (assignment, probe-rank) frames yields each pair's minimal
    // recalling nprobe (pr_star) — all four curve points are then
    // integer filters over an NQ×10 control frame, and the candidate
    // bill is cell sizes joined to probe ranks (NQ×8 rows), never a
    // second corpus scan. Total corpus passes: one brute-force truth
    // scan + three map-only assignment passes; every join after is a
    // broadcast of a control frame. nprobe=1/2 rows must equal s15's
    // by construction (same quantizer, sample, and set semantics —
    // the spec pins it); nprobe=8 is exhaustive, recall 1 exactly.
    "s27_nprobe_curve" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val centroids = T.embeddings(s, d)
        .select(($"vec_id" % 8).as("cell"),
                posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cell", $"pos")
        .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1)))
          .cast("float").as("m"))
        .groupBy($"cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("centroid"))
      val centsRow = centroidRow(centroids)
      val assigned = assignCells(emb, centsRow, "home_cell")
        .select($"vec_id", $"home_cell")
        // read by three branches (pr_star, cell sizes, query homes) with
        // no runtime exchange reuse — the centroid aggregation + the
        // assignment pass ran 3x unmaterialized; the frame is two longs
        // per vector
        .localCheckpoint()
      val qs0 = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        .localCheckpoint() // NQ rows; the family's shared sample frame
      val qcells = qs0.crossJoin(broadcast(centsRow))
        .select($"q_id", $"q_emb", explode($"cents").as("c"))
        .withColumn("cos", cosine_sim($"q_emb", $"c.centroid"))
        .withColumn("rn", row_number().over(Window.partitionBy($"q_id")
          .orderBy(isnan($"cos").asc, $"cos".desc, $"c.cell".asc)))
        .select($"q_id", $"c.cell".as("pcell"), $"rn")
        .localCheckpoint() // NQ×8 control rows: the full probe ranking
      val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      val exact10 = emb.join(broadcast(qs0), $"vec_id" =!= $"q_id")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .filter(!isnan($"cosine"))
        .select($"q_id", $"vec_id", $"cosine")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .select($"q_id", $"vec_id")
        .localCheckpoint() // <= NQ×10 rows; the truth pass runs ONCE
      val prStar = assigned
        .join(broadcast(exact10), Seq("vec_id"))
        .join(broadcast(qcells), Seq("q_id"))
        .filter($"home_cell" === $"pcell")
        .select($"q_id", $"vec_id", $"rn".as("pr_star"))
        .localCheckpoint() // NQ×10 rows: minimal recalling nprobe per pair
      val csize = assigned.groupBy($"home_cell".as("cell"))
        .agg(count(lit(1)).as("csz"))
      val qhome = assigned
        .join(broadcast(qs0.select($"q_id")), $"vec_id" === $"q_id")
        .select($"q_id", $"home_cell".as("qcell"))
      val perProbe = qcells
        .join(broadcast(csize), $"pcell" === $"cell")
        .join(broadcast(qhome), Seq("q_id"))
        .select($"q_id", $"rn",
          ($"csz" - when($"pcell" === $"qcell", 1L).otherwise(0L))
            .as("scanned"))
        .localCheckpoint() // NQ×8 rows: per-probe posting-list bill
      val nq = qs0.agg(count(lit(1)).as("n_q"))
      val nTruth = exact10.agg(count(lit(1)).as("n_truth"))
      val nCorp = emb.agg(count(lit(1)).as("n"))
      def report(np: Int): DataFrame =
        prStar.filter($"pr_star" <= np).agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(perProbe.filter($"rn" <= np)
            .agg(sum($"scanned").as("n_cand"))))
          .crossJoin(broadcast(nq))
          .crossJoin(broadcast(nTruth))
          .crossJoin(broadcast(nCorp))
          .select(lit(s"ivf_nprobe_$np").as("method"), $"n_q", $"n_truth",
            $"hits", $"n_cand",
            ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
            ($"n_cand" / $"n_q".cast("double")).as("avg_candidates"),
            ($"n_cand" / ($"n_q" * ($"n" - lit(1))).cast("double"))
              .as("scan_frac"))
      report(1).unionByName(report(2)).unionByName(report(4))
        .unionByName(report(8)).orderBy($"method")
    },

    // RANGE SEARCH — the RADIUS half of the similarity API (top-k asks
    // "the nearest k whatever the distance"; range asks "EVERYTHING
    // within R" — which is the query near-dup thresholds actually are:
    // semantic dedup keeps all neighbors under a distance bound, and
    // FAISS/Milvus expose range_search beside knn for exactly this).
    // Per sampled query: the exact nearest-neighbor distance (the
    // statistic radii are calibrated FROM) and, at two fixed integer
    // radii, the within-R count plus an id-sum set checksum (the count
    // alone could match with the wrong members). All distances are the
    // family's once-rounded 1e8 fixed point through the codegen IntL2
    // loop — no float ever compares. Scale shape: ONE corpus scan
    // against the broadcast NQ sample, conditional aggregates fold
    // map-side to (q_id, 4 longs) partials — the same linear-in-corpus
    // bill as s01/s22, with no top-k window at all.
    "s25_range_search" -> { (s, d) =>
      import s.implicits._
      val R1 = 15000000000000000L // ~2% of pair distances at sf0.01
      val R2 = 17000000000000000L // ~12%
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val qs0 = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      emb.select($"vec_id", roundFx("embedding").as("lv"))
        .join(broadcast(qs0.select($"q_id", roundFx("q_emb").as("lq"))),
              $"vec_id" =!= $"q_id")
        .withColumn("d2", graft.functions.IntL2.int_l2($"lv", $"lq"))
        .groupBy($"q_id")
        .agg(min($"d2").as("nn_d2"),
             sum(when($"d2" <= R1, 1L).otherwise(0L)).as("n_r1"),
             sum(when($"d2" <= R2, 1L).otherwise(0L)).as("n_r2"),
             sum(when($"d2" <= R1, $"vec_id").otherwise(0L)).as("ids_r1"))
        .orderBy($"q_id")
    },

    // INDEX LOAD PROFILE — the serving-ops report next to the recall
    // evals (s14/s15/s16 ask "does the index find things"; s17 asks
    // "what does a probe COST, and how unevenly"): for each candidate
    // generator (s02's sign-LSH buckets, s03's IVF cells), the weighted
    // distribution of per-query candidate-list size — every vector is a
    // potential query and probes its own bucket, so a bucket of n
    // contributes n queries of cost n−1 — reported as p50/p95/max
    // candidates plus the classic imbalance factor (max·buckets/total,
    // 1.0 = perfectly even). A p95 far above p50 is the tail-latency
    // smoking gun; imbalance says whether to re-hash or re-train.
    // Determinism: counts are integers; the percentile is "smallest
    // candidate count whose cumulative query mass reaches the quantile"
    // evaluated as integer cross-multiplication (cum·2 ≥ total,
    // cum·20 ≥ 19·total) — no float ever picks a percentile. Scale
    // shape: one groupBy(bucket) count per generator (map-side
    // combined); everything after runs on the O(buckets) control frame
    // (≤ 256 rows here; bounded by the index's cell count, never the
    // corpus) — the cumulative mass is a broadcast triangular join over
    // buckets, not vectors, so no global window ever plans.
    "s17_index_load_profile" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val lshCounts = emb.select(signBucket.cast("long").as("k"))
        .groupBy($"k").agg(count(lit(1)).as("n"))
      // s03/s15's exact-decimal seed-cell trainer + map-only assignment
      val centroids = T.embeddings(s, d)
        .select(($"vec_id" % 8).as("cell"),
                posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cell", $"pos")
        .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1)))
          .cast("float").as("m"))
        .groupBy($"cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("centroid"))
      val ivfCounts = assignCells(emb, centroidRow(centroids), "home_cell")
        .select($"home_cell".as("k"))
        .groupBy($"k").agg(count(lit(1)).as("n"))
      def profile(name: String, counts: DataFrame): DataFrame = {
        // cumulative query mass per distinct candidate cost WITHOUT a
        // global window (an empty-partition-spec WindowExec is the
        // registry sweep's forbidden shape, small frame or not): group
        // the bucket counts by candidate cost, then prefix-sum via a
        // broadcast triangular self-join (b.cand <= a.cand) — plans as
        // a BroadcastNestedLoopJoin over the O(buckets) control frame
        // (<= 256 rows, bounded by index geometry, never the corpus),
        // the same dimension-bounded shape as the q49 theta join. The
        // (cand, k) window's within-cand tie-break cannot change any
        // min(cand | cum >= q) answer, so grouping by cand first is
        // value-identical to the old running total.
        // O(buckets) rows, read by both the mass grouping and the
        // totals — unmaterialized, the bucket-count pipeline (incl.
        // the ivf centroid aggregation) ran twice
        val countsM = counts.localCheckpoint()
        val byCand = countsM.select(($"n" - 1L).as("cand"), $"n")
          .groupBy($"cand").agg(sum($"n").as("mass"))
        val cc = byCand.as("a")
          .join(broadcast(byCand.select($"cand".as("bcand"),
            $"mass".as("bmass"))), $"bcand" <= $"cand")
          .groupBy($"cand")
          .agg(sum($"bmass").as("cum"))
        val tot = countsM.agg(sum($"n").as("n_vecs"),
          count(lit(1)).as("n_buckets"), max($"n").as("max_n"))
        cc.crossJoin(broadcast(tot))
          .groupBy($"n_buckets", $"n_vecs", $"max_n")
          .agg(min(when($"cum" * 2 >= $"n_vecs", $"cand")).as("p50_cand"),
               min(when($"cum" * 20 >= $"n_vecs" * 19, $"cand")).as("p95_cand"),
               max($"cand").as("max_cand"))
          .select(lit(name).as("method"), $"n_buckets", $"n_vecs",
            $"p50_cand", $"p95_cand", $"max_cand",
            (($"max_n" * $"n_buckets") / $"n_vecs".cast("double"))
              .as("imbalance"))
      }
      profile("lsh_bucket", lshCounts)
        .unionByName(profile("ivf_cell", ivfCounts))
        .orderBy($"method")
    },

    // CENTROID DRIFT / RETRAIN MONITOR — the ops report behind the
    // "when do I re-train the index" decision s17's load profile begs:
    // between two Lloyd iterations (s05's exact machinery — same
    // exact-decimal centroids, same first-wins assignment), per cell:
    // member counts before/after, how many members DEFECTED, and the
    // fixed-point L2 distance the centroid itself moved (the codegen
    // IntL2 over once-rounded arrays — s16's convention). Near-zero
    // drift and defection = the index is stable, retraining buys
    // nothing; a cell with high defection is the one whose region the
    // corpus outgrew. Determinism: counts are integers, drift is
    // integer fixed-point, one division for the defection fraction; a
    // cell that loses every member reports drift NULL (the retrain
    // signal, not a zero). Scale shape: assignments are map-only
    // (broadcast centroid row + codegen argmax) and re-derive from the
    // scan rather than checkpointing corpus-sized frames — only the
    // 8-row centroid frames and the (vec_id, cell) long pairs ever
    // materialize; the count/defect aggregates shuffle 16 B rows.
    "s18_centroid_drift" -> { (s, d) =>
      import s.implicits._
      import graft.functions.IntL2.int_l2
      val emb = T.embeddings(s, d).select($"vec_id", $"embedding")
      def assign(cents: DataFrame): DataFrame =
        assignCells(emb, centroidRow(cents), "cell")
      val a0 = emb.withColumn("cell", $"vec_id" % 8)
      val c1 = lloydCentroids(a0).localCheckpoint() // 8 rows; assign + drift
      val a1 = assign(c1)
      val a1n = a1.select($"vec_id", $"cell").localCheckpoint()
      val c2 = lloydCentroids(a1).localCheckpoint()
      val a2n = assign(c2).select($"vec_id", $"cell").localCheckpoint()
      val drift = c1.select($"cell", roundFx("centroid").as("l1"))
        .join(c2.select($"cell", roundFx("centroid").as("l2")),
              Seq("cell"), "left")
        .select($"cell", int_l2($"l1", $"l2").as("drift_d2"))
      val n1 = a1n.groupBy($"cell").agg(count(lit(1)).as("n1"))
      val n2 = a2n.groupBy($"cell").agg(count(lit(1)).as("n2"))
      val moved = a1n
        .join(a2n.select($"vec_id", $"cell".as("cell2")), Seq("vec_id"))
        .filter($"cell" =!= $"cell2")
        .groupBy($"cell").agg(count(lit(1)).as("n_moved_out"))
      drift.join(n1, Seq("cell"), "left").join(n2, Seq("cell"), "left")
        .join(moved, Seq("cell"), "left")
        .select($"cell", coalesce($"n1", lit(0L)).as("n1"),
          coalesce($"n2", lit(0L)).as("n2"),
          coalesce($"n_moved_out", lit(0L)).as("n_moved_out"),
          $"drift_d2",
          (coalesce($"n_moved_out", lit(0L)) / $"n1".cast("double"))
            .as("frac_moved"))
        .orderBy($"cell")
    },

    // SemDeDup (semantic dedup over embeddings): within each cluster,
    // a vector is REMOVED when a lower-id vector in the same cluster is
    // semantically identical (cosine >= 0.95) — the keep/remove
    // RESOLUTION step d05/d10's pair listings stop short of. Domination
    // by min-id is a one-join, one-aggregate plan (no transitive
    // closure: the lowest-id member of every duplicate neighborhood
    // survives by construction). Cluster = the label column here,
    // standing in for a k-means cell id (chain s05's assignment for
    // learned cells — same plan shape); at 100 TB the knob is the
    // CLUSTER COUNT k, which bounds the within-cluster quadratic
    // exactly as the paper sizes it (k ~ sqrt(n) keeps cells ~sqrt(n)).
    // Corpus plants exact copies (vec_id % 10 -> +1e6) so removal is
    // provably non-empty at every scale.
    "d14_semdedup" -> { (s, d) =>
      import s.implicits._
      val base = T.embeddings(s, d)
      val emb = base.unionByName(
        base.filter($"vec_id" % 10 === 0)
          .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding", $"label"))
      emb.as("x").join(emb.as("y"),
          col("x.label") === col("y.label") &&
          col("x.vec_id") < col("y.vec_id"))
        .withColumn("cosine", cosine_sim(col("x.embedding"), col("y.embedding")))
        .filter($"cosine" >= 0.95)
        .groupBy(col("y.vec_id").as("vec_id"), col("y.label").as("label"))
        .agg(min(col("x.vec_id")).as("keeper_id"),
             count(lit(1)).as("n_dominators"))
        .orderBy($"vec_id")
    },

    // d14's documented scale path MADE RUNNABLE: SemDeDup keep/remove
    // over LEARNED cells — the corpus (with planted copies) trains s03's
    // coarse quantizer (k = max(8, floor(sqrt(n/8))) exact-decimal
    // seed-cell centroids, sized to the corpus in-plan), every vector is
    // assigned map-only to its nearest centroid, and the within-CELL
    // min-id domination resolves keep/remove. This is the chain a
    // 100 TB deployment runs (ARCHITECTURE's scale probes measure why
    // k must grow with n); identical vectors always share a cell
    // (the argmax is deterministic in the vector), so planted-copy
    // recall survives the learned clustering.
    "d15_semdedup_cells" -> { (s, d) =>
      import s.implicits._
      val base = T.embeddings(s, d)
      val emb = base.unionByName(
        base.filter($"vec_id" % 10 === 0)
          .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding", $"label"))
      // The knob, sized the way the paper sizes it: cells ~ sqrt(n/8)
      // bounds within-cell pair work at ~n^1.5 instead of n^2/k_fixed
      // (fixed k=8 measured 22 s at the 16x scale point — the
      // quadratic-in-cell-size wall this removes). floor + max(8) keeps
      // the small-corpus shape at the historical k=8, and both engines
      // derive the IDENTICAL integer (exact count, IEEE sqrt, exact
      // floor — the oracle computes the same k in a scalar subquery).
      // k is computed IN-PLAN (1-row broadcast crossJoin), not by an
      // eager driver-side count: the query stays lazy and the corpus is
      // not scanned an extra time at DataFrame construction.
      val kdf = emb.agg(greatest(lit(8L),
        floor(sqrt(count(lit(1)) / 8.0)).cast("long")).as("k"))
      val centroids = emb.crossJoin(broadcast(kdf))
        .select(($"vec_id" % $"k").as("cell"),
          posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cell", $"pos")
        .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1)))
          .cast("float").as("m"))
        .groupBy($"cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("centroid"))
      // materialized once: the x/y sides of the cell self-join don't
      // reuse each other's exchange, so the k-sizing + centroid
      // aggregation + assignment pipeline ran twice
      val assigned = assignCells(emb, centroidRow(centroids), "cell")
        .localCheckpoint()
      assigned.as("x").join(assigned.as("y"),
          col("x.cell") === col("y.cell") &&
          col("x.vec_id") < col("y.vec_id"))
        .withColumn("cosine", cosine_sim(col("x.embedding"), col("y.embedding")))
        .filter($"cosine" >= 0.95)
        .groupBy(col("y.vec_id").as("vec_id"), col("y.cell").cast("int").as("cell"))
        .agg(min(col("x.vec_id")).as("keeper_id"),
             count(lit(1)).as("n_dominators"))
        .orderBy($"vec_id")
    },

    // IVF-style ANN: a coarse quantizer (8 centroids = exact-decimal
    // per-dimension means over deterministic seed cells; production trains
    // them with k-means — same plan shape), vectors assigned to their
    // NEAREST centroid (posting lists), query probes only its centroid's
    // list. Scale path: posting lists are partition-prunable by centroid
    // id; nprobe>1 = union of a few lists. Complements s02's LSH variant.
    "s03_ann_ivf" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d)
      // per-dimension exact mean per seed cell, as float arrays
      val centroids =
        emb.select(($"vec_id" % 8).as("cell"),
                   posexplode($"embedding").as(Seq("pos", "v")))
          .groupBy($"cell", $"pos")
          .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1)))
            .cast("float").as("m"))
          .groupBy($"cell")
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
            .as("centroid"))
      // map-only nearest-centroid assignment vs ONE broadcast centroid
      // row; materialized once — the query-row broadcast and the
      // posting-list scan both read it, and the centroid aggregation
      // re-ran per branch unmaterialized
      val assigned = assignCells(emb, centroidRow(centroids), "home_cell")
        .localCheckpoint()
      val q = broadcast(assigned.filter($"vec_id" === QID)
        .select($"embedding".as("q_emb"), $"home_cell".as("q_cell")))
      assigned.filter($"vec_id" =!= QID)
        .join(q, $"home_cell" === $"q_cell")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .select($"vec_id", $"label", $"home_cell".cast("int").as("cell"), $"cosine")
        .orderBy($"cosine".desc, $"vec_id")
        .limit(5)
    },

    // Per-label centroids (distributed vector mean): posexplode to
    // (label, pos, v) — narrow rows with map-side partial aggregation,
    // so the shuffle carries |labels| x dim rows, not vectors. The
    // building block for k-means / IVF training at 100 TB. Exact
    // decimal sums keep the means bit-identical to the oracle.
    "s04_label_centroids" -> { (s, d) =>
      import s.implicits._
      T.embeddings(s, d)
        // slice BEFORE exploding: a pos-filter after posexplode cannot
        // push below the Generate, so it would expand all 64 dims to
        // discard 56
        .select($"label", posexplode(slice($"embedding", 1, 8)).as(Seq("pos", "v")))
        .groupBy($"label", $"pos")
        // elements quantized to 1e-8 by EXPLICIT round(v*1e8): Spark's
        // double->decimal cast rounds the exact binary expansion while
        // DuckDB rounds the double product, which disagree on ~0.1% of
        // float32 values — round(v*1e8) is the identical IEEE operation
        // sequence on both engines, and integer sums are order-exact
        .agg((sum(round($"v".cast("double") * 1e8).cast("long"))
                .cast("double") / count(lit(1)) / 1e8).as("m"),
             count(lit(1)).as("n_vecs"))
        .orderBy($"label", $"pos")
    },

    // Iterative spherical k-means (2 unrolled Lloyd iterations, K=8):
    // deterministic seed cells (vec_id % 8) -> exact-integer centroid
    // means -> cosine argmax re-assignment, twice. The whole chain stays
    // bit-reproducible across engines AND cluster sizes: centroids are
    // order-free integer sums (round(v*1e8)) surfaced as float32, so the
    // cosines every assignment compares are bit-identical, and argmax
    // ties break deterministically (smallest cell — NearestCentroid's
    // first-wins scan over cell-sorted centroids). The canonical
    // iterative-training loop on DataFrames — at 100 TB each iteration is
    // one narrow posexplode-aggregate (centroids, |K|·dim rows out) and
    // one MAP-ONLY assignment vs one broadcast centroid row (no fan-out,
    // no re-shuffle of embedding payloads); deep loops would add
    // localCheckpoint() to truncate lineage.
    "s05_kmeans_iter" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d).select($"vec_id", $"embedding")
      def assign(cents: DataFrame): DataFrame =
        assignCells(emb, centroidRow(cents), "cell")
      var a: DataFrame = emb.withColumn("cell", $"vec_id" % 8)
      for (_ <- 1 to 2) a = assign(lloydCentroids(a))
      a.join(broadcast(lloydCentroids(a).select($"cell",
               element_at($"centroid", 1).as("c0"))), Seq("cell"))
        .groupBy($"cell", $"c0")
        .agg(count(lit(1)).as("n_members"))
        .select($"cell", $"n_members", $"c0")
        .orderBy($"cell")
    },

    // Product quantization (the IVF-PQ compression path: 64 float32 dims
    // → 4 byte codes, 64× smaller): split each vector into M=4
    // subspaces, train a K=8 codebook per subspace (one Lloyd iteration
    // from the deterministic vec_id % K seeding, s05's exact-decimal
    // order-free centroid means), then encode every subvector as its
    // nearest codeword. All distances are INTEGER L2 over
    // round(x * 1e8) fixed-point — argmin needs no FP comparison on
    // either engine, ties break to the smallest code. Scale shape: the
    // codebook is M×K tiny rows (broadcast); training shuffles
    // (j, code, pos, long) partial sums; encoding fans each vector out
    // M×K against the broadcast codebook and reduces map-side — the
    // embedding payload itself is never shuffled.
    "s11_product_quantization" -> { (s, d) =>
      import s.implicits._
      // the full (vec_id, j, code, d2) encode off the persisted PQ
      // artifact — one training per fixture generation, not per query
      pqFrame(s, d, "codes")
        .groupBy($"vec_id")
        .agg(max(when($"j" === 0, $"code")).as("c0"),
             max(when($"j" === 1, $"code")).as("c1"),
             max(when($"j" === 2, $"code")).as("c2"),
             max(when($"j" === 3, $"code")).as("c3"),
             (sum($"d2").cast("double") / 1e16).as("recon_d2"))
        .orderBy($"vec_id")
    },

    // ADC search over the PQ index — the query path that makes s11 an
    // ANN engine: the query's distance TABLE to all M×K codewords is
    // M×K tiny rows (computed once, broadcast); each database vector's
    // approximate distance is then M integer table lookups summed —
    // never a touch of the original floats. Exact fixed-point rerank of
    // the top-30 restores exact order for the final 10 (s09's two-stage
    // shape). At 100 TB the scan side reads only (vec_id, 4 codes).
    "s12_pq_adc" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d)
      // codebook + codes off the persisted PQ artifact: one training
      // per fixture generation (shared with s11/s16/s35), and the
      // session-checkpointed codebook still broadcasts as a
      // materialized M×K = 32-row leaf to both consumers below
      val cb = pqFrame(s, d, "codebook")
      val codes = pqFrame(s, d, "codes").select($"vec_id", $"j", $"code")
      // distance table: query subvectors × codebook, integer L2
      val dt = pqSubs(emb.filter($"vec_id" === QID)).select($"j", $"sv")
        .withColumn("lsv", roundFx("sv"))
        .join(broadcast(cb.withColumn("lcentroid", roundFx("centroid"))),
              Seq("j"))
        .withColumn("d2", graft.functions.IntL2.int_l2($"lsv", $"lcentroid"))
        .select($"j", $"code", $"d2".as("dq"))
      val approx = codes.filter($"vec_id" =!= QID)
        .join(broadcast(dt), Seq("j", "code"))
        .groupBy($"vec_id")
        .agg(sum($"dq").as("adc"))
        .orderBy($"adc", $"vec_id")
        .limit(30)
      val q = broadcast(emb.filter($"vec_id" === QID)
        .select($"embedding".as("q_emb")))
      intL2(broadcast(approx)
          .join(emb.select($"vec_id", $"label", $"embedding"), Seq("vec_id"))
          .crossJoin(q), $"embedding", $"q_emb")
        .select($"vec_id", $"label",
                ($"adc".cast("double") / 1e16).as("adc_d2"),
                ($"d2".cast("double") / 1e16).as("exact_d2"))
        .orderBy($"exact_d2", $"vec_id")
        .limit(10)
    },

    // Int8 scalar quantization (the standard embedding-compression step
    // for ANN serving — 4x smaller than float32): per-vector affine
    // [min,max] -> [0,255] codes, with the reconstruction-error bound
    // checked row-by-row. Map-only, and every output is an order-free
    // reduction (min/max/integer sum) of per-element IEEE ops, so the
    // oracle matches bit-for-bit.
    "s06_scalar_quantization" -> { (s, d) =>
      import s.implicits._
      T.embeddings(s, d)
        // explicit domain: a zero-length array would make Spark's
        // sequence(1, 0) yield [1, 0] and element_at(codes, 0) throw,
        // while the oracle's range(1, 1) is empty — restrict both sides
        .filter(size($"embedding") > 0)
        .withColumn("xs", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("lo", expr("array_min(xs)"))
        .withColumn("hi", expr("array_max(xs)"))
        .withColumn("scale",
          expr("IF(hi = lo, CAST(1.0 AS DOUBLE), (hi - lo) / 255)"))
        .withColumn("codes",
          expr("transform(xs, x -> CAST(round((x - lo) / scale) AS INT))"))
        .withColumn("err", expr(
          "array_max(transform(sequence(1, size(xs)), i -> " +
            "abs(lo + element_at(codes, i) * scale - element_at(xs, i))))"))
        .select($"vec_id", $"lo", $"hi",
          expr("CAST(aggregate(codes, 0L, (a, c) -> a + c) AS BIGINT)")
            .as("code_sum"),
          ($"err" <= $"scale" * 0.5 + lit(1e-12)).as("err_in_bound"))
        .orderBy($"vec_id")
    },

    // Near-duplicate embeddings (cosine >= 0.999), blocked on
    // (label, sign-LSH bucket); corpus includes exact copies
    // (vec_id + 1e6) as planted dups. The second key bounds within-block
    // pair growth: label alone degenerates to all-pairs under one hot
    // label, while conjoining the s02 sign bucket caps a block at
    // ~|label|/256. Exact copies agree on every sign, so the planted dups
    // always share a bucket; a merely near-identical pair (cosine >=
    // 0.999) CAN land in different buckets when one of the 8 hashed
    // coordinates sits near zero and flips sign — a real recall loss vs
    // label-only blocking. The recovery knob is multi-probe: also probe
    // the buckets reached by flipping the lowest-|v| signs (d10 above
    // implements probe-P on both sides, s07 on the query side); both
    // engines block identically either way, so hash parity is unaffected.
    "d05_embedding_neardup" -> { (s, d) =>
      import s.implicits._
      val base = T.embeddings(s, d)
      val emb = base.unionByName(
          base.filter($"vec_id" % 10 === 0)
            .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding", $"label"))
        .withColumn("bucket", signBucket)
      emb.as("x").join(emb.as("y"),
          col("x.label") === col("y.label") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
        .withColumn("cosine", cosine_sim(col("x.embedding"), col("y.embedding")))
        .filter($"cosine" >= 0.999)
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
                col("x.label").as("label"), col("cosine"))
        .orderBy(col("v1"), col("v2"))
    },

    // EMBEDDING HEALTH AUDIT — the garbage-in gate every index build
    // (s02/s03), clustering (s05/d14), and cosine op in this library
    // silently assumes away: cosine on an unnormalized vector misranks,
    // a zero vector poisons centroid means, and exact-duplicate vectors
    // double-count cells (the VectorIndex addBatch lesson at the value
    // level rather than the id level). Per label: vector count, zero
    // vectors, off-norm vectors (|Σ fp_i² − 1e16| > 1e14, i.e. norm
    // off by > ~0.5% at the 1e8 fixed point — every arithmetic step
    // integer, no float compares), value-level exact duplicates (same
    // fixed-point array ANYWHERE in the corpus — detected by 60-bit
    // hash of the fp array, not by shuffling vectors), and the
    // norm² extremes. The corpus plants each pathology: ×4-scaled
    // copies (exact in ANY float width — the parity-safe corruption),
    // zero vectors, and exact value copies. Scale shape: one map-only
    // scan to (vec_id, label, norm2, h) — 32 B/vector; dup detection
    // is a count on h joined back narrow; vectors themselves never
    // shuffle. The audit is the cheapest query in the s-family by
    // construction — it must be, since it gates everything else.
    "s29_embedding_health" -> { (s, d) =>
      import s.implicits._
      val base = T.embeddings(s, d)
      val corpus = base
        .unionByName(base.filter($"vec_id" % 9 === 0)
          .select(($"vec_id" + 1000000L).as("vec_id"),
            expr("transform(embedding, x -> x * CAST(4.0 AS FLOAT))")
              .as("embedding"),
            $"label"))
        .unionByName(base.filter($"vec_id" % 17 === 0)
          .select(($"vec_id" + 2000000L).as("vec_id"),
            expr("transform(embedding, x -> CAST(0.0 AS FLOAT))")
              .as("embedding"),
            $"label"))
        .unionByName(base.filter($"vec_id" % 13 === 0)
          .select(($"vec_id" + 3000000L).as("vec_id"), $"embedding",
            $"label"))
      val stats = corpus
        .withColumn("fp", roundFx("embedding"))
        .select($"vec_id", $"label",
          expr("aggregate(fp, 0L, (acc, v) -> acc + v * v)").as("norm2"),
          graft.Dets.phash(
            expr("array_join(transform(fp, v -> CAST(v AS STRING)), ',')"))
            .as("h"))
        // read by the dup count AND the score join — the fingerprint
        // kernel over the 4-branch union ran twice unmaterialized
        .localCheckpoint()
      val dupCounts = stats.groupBy($"h").agg(count(lit(1)).as("nh"))
      stats.join(dupCounts, Seq("h"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when($"norm2" === 0L, 1L).otherwise(0L)).as("n_zero"),
          sum(when(abs($"norm2" - 10000000000000000L) > 100000000000000L, 1L)
            .otherwise(0L)).as("n_offnorm"),
          sum(when($"nh" > 1L, 1L).otherwise(0L)).as("n_dup"),
          min($"norm2").as("min_norm2"),
          max($"norm2").as("max_norm2"))
        .orderBy($"label")
    },

    // K-NN GRAPH CONSTRUCTION — the build step of every graph-ANN
    // index (NN-descent seeds from exactly this; HNSW's layer 0 IS a
    // kNN graph) and the input of graph-based semantic clustering:
    // for EVERY vector — the graph covers the corpus, unlike the
    // NQ-sampled evals — its K=4 nearest same-label neighbors among
    // multi-probe sign-LSH candidates (probe-1 on the src side: the
    // near-boundary neighbors single-bucket blocking structurally
    // loses — the d10 lesson applied to graph build). Edges carry
    // exact cosine; rank is a per-src window (cosine DESC, dst ASC —
    // fully deterministic). Scale shape: candidates are narrow
    // (src, dst) pairs from the (label, bucket) equi-join; the
    // HYPERPLANE COUNT IS CORPUS-ADAPTIVE (the d15 discipline —
    // fixed 8-bit blocking measured 27 s at the 64× scale point,
    // 17× per 4× data: cells grow linearly with the corpus and the
    // within-cell join goes quadratic): nb = max(8,
    // ⌈log2(n/32)⌉) hyperplanes hold expected cells at ~32 vectors,
    // derived INTEGER-ONLY as length(bin(⌈n/32⌉ − 1)) — no libm
    // log2, whose last-ulp drift could flip a ceil across engines —
    // computed in-plan from one 1-row broadcast (no driver scalar;
    // nb = 8 at every fixture SF, so small-corpus results equal the
    // historical 8-bit blocking exactly). Embeddings join back BY
    // ID, never through the pair fan-out; the top-K window
    // partitions by src over blocking-bounded lists; output ≤ n·K
    // rows — linear.
    "s30_knn_graph" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb0 = T.embeddings(s, d)
      val nbdf = emb0.agg(expr(
        "greatest(8, length(bin(greatest((count(1) + 31) DIV 32 - 1, 1))))")
        .cast("int").as("nb"))
      val emb = emb0.crossJoin(broadcast(nbdf))
        .withColumn("bucket", lshBucketExpr("embedding", "nb"))
      val probes = emb.select($"vec_id", $"label",
        explode(lshProbe1Expr("embedding", "bucket", "nb")).as("bkey"))
      val bases = emb.select($"vec_id".as("dst"), $"label",
        $"bucket".as("bkey"))
      val cand = probes.join(bases, Seq("bkey", "label"))
        .filter($"vec_id" =!= $"dst")
        .select($"vec_id".as("src"), $"dst", $"label")
        .distinct()
      val w = Window.partitionBy($"src").orderBy($"cosine".desc, $"dst")
      cand
        .join(emb0.select($"vec_id".as("src"), $"embedding".as("se")),
          Seq("src"))
        .join(emb0.select($"vec_id".as("dst"), $"embedding".as("de")),
          Seq("dst"))
        .withColumn("cosine", cosine_sim($"se", $"de"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 4)
        .select($"src", $"rnk", $"dst", $"label", $"cosine")
        .orderBy($"src", $"rnk")
    },

    // INVERTED MULTI-INDEX CELL PROFILE — the coarse-quantizer LAYOUT
    // decision (Babenko & Lempitsky's IMI): a product-space quantizer
    // builds 256 virtual cells from TWO 16-codeword codebooks over the
    // vector's halves — 1/8 the trained parameters of a true IVF-256
    // (2·16·32 vs 256·64) and a far cheaper assignment scan (32 vs 256
    // centroid comparisons) — at the cost of occupancy SKEW: correlated
    // halves leave product cells empty and pile mass into few, which is
    // exactly what this table measures before an index build commits to
    // either layout. Both quantizers train with the s03 exact-decimal
    // seed-cell trainer (IVF: vec_id % 256 on full vectors; IMI:
    // vec_id % 16 per half), assign map-only against one broadcast
    // centroid row, and report per layout: non-empty/empty cells,
    // cell-count-weighted occupancy p50/p95/max (percentiles by the
    // s17 broadcast-triangular prefix sum — never a global window),
    // imbalance, and the trained-parameter bill. Scale shape: two
    // map-only assignment passes + O(cells) control frames; nothing
    // wider than (cell, count) shuffles after the trainers' narrow
    // (cell, pos, partial) aggregates.
    "s31_imi_cells" -> { (s, d) =>
      import s.implicits._
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      def trainer(src: DataFrame, k: Int): DataFrame = src
        .select(($"vec_id" % k).as("cell"),
                posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cell", $"pos")
        .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1)))
          .cast("float").as("m"))
        .groupBy($"cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m)))," +
          " x -> x.m)").as("centroid"))
      def half(lo: Int): DataFrame =
        emb.select($"vec_id", expr(s"slice(embedding, $lo, 32)")
          .as("embedding"))
      val ivf = assignCells(emb, centroidRow(trainer(emb, 256)), "cell")
        .select($"cell")
      val imi = emb
        .crossJoin(broadcast(centroidRow(trainer(half(1), 16))
          .select($"cents".as("c1"))))
        .crossJoin(broadcast(centroidRow(trainer(half(33), 16))
          .select($"cents".as("c2"))))
        .select((nearest_centroid(expr("slice(embedding, 1, 32)"), $"c1")
          * 16 +
          nearest_centroid(expr("slice(embedding, 33, 32)"), $"c2"))
          .as("cell"))
      def profile(name: String, cells: DataFrame, params: Int)
          : DataFrame = {
        // O(cells) rows, read by the histogram and the totals — without
        // this the trainer + assignment pipeline behind `cells` ran
        // twice per layout (15 parquet scans in the executed plan)
        val occ = cells.groupBy($"cell").agg(count(lit(1)).as("occ"))
          .localCheckpoint()
        val byOcc = occ.groupBy($"occ").agg(count(lit(1)).as("nc"))
        val cum = byOcc.as("a")
          .join(broadcast(byOcc.select($"occ".as("bocc"), $"nc".as("bnc"))),
            $"bocc" <= $"occ")
          .groupBy($"occ").agg(sum($"bnc").as("cum"))
        val tot = occ.agg(count(lit(1)).as("n_nonempty"),
          max($"occ").as("max_occ"), sum($"occ").as("n_vecs"))
        cum.crossJoin(broadcast(tot))
          .groupBy($"n_nonempty", $"max_occ", $"n_vecs")
          .agg(min(when($"cum" * 2 >= $"n_nonempty", $"occ")).as("p50_occ"),
               min(when($"cum" * 20 >= $"n_nonempty" * 19, $"occ"))
                 .as("p95_occ"))
          .select(lit(name).as("layout"), lit(256).cast("int").as("n_cells"),
            $"n_nonempty", (lit(256L) - $"n_nonempty").as("n_empty"),
            $"p50_occ", $"p95_occ", $"max_occ",
            (($"max_occ" * $"n_nonempty") / $"n_vecs".cast("double"))
              .as("imbalance"),
            lit(params).cast("int").as("train_params"))
      }
      profile("imi_16x16", imi, 2 * 16 * 32)
        .unionByName(profile("ivf_256", ivf, 256 * 64))
        .orderBy($"layout")
    },

    // GRAPH BEAM-SEARCH RECALL — the retrieval half of the graph-ANN
    // family (HNSW/NSG serve queries by GREEDY DESCENT over a kNN
    // graph; this measures how much of the exact top-10 that descent
    // recovers per beam width — the index's serving knob). The SEARCH
    // graph is built like s30's but with a coarser corpus-adaptive
    // blocking — nb = max(3, ⌈log2(n/256)⌉) holds expected cells at
    // ~256 instead of s30's ~32 — because the two graphs optimize
    // opposite things: s30's tight cells prune candidate generation,
    // but a graph a descent must TRAVERSE needs rich connectivity
    // (s30's 256-bucket blocking at fixture scale leaves most nodes
    // edge-free, and a beam search over isolated entries measures
    // nothing — measured before this was rebuilt: avg 1.06 nodes
    // visited). Same integer-only nb derivation, same probe-1
    // multi-probe, same exact-cosine top-K=4 per src, then SYMMETRIZED
    // (reverse links, the HNSW/NSG practice — without them a min-id
    // entry often cannot reach high-id neighborhoods at all). Search
    // is ONE KEYED PASS (REPOSE's partition-local top-k shape, no
    // loop of Spark jobs): each query's scored rows, their out-edges
    // and its seeds are grouped by q_id, and one flatMapGroups walks
    // all beam widths in memory; each of the 6 fixed rounds expands the
    // frontier's graph neighbors, drops the per-(beam, query) visited
    // ones, and keeps the top-`beam` fresh nodes (cosine DESC, vec_id
    // under Spark's double order — fully deterministic) as the next
    // frontier. The fresh rows are checkpointed once. Entry point: the
    // min-id same-label vector — known without any auxiliary structure.
    // Ground truth is the exact SAME-LABEL top-10 (the graph is
    // label-partitioned, so recall isolates graph+search loss, not the
    // label restriction); the truth pass doubles as the score oracle
    // for visited nodes, so the corpus is brute-forced ONCE (s14's
    // checkpoint discipline). Report per beam: visited count (the
    // serving cost a production search would pay) and recall@10 — the
    // recall-vs-cost frontier as data. Scale shape: the graph build is
    // s30's linear bill at a 8× coarser cell target (cells held ~256 →
    // O(n·256) candidate pairs); edges are O(n·K) longs
    // localCheckpointed once; rounds are fixed. One query's group holds
    // its same-label scored rows and their symmetrized out-edges
    // (average degree ≤ 8) in one task's memory — O(label population),
    // the rows the truth scan every eval in this family pays already
    // materializes. One call (build + exec) runs 15 Spark jobs at
    // local[4]; a checkpointed join per round ran 54.
    "s32_graph_beam_recall" -> { (s, d) =>
      graphBeamRecall(s, d, nEntries = 1)
    },

    // MULTI-ENTRY BEAM SEARCH — s32 with the entry-diversity knob a
    // low-beam HNSW-quality search actually turns (round-15 advice
    // #4): a single min-id entry point makes low-beam recall hostage
    // to one neighborhood's connectivity — one bad entry and beam 2
    // explores the wrong basin for all 6 rounds. Production graph
    // indexes fix this with entry DIVERSITY (multiple seeds or a
    // coarser top layer); this is the multi-seed form: 4 deterministic
    // entries per query (same-label vectors ranked by phash(vec_id) —
    // id-hash spread, known without any auxiliary structure, exactly
    // as deterministic as s32's min-id), riding the SAME keyed walk,
    // rounds, and scoring as s32 — the only
    // diff is the entry CTE, so the recall-vs-scored delta against
    // s32 at equal beam isolates what entry diversity alone buys: the
    // graph, the truth, the beam and the rounds are all s32's. Scale shape
    // identical to s32: frontier ≤ max(entries, beam) rows per query,
    // one truth scan, O(n·K) edges.
    "s34_multi_entry_beam" -> { (s, d) =>
      graphBeamRecall(s, d, nEntries = 4)
    },

    // HIERARCHICAL (ROUTED-ENTRY) BEAM SEARCH — the two-LEVEL serving
    // shape the graph family was still missing (HNSW's upper layers /
    // SPANN's coarse index exist to answer ONE question: WHERE should
    // the layer-0 walk start?): a deterministic 1/4 routing sample
    // (vec_id ≡ 0 mod 4 — membership needs no auxiliary structure,
    // the s32/s34 seeding discipline) is exact-scored per query, every
    // routing score joins the ranked set (it was paid for — and a real
    // system ranks what it scored), and the single best routed node
    // seeds the SAME 6-round keyed walk over the SAME graph as
    // s32/s34 — so the equal-beam recall/cost deltas isolate what
    // ROUTING buys over a blind min-id entry (s32) and over unrouted
    // diversity (s34). At 100 TB the routing scan is the sample
    // fraction of one label population per query — the SPANN trade:
    // O(n/4) sequential reads to save the walk from a wrong basin.
    // Scale shape: identical to s32 plus one filtered pass over the
    // already-materialized scoredAll; no new corpus scan, no new graph.
    "s36_hierarchical_beam" -> { (s, d) =>
      hierBeamRecall(s, d)
    },

    // TOMBSTONE-POLICY BEAM SEARCH — the deletion question every graph
    // index eventually faces (HNSW famously cannot delete: removing a
    // node's edges fragments the very connectivity the walk needs;
    // s28 measured deletion for IVF, this measures it for the GRAPH):
    // 20% of nodes tombstone (vec_id ≡ 1 mod 5), truth and entries go
    // live-only, and the SAME s32 walk runs under the two production
    // policies — `skip` (a deleted node can neither be scored nor
    // traversed: cheap, but every tombstone is a hole in the graph)
    // vs `through` (the DiskANN practice: traverse and score deleted
    // nodes for NAVIGATION, drop them from the final ranking — the
    // walk pays for nodes it can never return). One report, both
    // policies, all beams: the recall-vs-cost delta is the decision
    // table for how a 100 TB vector store should implement deletes
    // between compactions. n_scored counts the FULL visited set for
    // `through` (the traversal bill is genuinely paid). Scale shape:
    // s32's bill twice over the same checkpointed graph + one filtered
    // pass — no new corpus scan, no new build.
    "s37_tombstone_beam" -> { (s, d) =>
      tombstoneBeamRecall(s, d)
    },

    // INDEX-FRESHNESS BEAM SEARCH — s37's mirror image (deletes poison
    // a graph; INSERTS just miss it): vectors that arrived after the
    // build (25%, vec_id ≡ 3 mod 4) are invisible to the frozen graph,
    // and the three policies a serving stack chooses among run on one
    // report — `stale` (serve the frozen graph; recall caps at
    // whatever share of TRUE neighbors is old), `hybrid` (the
    // FAISS/SPANN freshness buffer: frozen-graph walk + an exact
    // side-scan of the unindexed tail merged at rank time — n_scored
    // honestly bills the tail scan), `rebuilt` (the full-graph walk a
    // re-index restores — the upper bound, and the price argument:
    // hybrid buys most of rebuilt's recall with ZERO rebuild). Truth
    // is the full-corpus top-10 for all three — the freshness gap is
    // measured against what the user actually wants NOW. Scale shape:
    // two graph builds at fixture scale (the comparison's cost, not
    // the operator's — production has ONE frozen graph), the tail
    // side-scan is O(tail share of one label population) per query.
    "s38_freshness_beam" -> { (s, d) =>
      freshnessBeamRecall(s, d)
    },

    // PQ-APPROXIMATE BEAM SEARCH + EXACT RE-RANK — the DiskANN/SPANN
    // serving pattern, and the composition this family was building
    // toward: the graph (s32/s34) says WHERE to walk, the PQ store
    // (s11/s12) prices each step at M integer table lookups instead of
    // a D-float dot product, and full-precision vectors are touched
    // ONLY for the final re-rank of the visited set. Traversal: s34's
    // 4-seed walk, but fresh nodes are scored by ADC — the node's
    // M codes against the query's broadcast (q_id, j, code) -> distance
    // table (NQ*M*K rows) — and the frontier keeps the ADC-smallest.
    // The exact-cosine pass (already paid for ground truth) re-ranks
    // the visited set at the end, exactly the DiskANN full-precision
    // fetch. The s34 comparison at equal beam isolates what the
    // approximation costs in recall while the per-step bill drops from
    // O(D) floats to O(M) lookups. Scale shape: codes are an O(n*M)
    // long table (the in-RAM PQ store), checkpointed once; every
    // same-label candidate is ADC-priced once, up front, and the walk
    // is s32's keyed pass ordered (adc ASC, vec_id); everything else
    // is s34's bill.
    "s35_pq_beam_rerank" -> { (s, d) =>
      pqBeamRerank(s, d)
    },

    // GRAPH-BUILD KNOB PRICING — d32's discipline (price the explosion
    // WITHOUT paying it) applied to the blocking bit-count that sizes
    // every sign-LSH build in this family (s30's candidate pruning,
    // s32's search graph): per candidate hyperplane count nb ∈
    // {3,4,5,6}, the build bill and the build quality side by side —
    // non-empty (label, bucket) cells, the largest cell, the exact
    // candidate-pair count the probe-1 generator would produce (priced
    // from two NARROW count aggregates as Σ np·nbase − n over matching
    // cells: no pair ever materializes — the d32 lesson; the first
    // formulation of that table went quadratic at 16×), pairs/vector
    // (the per-row join cost a planner compares against brute force),
    // and recall@4 of each blocking's candidate set against the exact
    // same-label top-4 on the family's fixed NQ sample (the kNN-graph
    // edge set the build exists to find — K=4, s30's contract). More
    // bits → fewer pairs → lower recall; the table is the frontier the
    // build knob walks, measured, not guessed. Configs are fixed
    // constants (a production sweep centers them on its adaptive
    // base); the truth pass is the family's one NQ-row brute-force
    // bill, shared across configs via localCheckpoint.
    "s33_build_knob_plan" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb0 = T.embeddings(s, d)
      val nTot = emb0.agg(count(lit(1)).as("n_vecs"))
      val emb = emb0.filter(size($"embedding") > 0)
      val qs = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
                $"label".as("q_label"))
        .localCheckpoint()
      val wt = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      val truth4 = emb
        .join(broadcast(qs), $"label" === $"q_label" && $"vec_id" =!= $"q_id")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .filter(!isnan($"cosine"))
        .select($"q_id", $"vec_id", $"cosine")
        .withColumn("rn", row_number().over(wt)).filter($"rn" <= 4)
        .select($"q_id", $"vec_id").localCheckpoint()
      val nTruth = truth4.agg(count(lit(1)).as("n_truth"))
      Seq(3, 4, 5, 6).map { nb =>
        // per config: the bucket frame is read by the cell counts AND
        // the candidate join, and the cell counts by two aggregates —
        // unmaterialized, the LSH bucket kernel re-ran per branch (the
        // sweep's executed plan carried 20 parquet scans)
        val b = emb0.select($"vec_id", $"label",
          lshBucketExpr("embedding", nb.toString).as("bucket"))
          .localCheckpoint()
        val probes = emb0
          .select($"vec_id", $"label", $"embedding",
            lshBucketExpr("embedding", nb.toString).as("bkt"))
          .select($"vec_id", $"label",
            explode(lshProbe1Expr("embedding", "bkt", nb.toString))
              .as("bkey"))
        val pc = probes.groupBy($"bkey", $"label").agg(count(lit(1)).as("np"))
        val bcnt = b.groupBy($"bucket".as("bkey"), $"label")
          .agg(count(lit(1)).as("nbc"))
          .localCheckpoint()
        val cells = bcnt.agg(count(lit(1)).as("n_cells"),
          max($"nbc").as("max_cell"))
        val pairs = pc.join(bcnt, Seq("bkey", "label"))
          .agg(coalesce(sum($"np" * $"nbc"), lit(0L)).as("raw"))
          .crossJoin(broadcast(nTot))
          .select(($"raw" - $"n_vecs").as("cand_pairs"), $"n_vecs")
        val qprobes = qs
          .select($"q_id", $"q_label", $"q_emb",
            lshBucketExpr("q_emb", nb.toString).as("bkt"))
          .select($"q_id", $"q_label",
            explode(lshProbe1Expr("q_emb", "bkt", nb.toString)).as("bkey"))
        val cand = qprobes
          .join(b, b("bucket") === $"bkey" && b("label") === $"q_label")
          .filter(b("vec_id") =!= $"q_id")
          .select($"q_id", b("vec_id").as("vec_id")).distinct()
        val hits = truth4.join(cand, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        cells.crossJoin(pairs)
          .crossJoin(broadcast(hits)).crossJoin(broadcast(nTruth))
          .select(lit(nb).cast("int").as("nb"), $"n_cells", $"max_cell",
            $"cand_pairs", $"n_truth", $"hits",
            ($"hits" / $"n_truth".cast("double")).as("recall_at_4"),
            ($"cand_pairs" / $"n_vecs".cast("double")).as("pairs_per_vec"))
      }.reduce(_ unionByName _).orderBy($"nb")
    }
  )

  /** The shared graph + eval fixture behind s32/s34/s35: the coarse-
    * blocked symmetrized search graph, the NQ query sample, the one
    * brute-force same-label pass (truth AND exact-score oracle), and
    * the exact top-10 truth. Factored so the beam variants differ ONLY
    * in seeding and traversal scoring. */
  private case class BeamFixture(edges: DataFrame, qs: DataFrame,
                                 scoredAll: DataFrame, truth: DataFrame)

  /** s38's freshness split, shared with the artifact build: the graph
    * is FROZEN over the already-indexed 3/4 (vec_id % 4 ≠ 3); the
    * fresh tail is unindexed. */
  private[graft] def beamIndexedOnly = col("vec_id") % 4 =!= 3

  /** One variant's coarse-blocked symmetrized search graph: LSH-block
    * within label, exact-cosine top-4 out-edges, symmetrized.
    * `emb0` is the indexed subset the graph may see (s38's `old`
    * variant freezes it to [[beamIndexedOnly]]). */
  private def beamGraphEdges(s: SparkSession, emb0: DataFrame): DataFrame = {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val nbdf = emb0.agg(expr(
        "greatest(3, length(bin(greatest((count(1) + 255) DIV 256 - 1, 1))))")
        .cast("int").as("nb"))
      val embB = emb0.crossJoin(broadcast(nbdf))
        .withColumn("bucket", lshBucketExpr("embedding", "nb"))
      val probes = embB.select($"vec_id", $"label",
        explode(lshProbe1Expr("embedding", "bucket", "nb")).as("bkey"))
      val bases = embB.select($"vec_id".as("dst"), $"label",
        $"bucket".as("bkey"))
      val wsrc = Window.partitionBy($"src").orderBy($"cosine".desc, $"dst")
      val e0 = probes.join(bases, Seq("bkey", "label"))
        .filter($"vec_id" =!= $"dst")
        .select($"vec_id".as("src"), $"dst").distinct()
        .join(emb0.select($"vec_id".as("src"), $"embedding".as("se")),
          Seq("src"))
        .join(emb0.select($"vec_id".as("dst"), $"embedding".as("de")),
          Seq("dst"))
        .withColumn("cosine", cosine_sim($"se", $"de"))
        .withColumn("rnk", row_number().over(wsrc))
        .filter($"rnk" <= 4)
        .select($"src", $"dst")
      e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
        .distinct()
  }

  /** The beam family's persisted fixture artifact (round-16 advice #1
    * — the q82–84 `_GRAFT_FINGERPRINT` discipline applied to the
    * family's largest shared cost): s32/s34/s35/s36/s37/s38 all ride
    * the SAME graph build + NQ-sample brute-force truth pass, which
    * was paid per query. One build per fixture generation now
    * persists, under the session warehouse keyed by a source
    * fingerprint of `embeddings.parquet` (marker written LAST so a
    * crashed build rebuilds):
    *   - `qs`:         the NQ phash-spread query sample
    *   - `scoredAll`:  the brute-force same-label exact-score pass
    *   - `truth`:      exact top-10 per query
    *   - `edges_full`: the full-corpus search graph
    *   - `edges_old`:  the graph frozen to [[beamIndexedOnly]] (s38)
    * Every build step is deterministic (row_number ties break on ids;
    * cosine is the same codegen expression on identical rows), so the
    * persisted frames are value-identical to a re-derivation and every
    * reader's oracle hash is unchanged — OperatorSpec pins artifact ==
    * direct recompute per frame. */
  private[graft] def beamArtifact(s: SparkSession, d: String): String = {
    import org.apache.spark.sql.SaveMode
    graft.operators.Extras.memoizedArtifact(
        s, "graft_beam", d, Seq("embeddings.parquet")) { dir =>
      val BeamFixture(edges, qs, scoredAll, truth) =
        beamFixtureDirect(s, d)
      // the direct frames are localCheckpointed — each write
      // streams from the materialized leaf, nothing recomputes
      qs.write.mode(SaveMode.Overwrite).parquet(s"$dir/qs")
      scoredAll.write.mode(SaveMode.Overwrite).parquet(s"$dir/scoredAll")
      truth.write.mode(SaveMode.Overwrite).parquet(s"$dir/truth")
      edges.write.mode(SaveMode.Overwrite).parquet(s"$dir/edges_full")
      beamGraphEdges(s, T.embeddings(s, d).filter(beamIndexedOnly))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/edges_old")
    }
  }

  /** Artifact frames re-checkpointed per session: a beam query reads
    * `scoredAll` several times (the walk's scores and adjacency, the
    * rank), and a raw parquet read would re-scan the file each time
    * where the pre-artifact code had an in-memory checkpointed leaf.
    * One localCheckpoint per (session, artifact generation, frame)
    * restores that — six queries share ONE materialized copy instead
    * of each paying the build. Keyed on the source fingerprint so a
    * regenerated fixture drops through to [[beamArtifact]]'s rebuild
    * AND a fresh checkpoint. */
  private def beamFrame(s: SparkSession, d: String, name: String): DataFrame = {
      val dir = beamArtifact(s, d)
      val fp = graft.operators.Extras.sourceFingerprint(
        s, s"$d/embeddings.parquet")
      graft.operators.Extras.sessionArtifactFrame(s, dir, fp, name)
  }

  /** The PQ store as a persisted artifact — the same discipline as
    * [[beamArtifact]] for the OTHER shared similarity cost: the %K-
    * seeded codebook (one Lloyd step, M×K rows) and the full encode
    * (vec_id, j, code, d2) are deterministic functions of the
    * embeddings alone, and were re-trained inside each of s11, s12,
    * s16, and s35. One build per fixture generation persists
    * `codebook` + `codes`; readers get session-checkpointed frames.
    * Every step is exact (fixed-point integer L2, exact-decimal means,
    * ties to the smallest code), so the persisted frames are value-
    * identical to a re-derivation — the four readers' oracle hashes
    * are unchanged, and OperatorSpec pins artifact == direct. */
  private[graft] def pqArtifact(s: SparkSession, d: String): String = {
    import org.apache.spark.sql.SaveMode
    graft.operators.Extras.memoizedArtifact(
        s, "graft_pq", d, Seq("embeddings.parquet")) { dir =>
      val subs = pqSubs(T.embeddings(s, d))
      val cb = pqCodebook(subs).localCheckpoint()
      cb.write.mode(SaveMode.Overwrite).parquet(s"$dir/codebook")
      pqEncode(subs, cb)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/codes")
    }
  }

  /** Session-checkpointed PQ artifact frame (`codebook` | `codes`). */
  private def pqFrame(s: SparkSession, d: String, name: String): DataFrame = {
      val dir = pqArtifact(s, d)
      val fp = graft.operators.Extras.sourceFingerprint(
        s, s"$d/embeddings.parquet")
      graft.operators.Extras.sessionArtifactFrame(s, dir, fp, name)
  }

  /** Artifact + direct twins for the spec's PQ pin. */
  private[graft] def pqArtifactFrames(s: SparkSession, d: String)
      : Seq[DataFrame] = {
    val dir = pqArtifact(s, d)
    Seq("codebook", "codes").map(n => s.read.parquet(s"$dir/$n"))
  }
  private[graft] def pqDirectFrames(s: SparkSession, d: String)
      : Seq[DataFrame] = {
    val subs = pqSubs(T.embeddings(s, d))
    val cb = pqCodebook(subs).localCheckpoint()
    Seq(cb, pqEncode(subs, cb))
  }

  /** The fixture off the persisted artifact (session-checkpointed).
    * `oldGraph` (s38) swaps in the frozen-graph edges; queries, exact
    * scores, and truth always cover the whole corpus — that asymmetry
    * IS the freshness problem. */
  private def beamFixture(s: SparkSession, d: String,
                          oldGraph: Boolean = false): BeamFixture =
      BeamFixture(
        beamFrame(s, d, if (oldGraph) "edges_old" else "edges_full"),
        beamFrame(s, d, "qs"),
        beamFrame(s, d, "scoredAll"),
        beamFrame(s, d, "truth"))

  /** The un-memoized derivation (full-corpus variant) — the artifact
    * build's source of record, and what OperatorSpec compares the
    * persisted frames against. */
  private def beamFixtureDirect(s: SparkSession, d: String): BeamFixture = {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val edges = beamGraphEdges(s, T.embeddings(s, d)).localCheckpoint()
      val emb = T.embeddings(s, d).filter(size($"embedding") > 0)
      val qs = emb
        .orderBy(graft.Dets.phash($"vec_id".cast("string")), $"vec_id")
        .limit(NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
                $"label".as("q_label"))
        .localCheckpoint()
      // one brute-force same-label pass: ground truth AND score oracle
      val scoredAll = emb
        .join(broadcast(qs), $"label" === $"q_label" && $"vec_id" =!= $"q_id")
        .withColumn("cosine", cosine_sim($"embedding", $"q_emb"))
        .filter(!isnan($"cosine"))
        .select($"q_id", $"vec_id", $"cosine")
        .localCheckpoint()
      val wt = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      val truth = scoredAll.withColumn("rn", row_number().over(wt))
        .filter($"rn" <= 10).select($"q_id", $"vec_id")
        .localCheckpoint()
      BeamFixture(edges, qs, scoredAll, truth)
  }

  /** Artifact frames for the spec's artifact == direct-recompute pin
    * (edges_full, qs, scoredAll, truth, edges_old in that order). */
  private[graft] def beamArtifactFrames(s: SparkSession, d: String)
      : Seq[DataFrame] = {
    val dir = beamArtifact(s, d)
    Seq("edges_full", "qs", "scoredAll", "truth", "edges_old")
      .map(n => s.read.parquet(s"$dir/$n"))
  }

  /** Direct (un-memoized) twins of [[beamArtifactFrames]]. */
  private[graft] def beamDirectFrames(s: SparkSession, d: String)
      : Seq[DataFrame] = {
    val BeamFixture(edges, qs, scoredAll, truth) = beamFixtureDirect(s, d)
    Seq(edges, qs, scoredAll, truth,
      beamGraphEdges(s, T.embeddings(s, d).filter(beamIndexedOnly)))
  }

  /** The deterministic per-query seeds: 1 = min-id (s32); k > 1 = k
    * phash-spread same-label ids (s34/s35). */
  private def beamEntries(scoredAll: DataFrame, nEntries: Int): DataFrame = {
      import scoredAll.sparkSession.implicits._
      import org.apache.spark.sql.expressions.Window
      val we = Window.partitionBy($"q_id").orderBy(
        (if (nEntries == 1) Seq($"vec_id".asc)
         else Seq(graft.Dets.phash($"vec_id".cast("string")).asc,
                  $"vec_id".asc)): _*)
      scoredAll.withColumn("rn", row_number().over(we))
        .filter($"rn" <= nEntries).drop("rn")
  }

  /** One copy of `scored`'s (q_id, vec_id, cosine) rows per beam width
    * (2, 4, 8), tagged `beam` — the seeding every beam report walks or
    * ranks from. */
  private def perBeam(scored: DataFrame): DataFrame =
    Seq(2, 4, 8).map(b => scored.withColumn("beam", lit(b)))
      .reduce(_ unionByName _)
      .select("beam", "q_id", "vec_id", "cosine")

  /** s35: the PQ-scored beam traversal + exact re-rank (see the
    * registry comment). Shares [[beamFixture]] and the s34 seeding;
    * the PQ store is s11/s12's machinery (codebook trained once,
    * fixed-point integer L2 throughout — fully deterministic). */
  private def pqBeamRerank(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val fx = beamFixture(s, d)
      // codebook + serving-time PQ store ((vec_id, j, code) longs,
      // O(n*M)) off the persisted artifact, shared with s11/s12/s16
      val cb = pqFrame(s, d, "codebook")
      val codes = pqFrame(s, d, "codes").select($"vec_id", $"j", $"code")
      // per-query codeword distance tables: NQ*M*K rows, broadcast
      val dt = pqSubs(fx.qs.select($"q_id".as("vec_id"),
          $"q_emb".as("embedding")))
        .withColumn("lsv", roundFx("sv"))
        .join(broadcast(cb.withColumn("lcentroid", roundFx("centroid"))),
          Seq("j"))
        .withColumn("dq", graft.functions.IntL2.int_l2($"lsv", $"lcentroid"))
        .select($"vec_id".as("q_id"), $"j", $"code", $"dq")
        .localCheckpoint()
      // every same-label candidate priced by ADC once, up front; the
      // walk keeps the ADC-smallest (adc, vec_id) as its frontier
      val adc = fx.scoredAll.select($"q_id", $"vec_id")
        .join(codes, Seq("vec_id"))
        .join(broadcast(dt), Seq("q_id", "j", "code"))
        .groupBy($"q_id", $"vec_id")
        .agg(sum($"dq").as("adc"))
      val visited0 = perBeam(beamEntries(fx.scoredAll, 4)).localCheckpoint()
      val fresh = beamWalkBy(adc, "adc", ascending = true, fx.edges,
        visited0, visited0)
      // the DiskANN full-precision pass: exact scores ONLY for visited
      beamRank(fx, visited0.unionByName(fresh.drop("adc")
        .join(fx.scoredAll, Seq("q_id", "vec_id"))))
  }

  /** The shared graph-build + beam-search recall harness behind
    * s32/s34: coarse-blocked symmetrized kNN graph, NQ sampled
    * queries, one brute-force same-label truth/score pass, the 6-round
    * keyed walk, per-beam recall@10 + visited-count report. `nEntries`
    * picks the seeding: 1 = s32's min-id entry; k > 1 = k phash-spread
    * same-label seeds (all k enter round 0's frontier; later frontiers
    * keep top-beam). */
  private def graphBeamRecall(s: SparkSession, d: String,
                              nEntries: Int): DataFrame = {
      import s.implicits._
      val fx = beamFixture(s, d)
      val visited0 = perBeam(beamEntries(fx.scoredAll, nEntries))
        .localCheckpoint()
      beamLoopReport(fx, visited0,
        visited0.select($"beam", $"q_id", $"vec_id"))
  }

  /** s36: the HNSW/SPANN-style TWO-LEVEL entry — a deterministic 1/4
    * routing sample (vec_id ≡ 0 mod 4) is exact-scored per query (the
    * coarse "top layer" scan), ALL sampled scores enter the visited/
    * ranked set (they were paid for — a production search ranks them
    * too), and the single best routed node seeds the layer-0 beam.
    * Same fixture, graph, rounds, and scoring as s32/s34 — the only
    * diff is the entry, so equal-beam deltas isolate what ROUTING buys
    * vs s32's min-id (blind) and s34's 4 phash seeds (diverse but
    * unrouted). A query whose label has no sampled member contributes
    * nothing (both engines agree; its truth rows count as misses). */
  private def hierBeamRecall(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val fx = beamFixture(s, d)
      val visited0 = perBeam(fx.scoredAll.filter($"vec_id" % 4 === 0))
        .localCheckpoint()
      val wb = Window.partitionBy($"beam", $"q_id")
        .orderBy($"cosine".desc, $"vec_id")
      val frontier0 = visited0.withColumn("rn", row_number().over(wb))
        .filter($"rn" === 1).select($"beam", $"q_id", $"vec_id")
      beamLoopReport(fx, visited0, frontier0)
  }

  /** s37: the two tombstone policies over the SAME graph. `skip` never
    * lets a deleted node into the walk (scoredAll filtered live — dead
    * nodes can neither be scored nor traversed); `through` traverses
    * and scores them for NAVIGATION but drops them from the final
    * ranking (the DiskANN practice). Truth and entries are live-only
    * for both, so the recall delta isolates what tombstone handling
    * does to CONNECTIVITY. */
  private def tombstoneBeamRecall(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val fx = beamFixture(s, d)
      val live = col("vec_id") % 5 =!= 1
      val scoredLive = fx.scoredAll.filter(live).localCheckpoint()
      val wt = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      val truthLive = scoredLive.withColumn("rn", row_number().over(wt))
        .filter($"rn" <= 10).select($"q_id", $"vec_id").localCheckpoint()
      val visited0 = perBeam(beamEntries(scoredLive, 1)).localCheckpoint()
      val frontier0 = visited0.select($"beam", $"q_id", $"vec_id")
      val skip = beamLoopReport(fx.copy(scoredAll = scoredLive, truth = truthLive),
        visited0, frontier0)
      val through = beamLoopReport(fx.copy(truth = truthLive),
        visited0, frontier0, rankFilter = Some(live))
      skip.select(lit("skip").as("policy"), col("*"))
        .unionByName(through.select(lit("through").as("policy"), col("*")))
        .orderBy($"policy", $"beam")
  }

  /** s38: the index-freshness policies. The graph is FROZEN over the
    * already-indexed 3/4 (vec_id % 4 ≠ 3); queries and truth cover the
    * whole corpus including the fresh tail. `stale` serves off the
    * frozen graph alone; `hybrid` adds the exact side-scan of the
    * unindexed tail at rank time (the FAISS/SPANN freshness buffer);
    * `rebuilt` is the full-graph walk — the upper bound a re-index
    * would restore. `stale` and `hybrid` differ only at RANK time, so
    * they share ONE frozen-graph walk ranked twice (round-16 advice
    * #2 — the walk used to run twice on identical inputs). */
  private def freshnessBeamRecall(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val indexed = beamIndexedOnly
      val fxOld = beamFixture(s, d, oldGraph = true)
      val fxFull = beamFixture(s, d)
      def seed(scored: DataFrame): (DataFrame, DataFrame) = {
        val v0 = perBeam(beamEntries(scored, 1)).localCheckpoint()
        (v0, v0.select($"beam", $"q_id", $"vec_id"))
      }
      val (v0o, f0o) = seed(fxOld.scoredAll.filter(indexed))
      val tailRanked = perBeam(fxOld.scoredAll.filter(!indexed))
      val walked = beamWalk(fxOld, v0o, f0o)
      val stale = beamRank(fxOld, walked)
      val hybrid = beamRank(fxOld, walked, extraRanked = Some(tailRanked))
      val (v0f, f0f) = seed(fxFull.scoredAll)
      val rebuilt = beamLoopReport(fxFull, v0f, f0f)
      stale.select(lit("stale").as("policy"), col("*"))
        .unionByName(hybrid.select(lit("hybrid").as("policy"), col("*")))
        .unionByName(rebuilt.select(lit("rebuilt").as("policy"), col("*")))
        .orderBy($"policy", $"beam")
  }

  /** The shared 6-round beam walk + report (see the s32 registry
    * comment for the discipline); only the SEEDING
    * (initial visited set + initial frontier) differs across
    * s32/s34/s36. */
  private def beamLoopReport(fx: BeamFixture,
                             visited0: DataFrame,
                             frontier0: DataFrame,
                             rankFilter: Option[org.apache.spark.sql.Column]
                               = None,
                             extraRanked: Option[DataFrame]
                               = None): DataFrame =
      beamRank(fx, beamWalk(fx, visited0, frontier0),
        rankFilter, extraRanked)

  /** The cosine walk alone, returning the visited set — `visited0` plus
    * one checkpointed frame of fresh rows, so a caller can rank it more
    * than once (s38's stale/hybrid) without re-running the walk. */
  private def beamWalk(fx: BeamFixture,
                       visited0: DataFrame,
                       frontier0: DataFrame): DataFrame =
      visited0.unionByName(beamWalkBy(fx.scoredAll, "cosine",
        ascending = false, fx.edges, visited0, frontier0))

  /** The 6-round bounded-frontier walk in ONE keyed pass: every query's
    * scores, adjacency, `visited0` and `frontier0` rows are tagged into
    * one frame keyed by `q_id`, and one `flatMapGroups` runs all rounds
    * for all of that query's beams in memory. Each round expands the
    * frontier's graph neighbours, keeps those that are not yet visited
    * and do have a score, and takes the top `beam` of them by
    * (`score` in `ascending` order, vec_id) as the next frontier.
    *
    * `scores` holds (q_id, vec_id, `score`); `visited0` and `frontier0`
    * hold (beam, q_id, vec_id). Scores compare with Spark's own ordering
    * for their type (`SQLOrderingUtil.compareDoubles` for doubles, so
    * -0.0 ties 0.0), the order a `row_number` window over the same
    * column uses. Every frontier node must have a score: the adjacency
    * is joined from the scored nodes only, so a query's group holds its
    * scored rows and at most their out-edges. Returns the FRESH rows
    * (beam, q_id, vec_id, `score`), checkpointed once. */
  private[graft] def beamWalkBy(scores: DataFrame, score: String,
                                ascending: Boolean, edges: DataFrame,
                                visited0: DataFrame,
                                frontier0: DataFrame): DataFrame = {
      import scores.sparkSession.implicits._
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val scoreType = scores.schema(score).dataType
      val noScore = lit(null).cast(scoreType).as("score")
      def seeds(df: DataFrame, tag: Int): DataFrame = df.select($"q_id",
        lit(tag).as("tag"), $"beam".cast("long").as("a"), $"vec_id".as("b"),
        noScore)
      val tagged = scores.select($"q_id", lit(0).as("tag"), $"vec_id".as("a"),
          lit(0L).as("b"), col(score).as("score"))
        .unionByName(scores.select($"q_id", $"vec_id")
          .join(edges, $"vec_id" === $"src")
          .select($"q_id", lit(1).as("tag"), $"src".as("a"), $"dst".as("b"),
            noScore))
        .unionByName(seeds(visited0, 2))
        .unionByName(seeds(frontier0, 3))
      val out = StructType(Seq(StructField("beam", IntegerType, false),
        StructField("q_id", LongType, false),
        StructField("vec_id", LongType, false),
        StructField(score, scoreType)))
      tagged.groupByKey(_.getLong(0))
        .flatMapGroups { (q: Long, rows: Iterator[Row]) =>
          val order = org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(scoreType)
          walkQuery(q, rows, if (ascending) order else order.reverse)
        }(Encoders.row(out))
        .localCheckpoint()
  }

  /** One query's group of [[beamWalkBy]]'s tagged rows (tag, a, b):
    * 0 = score of a, 1 = edge a -> b, 2/3 = b in beam a's visited0/
    * frontier0. `better` orders scores best first; vec_id breaks ties. */
  private def walkQuery(q: Long, rows: Iterator[org.apache.spark.sql.Row],
                        better: Ordering[Any])
      : Iterator[org.apache.spark.sql.Row] = {
      import scala.collection.mutable
      import org.apache.spark.sql.Row
      val score = mutable.HashMap[Long, Any]()
      val bs = mutable.HashMap[(Int, Long), mutable.ArrayBuffer[Long]]()
      rows.foreach { r =>
        if (r.getInt(1) == 0) score(r.getLong(2)) = r.get(4)
        else bs.getOrElseUpdate((r.getInt(1), r.getLong(2)),
          mutable.ArrayBuffer()) += r.getLong(3)
      }
      def list(tag: Int, a: Long): collection.Seq[Long] =
        bs.getOrElse((tag, a), Nil)
      val rank: Ordering[Long] = (x, y) => {
        val c = better.compare(score(x), score(y))
        if (c != 0) c else java.lang.Long.compare(x, y)
      }
      val beams = bs.keySet.collect { case (tag, b) if tag >= 2 => b }
      beams.iterator.flatMap { b =>
        val beam = b.toInt
        val visited = mutable.HashSet.from(list(2, b))
        var frontier = list(3, b)
        frontier.find(v => !score.contains(v)).foreach { v =>
          throw new IllegalArgumentException(
            s"beam walk: frontier node $v of query $q has no score")
        }
        val fresh = mutable.ArrayBuffer[Row]()
        for (_ <- 1 to 6) {
          val round = mutable.ArrayBuffer[Long]()
          for (v <- frontier; n <- list(1, v))
            if (score.contains(n) && visited.add(n)) round += n
          round.foreach(n => fresh += Row(beam, q, n, score(n)))
          frontier = round.sorted(rank).take(beam)
        }
        fresh
      }
  }

  /** Rank a walked visited set against the fixture's truth. */
  private def beamRank(fx: BeamFixture, visited: DataFrame,
                       rankFilter: Option[org.apache.spark.sql.Column]
                         = None,
                       extraRanked: Option[DataFrame]
                         = None): DataFrame = {
      import visited.sparkSession.implicits._
      import org.apache.spark.sql.expressions.Window
      val qs = fx.qs
      val truth = fx.truth
      // rankFilter (s37's traverse-through-tombstones policy) drops
      // rows from the RANKED result only — n_scored keeps counting the
      // full visited set, because traversal work was genuinely paid.
      // Dropped rows sort after every kept row of their (beam, q_id),
      // so a kept row's rn is its rank among the kept rows and one
      // aggregate yields both counts.
      val wb = Window.partitionBy($"beam", $"q_id")
        .orderBy(rankFilter.map(_.desc).toSeq ++
          Seq($"cosine".desc, $"vec_id"): _*)
      val kept = rankFilter.getOrElse(lit(true))
      val nq = qs.agg(count(lit(1)).as("n_q"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      // extraRanked (s38's hybrid freshness buffer) adds scored rows
      // that never rode the walk — an exact side-scan whose bill is
      // real, so it counts toward n_scored too
      val visitedAll = extraRanked
        .map(visited.unionByName(_)).getOrElse(visited)
      visitedAll.withColumn("rn", row_number().over(wb))
        .join(truth.withColumn("is_true", lit(1L)),
          Seq("q_id", "vec_id"), "left")
        .groupBy($"beam")
        .agg(count(lit(1)).as("n_scored"),
             sum(when(kept && $"rn" <= 10 && $"is_true" === 1L, 1L)
               .otherwise(0L)).as("hits"))
        .crossJoin(broadcast(nq))
        .crossJoin(broadcast(nTruth))
        .select($"beam", $"n_q", $"n_truth", $"hits", $"n_scored",
          ($"hits" / $"n_truth".cast("double")).as("recall_at_10"),
          ($"n_scored" / $"n_q".cast("double")).as("avg_scored"))
        .orderBy($"beam")
  }

  def oracleSql: Map[String, String] = Map(
    "s01_topk_cosine" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $QID)
         |SELECT e.vec_id, e.label,
         |  ${dotSql("e.embedding", "q.q_emb")} /
         |  (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |   sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <> $QID
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    "s02_ann_lsh_bucket" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding,
         |    $signBucketSql AS bucket
         |  FROM embeddings),
         |q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = $QID)
         |SELECT e.vec_id, e.label, CAST(e.bucket AS INT) AS bucket,
         |  ${dotSql("e.embedding", "q.q_emb")} /
         |  (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |   sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |FROM b e, q
         |WHERE e.vec_id <> $QID AND e.bucket = q.q_bucket
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 5""".stripMargin,

    "s07_ann_multiprobe" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding,
         |    $signBucketSql AS bucket
         |  FROM embeddings),
         |q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = $QID),
         |probes AS (
         |  SELECT q_emb, unnest(${probeBucketsSql("q_emb", "q_bucket", 2)}) AS probe_bucket
         |  FROM q)
         |SELECT e.vec_id, e.label, CAST(e.bucket AS INT) AS bucket,
         |  ${dotSql("e.embedding", "q.q_emb")} /
         |  (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |   sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |FROM b e JOIN probes q ON e.bucket = q.probe_bucket
         |WHERE e.vec_id <> $QID
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 5""".stripMargin,

    "s08_ann_multitable" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding,
         |    ${signBucketSqlFrom(0)} AS b1,
         |    ${signBucketSqlFrom(8)} AS b2
         |  FROM embeddings),
         |q AS (SELECT embedding AS q_emb, b1 AS q_b1, b2 AS q_b2
         |      FROM b WHERE vec_id = $QID),
         |cand AS (
         |  SELECT e.vec_id, e.label, e.embedding, q.q_emb
         |  FROM b e, q
         |  WHERE e.vec_id <> $QID AND (e.b1 = q.q_b1 OR e.b2 = q.q_b2))
         |SELECT vec_id, label,
         |  ${dotSql("embedding", "q_emb")} /
         |  (sqrt(${dotSql("embedding", "embedding")}) *
         |   sqrt(${dotSql("q_emb", "q_emb")})) AS cosine
         |FROM cand
         |ORDER BY cosine DESC, vec_id
         |LIMIT 5""".stripMargin,

    "d10_neardup_multiprobe" ->
      s"""WITH base AS (SELECT vec_id, embedding, label FROM embeddings),
         |plants AS (
         |  SELECT vec_id + 3000000 AS vec_id,
         |    list_transform(range(1, len(embedding) + 1), i ->
         |      CASE WHEN i - 1 = jmin THEN -embedding[CAST(i AS INT)]
         |           ELSE embedding[CAST(i AS INT)] END) AS embedding,
         |    label
         |  FROM (
         |    SELECT vec_id, embedding, label,
         |      list_transform(list_sort(list_transform(range(0, 8),
         |        j -> {'a': abs(CAST(embedding[j + 1] AS DOUBLE)), 'j': j})),
         |        x -> x.j)[1] AS jmin
         |    FROM base WHERE vec_id % 17 = 0) z),
         |emb AS (
         |  SELECT vec_id, embedding, label, $signBucketSql AS bucket
         |  FROM (SELECT * FROM base UNION ALL SELECT * FROM plants) u),
         |probes AS (
         |  SELECT vec_id, label,
         |    unnest(${probeBucketsSql("embedding", "bucket", 1)}) AS bkey
         |  FROM emb),
         |bases AS (SELECT vec_id AS y_id, label AS y_label, bucket AS bkey FROM emb),
         |cand AS (
         |  SELECT DISTINCT least(p.vec_id, b.y_id) AS v1,
         |                  greatest(p.vec_id, b.y_id) AS v2
         |  FROM probes p JOIN bases b
         |    ON p.bkey = b.bkey AND p.label = b.y_label AND p.vec_id <> b.y_id)
         |SELECT c.v1, c.v2, x.label AS label,
         |  ${dotSql("x.embedding", "y.embedding")} /
         |  (sqrt(${dotSql("x.embedding", "x.embedding")}) *
         |   sqrt(${dotSql("y.embedding", "y.embedding")})) AS cosine
         |FROM cand c
         |JOIN emb x ON x.vec_id = c.v1
         |JOIN emb y ON y.vec_id = c.v2
         |WHERE ${dotSql("x.embedding", "y.embedding")} /
         |  (sqrt(${dotSql("x.embedding", "x.embedding")}) *
         |   sqrt(${dotSql("y.embedding", "y.embedding")})) >= 0.995
         |ORDER BY v1, v2""".stripMargin,

    "s03_ann_ivf" ->
      s"""WITH means AS (
         |  SELECT cell, i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
         |         / COUNT(*) AS REAL) AS m
         |  FROM (SELECT vec_id % 8 AS cell,
         |          unnest(range(1, len(embedding) + 1)) AS i,
         |          unnest(embedding) AS v
         |        FROM embeddings)
         |  GROUP BY 1, 2),
         |cent AS (
         |  SELECT cell, list(m ORDER BY pos) AS centroid
         |  FROM means GROUP BY cell),
         |assigned AS (
         |  SELECT vec_id, cell AS home_cell FROM (${assignSql("cent")}) z),
         |q AS (
         |  SELECT e.embedding AS q_emb, a.home_cell AS q_cell
         |  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
         |  WHERE a.vec_id = $QID)
         |SELECT e.vec_id, e.label, CAST(a.home_cell AS INT) AS cell,
         |  ${dotSql("e.embedding", "q.q_emb")} /
         |  (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |   sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |FROM assigned a
         |JOIN embeddings e ON e.vec_id = a.vec_id, q
         |WHERE a.vec_id <> $QID AND a.home_cell = q.q_cell
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 5""".stripMargin,

    "s05_kmeans_iter" -> {
      // one Lloyd iteration: centroids of `prev`, then deterministic
      // cosine-argmax (ROW_NUMBER tie-break == NearestCentroid first-wins)
      def iter(j: Int, prev: String) =
        s"""m$j AS (
           |  SELECT a.cell, u.i - 1 AS pos,
           |    CAST(CAST(SUM(CAST(round(u.v * 1e8) AS BIGINT)) AS DOUBLE)
           |         / COUNT(*) / 1e8 AS REAL) AS m
           |  FROM $prev a JOIN (
           |    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
           |      unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
           |    FROM embeddings) u USING (vec_id)
           |  GROUP BY 1, 2),
           |cent$j AS (SELECT cell, list(m ORDER BY pos) AS centroid
           |           FROM m$j GROUP BY cell),
           |a$j AS (${assignSql(s"cent$j")})""".stripMargin
      s"""WITH a0 AS (SELECT vec_id, vec_id % 8 AS cell FROM embeddings),
         |${iter(1, "a0")},
         |${iter(2, "a1")},
         |mf AS (
         |  SELECT a.cell, CAST(CAST(SUM(CAST(round(CAST(e.embedding[1] AS DOUBLE)
         |                                          * 1e8) AS BIGINT)) AS DOUBLE)
         |       / COUNT(*) / 1e8 AS REAL) AS c0
         |  FROM a2 a JOIN embeddings e USING (vec_id) GROUP BY a.cell)
         |SELECT a.cell, COUNT(*) AS n_members, mf.c0
         |FROM a2 a JOIN mf ON mf.cell = a.cell
         |GROUP BY a.cell, mf.c0 ORDER BY a.cell""".stripMargin
    },

    "s18_centroid_drift" -> {
      // s05's Lloyd CTEs; drift = fixed-point L2 between cent1/cent2
      // joined per (cell, pos) — a cell absent from m2 leaves every
      // term NULL, so SUM reports NULL exactly like the Spark side's
      // null-intolerant int_l2 on a missing centroid
      def iter(j: Int, prev: String) =
        s"""m$j AS (
           |  SELECT a.cell, u.i - 1 AS pos,
           |    CAST(CAST(SUM(CAST(round(u.v * 1e8) AS BIGINT)) AS DOUBLE)
           |         / COUNT(*) / 1e8 AS REAL) AS m
           |  FROM $prev a JOIN (
           |    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
           |      unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
           |    FROM embeddings) u USING (vec_id)
           |  GROUP BY 1, 2),
           |cent$j AS (SELECT cell, list(m ORDER BY pos) AS centroid
           |           FROM m$j GROUP BY cell),
           |a$j AS (${assignSql(s"cent$j")})""".stripMargin
      s"""WITH a0 AS (SELECT vec_id, vec_id % 8 AS cell FROM embeddings),
         |${iter(1, "a0")},
         |${iter(2, "a1")},
         |dr AS (
         |  SELECT m1.cell,
         |    CAST(SUM((CAST(round(CAST(m1.m AS DOUBLE) * 1e8) AS BIGINT) -
         |         CAST(round(CAST(m2.m AS DOUBLE) * 1e8) AS BIGINT)) *
         |        (CAST(round(CAST(m1.m AS DOUBLE) * 1e8) AS BIGINT) -
         |         CAST(round(CAST(m2.m AS DOUBLE) * 1e8) AS BIGINT)))
         |      AS BIGINT) AS drift_d2
         |  FROM m1 LEFT JOIN m2 ON m1.cell = m2.cell AND m1.pos = m2.pos
         |  GROUP BY m1.cell),
         |c1 AS (SELECT cell, COUNT(*) AS n1 FROM a1 GROUP BY cell),
         |c2 AS (SELECT cell, COUNT(*) AS n2 FROM a2 GROUP BY cell),
         |mv AS (
         |  SELECT a1.cell, COUNT(*) AS n_moved_out
         |  FROM a1 JOIN a2 USING (vec_id)
         |  WHERE a1.cell <> a2.cell
         |  GROUP BY a1.cell)
         |SELECT d.cell, COALESCE(c1.n1, 0) AS n1, COALESCE(c2.n2, 0) AS n2,
         |  COALESCE(mv.n_moved_out, 0) AS n_moved_out, d.drift_d2,
         |  COALESCE(mv.n_moved_out, 0) / CAST(c1.n1 AS DOUBLE) AS frac_moved
         |FROM dr d LEFT JOIN c1 USING (cell) LEFT JOIN c2 USING (cell)
         |LEFT JOIN mv USING (cell)
         |ORDER BY d.cell""".stripMargin
    },

    "s11_product_quantization" ->
      s"""WITH $pqOracleCtes
         |SELECT vec_id,
         |  CAST(MAX(CASE WHEN j = 0 THEN code END) AS INT) AS c0,
         |  CAST(MAX(CASE WHEN j = 1 THEN code END) AS INT) AS c1,
         |  CAST(MAX(CASE WHEN j = 2 THEN code END) AS INT) AS c2,
         |  CAST(MAX(CASE WHEN j = 3 THEN code END) AS INT) AS c3,
         |  CAST(SUM(d2) AS DOUBLE) / 1e16 AS recon_d2
         |FROM best WHERE rn = 1
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "s12_pq_adc" ->
      s"""WITH $pqOracleCtes,
         |qsubs AS (SELECT j, sv FROM subs WHERE vec_id = $QID),
         |dt AS (
         |  SELECT c.j, c.code, ${intL2Sql("q.sv", "c.centroid")} AS dq
         |  FROM qsubs q JOIN cb c USING (j)),
         |adc AS (
         |  SELECT b.vec_id, CAST(SUM(d.dq) AS BIGINT) AS adc
         |  FROM best b JOIN dt d ON b.j = d.j AND b.code = d.code
         |  WHERE b.rn = 1 AND b.vec_id <> $QID
         |  GROUP BY b.vec_id
         |  ORDER BY adc, vec_id LIMIT 30),
         |qfull AS (SELECT embedding AS q_emb FROM e WHERE vec_id = $QID)
         |SELECT a.vec_id, f.label,
         |  CAST(a.adc AS DOUBLE) / 1e16 AS adc_d2,
         |  CAST(${intL2Sql("f.embedding", "q.q_emb")} AS DOUBLE) / 1e16
         |    AS exact_d2
         |FROM adc a JOIN e f USING (vec_id), qfull q
         |ORDER BY exact_d2, vec_id LIMIT 10""".stripMargin,

    "s06_scalar_quantization" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
        |  FROM embeddings WHERE len(embedding) > 0),
        |p AS (
        |  SELECT vec_id, xs, list_min(xs) AS lo, list_max(xs) AS hi,
        |    CASE WHEN list_max(xs) = list_min(xs) THEN CAST(1.0 AS DOUBLE)
        |         ELSE (list_max(xs) - list_min(xs)) / 255 END AS scale
        |  FROM q),
        |c AS (
        |  SELECT vec_id, xs, lo, hi, scale,
        |    list_transform(xs, x -> CAST(round((x - lo) / scale) AS INT)) AS codes
        |  FROM p)
        |SELECT vec_id, lo, hi,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  list_max(list_transform(range(1, len(xs) + 1), i ->
        |    abs(lo + codes[i] * scale - xs[i]))) <= scale * 0.5 + 1e-12
        |    AS err_in_bound
        |FROM c ORDER BY vec_id""".stripMargin,

    "s04_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS pos,
        |  CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e8) AS BIGINT))
        |       AS DOUBLE) / COUNT(*) / 1e8 AS m,
        |  COUNT(*) AS n_vecs
        |FROM embeddings, range(1, 9) t(i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    "d05_embedding_neardup" ->
      s"""WITH emb AS (
         |  SELECT vec_id, embedding, label, $signBucketSql AS bucket
         |  FROM (
         |    SELECT vec_id, embedding, label FROM embeddings
         |    UNION ALL
         |    SELECT vec_id + 1000000, embedding, label FROM embeddings
         |    WHERE vec_id % 10 = 0))
         |SELECT x.vec_id AS v1, y.vec_id AS v2, x.label AS label,
         |  ${dotSql("x.embedding", "y.embedding")} /
         |  (sqrt(${dotSql("x.embedding", "x.embedding")}) *
         |   sqrt(${dotSql("y.embedding", "y.embedding")})) AS cosine
         |FROM emb x JOIN emb y ON x.label = y.label AND x.bucket = y.bucket
         |  AND x.vec_id < y.vec_id
         |WHERE ${dotSql("x.embedding", "y.embedding")} /
         |  (sqrt(${dotSql("x.embedding", "x.embedding")}) *
         |   sqrt(${dotSql("y.embedding", "y.embedding")})) >= 0.999
         |ORDER BY v1, v2""".stripMargin,

    "s09_two_stage_rerank" ->
      s"""WITH p AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
         |  FROM embeddings WHERE len(embedding) > 0),
         |sc AS (
         |  SELECT vec_id, label, xs, list_min(xs) AS lo,
         |    CASE WHEN list_max(xs) = list_min(xs) THEN CAST(1.0 AS DOUBLE)
         |         ELSE (list_max(xs) - list_min(xs)) / 255 END AS scale
         |  FROM p),
         |r AS (
         |  SELECT vec_id, label,
         |    list_transform(xs, x -> CAST(lo +
         |      CAST(round((x - lo) / scale) AS INT) * scale AS REAL))
         |      AS approx_emb
         |  FROM sc),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $QID),
         |st1 AS (
         |  SELECT r.vec_id, r.label,
         |    ${dotSql("r.approx_emb", "q.q_emb")} /
         |    (sqrt(${dotSql("r.approx_emb", "r.approx_emb")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS approx_cosine
         |  FROM r, q WHERE r.vec_id <> $QID
         |  ORDER BY approx_cosine DESC, r.vec_id LIMIT 30)
         |SELECT t.vec_id, t.label, t.approx_cosine,
         |  ${dotSql("e.embedding", "q.q_emb")} /
         |  (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |   sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |FROM st1 t JOIN embeddings e USING (vec_id), q
         |ORDER BY cosine DESC, t.vec_id LIMIT 10""".stripMargin,

    "s10_batch_ann" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, e.label,
         |    ${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |  FROM embeddings e JOIN qs q ON e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT q_id, vec_id, label, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, label, cosine
         |FROM ranked WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    "s13_filtered_ann" ->
      s"""WITH emb AS (
         |  SELECT vec_id, embedding, label, $signBucketSql AS bucket
         |  FROM embeddings),
         |qs AS (
         |  SELECT vec_id AS qid, embedding AS q_emb, label AS q_label,
         |    bucket AS q_bucket
         |  FROM emb WHERE vec_id % 61 = 0),
         |scored AS (
         |  SELECT q.qid, q.q_label, e.vec_id,
         |    ${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |  FROM emb e JOIN qs q
         |    ON e.label = q.q_label AND e.bucket = q.q_bucket
         |   AND e.vec_id <> q.qid),
         |ranked AS (
         |  SELECT qid, q_label, vec_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT qid, q_label AS label, rnk, vec_id, cosine
         |FROM ranked WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,

    "s14_ann_recall" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, $signBucketSql AS bucket
         |  FROM embeddings WHERE len(embedding) > 0),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
         |  FROM b $sampleOrderSql),
         |scored AS (
         |  SELECT q.q_id, e.vec_id,
         |    ${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |  FROM b e, q WHERE e.vec_id <> q.q_id),
         |exact10 AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |    FROM scored WHERE NOT isnan(cosine)) z
         |  WHERE rn <= 10),
         |cand1 AS (
         |  SELECT q.q_id, e.vec_id FROM b e, q
         |  WHERE e.bucket = q.q_bucket AND e.vec_id <> q.q_id),
         |probes AS (
         |  SELECT q_id, unnest(${probeBucketsSql("q_emb", "q_bucket", 2)})
         |    AS pb FROM q),
         |cand2 AS (
         |  SELECT p.q_id, e.vec_id
         |  FROM b e JOIN probes p ON e.bucket = p.pb
         |  WHERE e.vec_id <> p.q_id),
         |u AS (
         |  SELECT 'lsh_bucket' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM cand1 c
         |        WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM cand1) AS n_cand
         |  UNION ALL
         |  SELECT 'multiprobe_2' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM cand2 c
         |        WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM cand2) AS n_cand)
         |SELECT method, n_q, n_truth, hits, n_cand,
         |  hits / CAST(n_truth AS DOUBLE) AS recall_at_10,
         |  n_cand / CAST(n_q AS DOUBLE) AS avg_candidates
         |FROM u ORDER BY method""".stripMargin,

    "s15_ivf_recall" ->
      s"""WITH means AS (
         |  SELECT cell, i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
         |         / COUNT(*) AS REAL) AS m
         |  FROM (SELECT vec_id % 8 AS cell,
         |          unnest(range(1, len(embedding) + 1)) AS i,
         |          unnest(embedding) AS v
         |        FROM embeddings)
         |  GROUP BY 1, 2),
         |cent AS (
         |  SELECT cell, list(m ORDER BY pos) AS centroid
         |  FROM means GROUP BY cell),
         |e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |assigned AS (
         |  SELECT vec_id, cell AS home_cell FROM (${assignSql("cent", "e")}) z),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  $sampleOrderSql),
         |qc AS (
         |  SELECT q_id, cell, row_number() OVER (PARTITION BY q_id
         |      ORDER BY isnan(cos) ASC, cos DESC, cell ASC) AS rn
         |  FROM (
         |    SELECT q.q_id, c.cell,
         |      ${dotSql("q.q_emb", "c.centroid")} /
         |      (sqrt(${dotSql("q.q_emb", "q.q_emb")}) *
         |       sqrt(${dotSql("c.centroid", "c.centroid")})) AS cos
         |    FROM q, cent c) z),
         |cand1 AS (
         |  SELECT p.q_id, a.vec_id FROM assigned a
         |  JOIN qc p ON a.home_cell = p.cell AND p.rn = 1
         |  WHERE a.vec_id <> p.q_id),
         |cand2 AS (
         |  SELECT p.q_id, a.vec_id FROM assigned a
         |  JOIN qc p ON a.home_cell = p.cell AND p.rn <= 2
         |  WHERE a.vec_id <> p.q_id),
         |scored AS (
         |  SELECT q.q_id, e.vec_id,
         |    ${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |  FROM e, q WHERE e.vec_id <> q.q_id),
         |exact10 AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |    FROM scored WHERE NOT isnan(cosine)) z
         |  WHERE rn <= 10),
         |u AS (
         |  SELECT 'ivf_nprobe_1' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM cand1 c
         |        WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM cand1) AS n_cand
         |  UNION ALL
         |  SELECT 'ivf_nprobe_2' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM cand2 c
         |        WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM cand2) AS n_cand)
         |SELECT method, n_q, n_truth, hits, n_cand,
         |  hits / CAST(n_truth AS DOUBLE) AS recall_at_10,
         |  n_cand / CAST(n_q AS DOUBLE) AS avg_candidates
         |FROM u ORDER BY method""".stripMargin,

    "s16_pq_recall" ->
      s"""WITH $pqOracleCtes,
         |codes AS (SELECT vec_id, j, code FROM best WHERE rn = 1),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  $sampleOrderSql),
         |dt AS (
         |  SELECT s.vec_id AS q_id, s.j, c.code,
         |    ${intL2Sql("s.sv", "c.centroid")} AS dq
         |  FROM subs s JOIN q ON s.vec_id = q.q_id
         |  JOIN cb c USING (j)),
         |adc AS (
         |  SELECT d.q_id, k.vec_id, SUM(d.dq) AS adc
         |  FROM codes k JOIN dt d ON k.j = d.j AND k.code = d.code
         |  WHERE k.vec_id <> d.q_id
         |  GROUP BY 1, 2),
         |ranked AS MATERIALIZED (
         |  SELECT q_id, vec_id, rn FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc, vec_id) AS rn
         |    FROM adc) z
         |  WHERE rn <= 100),
         |exact10 AS MATERIALIZED (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e2.vec_id, row_number() OVER (
         |      PARTITION BY q.q_id
         |      ORDER BY ${intL2Sql("e2.embedding", "q.q_emb")}, e2.vec_id)
         |      AS rn
         |    FROM e e2, q WHERE e2.vec_id <> q.q_id) z
         |  WHERE rn <= 10),
         |u AS (
         |  SELECT 'adc_top30' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM ranked c
         |        WHERE c.rn <= 30 AND x.q_id = c.q_id
         |          AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM ranked WHERE rn <= 30) AS n_cand
         |  UNION ALL
         |  SELECT 'adc_top100' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM ranked c
         |        WHERE c.rn <= 100 AND x.q_id = c.q_id
         |          AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM ranked) AS n_cand)
         |SELECT method, n_q, n_truth, hits, n_cand,
         |  hits / CAST(n_truth AS DOUBLE) AS recall_at_10,
         |  n_cand / CAST(n_q AS DOUBLE) AS avg_candidates
         |FROM u ORDER BY method""".stripMargin,

    "s21_rp_recall" -> {
      def projTerm(j: Int) = {
        val lits = "[" + RP_SIGNS(j).mkString(",") + "]"
        s"CAST(list_sum(list_transform(range(1, 65), i -> " +
          s"fx[CAST(i AS INT)] * ($lits)[CAST(i AS INT)])) AS BIGINT)"
      }
      val projList =
        "[" + (0 until RP_D).map(projTerm).mkString(",\n") + "]"
      def longL2(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, len($a) + 1), i -> " +
          s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * " +
          s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))) AS BIGINT)"
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  $sampleOrderSql),
         |ef AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS fx
         |  FROM e),
         |qf AS (
         |  SELECT q_id, list_transform(q_emb,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS fx
         |  FROM q),
         |pe AS (SELECT vec_id, $projList AS proj FROM ef),
         |pq AS (SELECT q_id, $projList AS qp FROM qf),
         |ranked AS (
         |  SELECT q_id, vec_id, rn FROM (
         |    SELECT pq.q_id, pe.vec_id,
         |      row_number() OVER (PARTITION BY pq.q_id
         |        ORDER BY ${longL2("pe.proj", "pq.qp")}, pe.vec_id) AS rn
         |    FROM pe, pq WHERE pe.vec_id <> pq.q_id) z
         |  WHERE rn <= 100),
         |exact10 AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${intL2Sql("e.embedding", "q.q_emb")}, e.vec_id) AS rn
         |    FROM e, q WHERE e.vec_id <> q.q_id) z
         |  WHERE rn <= 10),
         |u AS (
         |  SELECT 'rp16_top30' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM ranked c
         |        WHERE c.rn <= 30 AND x.q_id = c.q_id
         |          AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM ranked WHERE rn <= 30) AS n_cand
         |  UNION ALL
         |  SELECT 'rp16_top100' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM ranked c
         |        WHERE c.rn <= 100 AND x.q_id = c.q_id
         |          AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM ranked) AS n_cand)
         |SELECT method, n_q, n_truth, hits, n_cand,
         |  hits / CAST(n_truth AS DOUBLE) AS recall_at_10,
         |  n_cand / CAST(n_q AS DOUBLE) AS avg_candidates
         |FROM u ORDER BY method""".stripMargin
    },

    "s22_knn_label_eval" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  WHERE len(embedding) > 0),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |  FROM e $sampleOrderSql),
         |top10 AS (
         |  SELECT q_id, vec_id, label, rn FROM (
         |    SELECT q.q_id, e.vec_id, e.label,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${intL2Sql("e.embedding", "q.q_emb")}, e.vec_id) AS rn
         |    FROM e, q WHERE e.vec_id <> q.q_id) z
         |  WHERE rn <= 10),
         |pred AS (
         |  SELECT k, q_id, label AS pred FROM (
         |    SELECT ks.k, t.q_id, t.label, COUNT(*) AS votes,
         |      row_number() OVER (PARTITION BY ks.k, t.q_id
         |        ORDER BY COUNT(*) DESC, t.label) AS vr
         |    FROM top10 t, (VALUES (1), (5), (10)) ks(k)
         |    WHERE t.rn <= ks.k
         |    GROUP BY ks.k, t.q_id, t.label) z
         |  WHERE vr = 1)
         |SELECT 'knn_k' || CAST(p.k AS VARCHAR) AS method,
         |  COUNT(*) AS n_q,
         |  CAST(SUM(CASE WHEN p.pred = q.q_label THEN 1 ELSE 0 END)
         |       AS BIGINT) AS hits,
         |  SUM(CASE WHEN p.pred = q.q_label THEN 1 ELSE 0 END)
         |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
         |FROM pred p JOIN q USING (q_id)
         |GROUP BY p.k ORDER BY method""".stripMargin,

    // s23: the greedy MMR rounds unroll as MATERIALIZED CTEs (each step
    // references its predecessor more than once — inlining would blow
    // up the chain exponentially, the d06-round lesson); lambda = 0.5
    // reduces the argmax to integer (mind - d2q), ties to vec_id.
    "s23_mmr_rerank" -> {
      def step(t: Int) = {
        val prev = s"sel${t - 1}"
        s"""m$t AS MATERIALIZED (
           |  SELECT p.q_id, p.c AS vec_id, MIN(p.dc) AS mind
           |  FROM pair p JOIN $prev s ON p.q_id = s.q_id AND p.o = s.vec_id
           |  GROUP BY 1, 2),
           |p$t AS MATERIALIZED (
           |  SELECT q_id, vec_id, $t AS pick FROM (
           |    SELECT c.q_id, c.vec_id,
           |      row_number() OVER (PARTITION BY c.q_id
           |        ORDER BY (m.mind - c.d2q) DESC, c.vec_id) AS rn
           |    FROM cand c JOIN m$t m USING (q_id, vec_id)
           |    WHERE NOT EXISTS (SELECT 1 FROM $prev s
           |      WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)) z
           |  WHERE rn = 1),
           |sel$t AS MATERIALIZED (
           |  SELECT q_id, vec_id, pick FROM $prev
           |  UNION ALL SELECT q_id, vec_id, pick FROM p$t)""".stripMargin
      }
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  $sampleOrderSql),
         |c0 AS (
         |  SELECT q.q_id, e.vec_id,
         |    ${intL2Sql("e.embedding", "q.q_emb")} AS d2q
         |  FROM e, q WHERE e.vec_id <> q.q_id),
         |cand AS MATERIALIZED (
         |  SELECT q_id, vec_id, d2q FROM (
         |    SELECT q_id, vec_id, d2q, row_number() OVER (
         |      PARTITION BY q_id ORDER BY d2q, vec_id) AS rn FROM c0) z
         |  WHERE rn <= 20),
         |ce AS MATERIALIZED (
         |  SELECT c.q_id, c.vec_id, e.embedding
         |  FROM cand c JOIN e ON e.vec_id = c.vec_id),
         |pair AS MATERIALIZED (
         |  SELECT a.q_id, a.vec_id AS c, b.vec_id AS o,
         |    ${intL2Sql("a.embedding", "b.embedding")} AS dc
         |  FROM ce a JOIN ce b
         |    ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
         |sel1 AS MATERIALIZED (
         |  SELECT q_id, vec_id, 1 AS pick FROM (
         |    SELECT q_id, vec_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY d2q, vec_id) AS rn FROM cand) z
         |  WHERE rn = 1),
         |${step(2)},
         |${step(3)},
         |${step(4)},
         |${step(5)}
         |SELECT s.q_id, CAST(s.pick AS INT) AS pick, s.vec_id, c.d2q
         |FROM sel5 s JOIN cand c USING (q_id, vec_id)
         |ORDER BY s.q_id, s.pick""".stripMargin
    },

    // s24: the same 1e6 grid, one integer global maxabs, symmetric
    // round-half-up int8 codes, integer L2 in code space — both engines
    // quantize and rank without a single float.
    "s24_sq_recall" -> {
      def longL2(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, len($a) + 1), i -> " +
          s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * " +
          s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))) AS BIGINT)"
      val codeExpr = "list_transform(fx, x -> CASE WHEN x >= 0 " +
        "THEN (254 * x + m) // (2 * m) " +
        "ELSE -((254 * (-x) + m) // (2 * m)) END)"
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  $sampleOrderSql),
         |ef AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS fx
         |  FROM e),
         |qf AS (
         |  SELECT q_id, list_transform(q_emb,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS fx
         |  FROM q),
         |mm AS (
         |  SELECT greatest(MAX(list_max(list_transform(fx, x -> abs(x)))),
         |                  1) AS m
         |  FROM ef),
         |ce AS (SELECT vec_id, $codeExpr AS codes FROM ef, mm),
         |cq AS (SELECT q_id, $codeExpr AS qcodes FROM qf, mm),
         |ranked AS (
         |  SELECT q_id, vec_id, rn FROM (
         |    SELECT cq.q_id, ce.vec_id,
         |      row_number() OVER (PARTITION BY cq.q_id
         |        ORDER BY ${longL2("ce.codes", "cq.qcodes")}, ce.vec_id) AS rn
         |    FROM ce, cq WHERE ce.vec_id <> cq.q_id) z
         |  WHERE rn <= 100),
         |exact10 AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${intL2Sql("e.embedding", "q.q_emb")}, e.vec_id) AS rn
         |    FROM e, q WHERE e.vec_id <> q.q_id) z
         |  WHERE rn <= 10),
         |u AS (
         |  SELECT 'sq8_top30' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM ranked c
         |        WHERE c.rn <= 30 AND x.q_id = c.q_id
         |          AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM ranked WHERE rn <= 30) AS n_cand
         |  UNION ALL
         |  SELECT 'sq8_top100' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM ranked c
         |        WHERE c.rn <= 100 AND x.q_id = c.q_id
         |          AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM ranked) AS n_cand)
         |SELECT method, n_q, n_truth, hits, n_cand,
         |  hits / CAST(n_truth AS DOUBLE) AS recall_at_10,
         |  n_cand / CAST(n_q AS DOUBLE) AS avg_candidates
         |FROM u ORDER BY method""".stripMargin
    },

    // s26: s15's cell CTEs + s24's code CTEs composed; candidates are
    // probed-cell codes ranked by code-space L2, truth is exact int-L2.
    "s26_ivfsq_recall" -> {
      def longL2(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, len($a) + 1), i -> " +
          s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * " +
          s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))) AS BIGINT)"
      val codeExpr = "list_transform(fx, x -> CASE WHEN x >= 0 " +
        "THEN (254 * x + m) // (2 * m) " +
        "ELSE -((254 * (-x) + m) // (2 * m)) END)"
      s"""WITH means AS (
         |  SELECT cell, i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
         |         / COUNT(*) AS REAL) AS m
         |  FROM (SELECT vec_id % 8 AS cell,
         |          unnest(range(1, len(embedding) + 1)) AS i,
         |          unnest(embedding) AS v
         |        FROM embeddings)
         |  GROUP BY 1, 2),
         |cent AS (
         |  SELECT cell, list(m ORDER BY pos) AS centroid
         |  FROM means GROUP BY cell),
         |e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |assigned AS (
         |  SELECT vec_id, cell AS home_cell FROM (${assignSql("cent", "e")}) z),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  $sampleOrderSql),
         |qc AS (
         |  SELECT q_id, cell, row_number() OVER (PARTITION BY q_id
         |      ORDER BY isnan(cos) ASC, cos DESC, cell ASC) AS rn
         |  FROM (
         |    SELECT q.q_id, c.cell,
         |      ${dotSql("q.q_emb", "c.centroid")} /
         |      (sqrt(${dotSql("q.q_emb", "q.q_emb")}) *
         |       sqrt(${dotSql("c.centroid", "c.centroid")})) AS cos
         |    FROM q, cent c) z),
         |ef AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS fx
         |  FROM e),
         |qf AS (
         |  SELECT q_id, list_transform(q_emb,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS fx
         |  FROM q),
         |mm AS (
         |  SELECT greatest(MAX(list_max(list_transform(fx, x -> abs(x)))),
         |                  1) AS m
         |  FROM ef),
         |ce AS (SELECT vec_id, $codeExpr AS codes FROM ef, mm),
         |cq AS (SELECT q_id, $codeExpr AS qcodes FROM qf, mm),
         |ranked AS (
         |  SELECT q_id, vec_id, rn FROM (
         |    SELECT p.q_id, a.vec_id,
         |      row_number() OVER (PARTITION BY p.q_id
         |        ORDER BY ${longL2("ce.codes", "cq.qcodes")}, a.vec_id) AS rn
         |    FROM assigned a
         |    JOIN qc p ON a.home_cell = p.cell AND p.rn <= 2
         |    JOIN ce ON ce.vec_id = a.vec_id
         |    JOIN cq ON cq.q_id = p.q_id
         |    WHERE a.vec_id <> p.q_id) z
         |  WHERE rn <= 100),
         |exact10 AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${intL2Sql("e.embedding", "q.q_emb")}, e.vec_id) AS rn
         |    FROM e, q WHERE e.vec_id <> q.q_id) z
         |  WHERE rn <= 10),
         |u AS (
         |  SELECT 'ivfsq_top30' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM ranked c
         |        WHERE c.rn <= 30 AND x.q_id = c.q_id
         |          AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM ranked WHERE rn <= 30) AS n_cand
         |  UNION ALL
         |  SELECT 'ivfsq_top100' AS method,
         |    (SELECT COUNT(*) FROM q) AS n_q,
         |    (SELECT COUNT(*) FROM exact10) AS n_truth,
         |    (SELECT COUNT(*) FROM exact10 x WHERE EXISTS
         |       (SELECT 1 FROM ranked c
         |        WHERE c.rn <= 100 AND x.q_id = c.q_id
         |          AND x.vec_id = c.vec_id)) AS hits,
         |    (SELECT COUNT(*) FROM ranked) AS n_cand)
         |SELECT method, n_q, n_truth, hits, n_cand,
         |  hits / CAST(n_truth AS DOUBLE) AS recall_at_10,
         |  n_cand / CAST(n_q AS DOUBLE) AS avg_candidates
         |FROM u ORDER BY method""".stripMargin
    },

    // s27: s15's cell/probe/truth CTEs; each truth pair's minimal
    // recalling nprobe is its home cell's probe rank, the candidate
    // bill is cell sizes joined to probe ranks — no per-np pair scan.
    "s27_nprobe_curve" -> {
      def urow(np: Int): String =
        s"""SELECT 'ivf_nprobe_$np' AS method,
           |    (SELECT COUNT(*) FROM q) AS n_q,
           |    (SELECT COUNT(*) FROM exact10) AS n_truth,
           |    (SELECT COUNT(*) FROM pr WHERE pr_star <= $np) AS hits,
           |    (SELECT CAST(SUM(scanned) AS BIGINT) FROM pp
           |     WHERE rn <= $np) AS n_cand""".stripMargin
      s"""WITH means AS (
         |  SELECT cell, i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
         |         / COUNT(*) AS REAL) AS m
         |  FROM (SELECT vec_id % 8 AS cell,
         |          unnest(range(1, len(embedding) + 1)) AS i,
         |          unnest(embedding) AS v
         |        FROM embeddings)
         |  GROUP BY 1, 2),
         |cent AS (
         |  SELECT cell, list(m ORDER BY pos) AS centroid
         |  FROM means GROUP BY cell),
         |e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |assigned AS (
         |  SELECT vec_id, cell AS home_cell FROM (${assignSql("cent", "e")}) z),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  $sampleOrderSql),
         |qc AS (
         |  SELECT q_id, cell, row_number() OVER (PARTITION BY q_id
         |      ORDER BY isnan(cos) ASC, cos DESC, cell ASC) AS rn
         |  FROM (
         |    SELECT q.q_id, c.cell,
         |      ${dotSql("q.q_emb", "c.centroid")} /
         |      (sqrt(${dotSql("q.q_emb", "q.q_emb")}) *
         |       sqrt(${dotSql("c.centroid", "c.centroid")})) AS cos
         |    FROM q, cent c) z),
         |scored AS (
         |  SELECT q.q_id, e.vec_id,
         |    ${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |  FROM e, q WHERE e.vec_id <> q.q_id),
         |exact10 AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |    FROM scored WHERE NOT isnan(cosine)) z
         |  WHERE rn <= 10),
         |pr AS (
         |  SELECT x.q_id, x.vec_id, qc.rn AS pr_star
         |  FROM exact10 x
         |  JOIN assigned a ON a.vec_id = x.vec_id
         |  JOIN qc ON qc.q_id = x.q_id AND qc.cell = a.home_cell),
         |csize AS (
         |  SELECT home_cell AS cell, COUNT(*) AS csz
         |  FROM assigned GROUP BY 1),
         |qhome AS (
         |  SELECT q.q_id, a.home_cell AS qcell
         |  FROM q JOIN assigned a ON a.vec_id = q.q_id),
         |pp AS (
         |  SELECT qc.q_id, qc.rn,
         |    csz - CASE WHEN qc.cell = qh.qcell THEN 1 ELSE 0 END AS scanned
         |  FROM qc
         |  JOIN csize ON qc.cell = csize.cell
         |  JOIN qhome qh ON qh.q_id = qc.q_id),
         |ncorp AS (SELECT COUNT(*) AS n FROM e),
         |u AS (
         |  ${urow(1)}
         |  UNION ALL
         |  ${urow(2)}
         |  UNION ALL
         |  ${urow(4)}
         |  UNION ALL
         |  ${urow(8)})
         |SELECT method, n_q, n_truth, hits, n_cand,
         |  hits / CAST(n_truth AS DOUBLE) AS recall_at_10,
         |  n_cand / CAST(n_q AS DOUBLE) AS avg_candidates,
         |  n_cand / CAST(n_q * ((SELECT n FROM ncorp) - 1) AS DOUBLE)
         |    AS scan_frac
         |FROM u ORDER BY method""".stripMargin
    },

    "s25_range_search" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  $sampleOrderSql),
         |d AS (
         |  SELECT q.q_id, e.vec_id,
         |    ${intL2Sql("e.embedding", "q.q_emb")} AS d2
         |  FROM e, q WHERE e.vec_id <> q.q_id)
         |SELECT q_id, CAST(MIN(d2) AS BIGINT) AS nn_d2,
         |  CAST(SUM(CASE WHEN d2 <= 15000000000000000
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_r1,
         |  CAST(SUM(CASE WHEN d2 <= 17000000000000000
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_r2,
         |  CAST(SUM(CASE WHEN d2 <= 15000000000000000
         |           THEN vec_id ELSE 0 END) AS BIGINT) AS ids_r1
         |FROM d GROUP BY q_id ORDER BY q_id""".stripMargin,

    "s17_index_load_profile" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |lshc AS (
         |  SELECT CAST($signBucketSql AS BIGINT) AS k, COUNT(*) AS n
         |  FROM e GROUP BY 1),
         |means AS (
         |  SELECT cell, i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
         |         / COUNT(*) AS REAL) AS m
         |  FROM (SELECT vec_id % 8 AS cell,
         |          unnest(range(1, len(embedding) + 1)) AS i,
         |          unnest(embedding) AS v
         |        FROM embeddings)
         |  GROUP BY 1, 2),
         |cent AS (
         |  SELECT cell, list(m ORDER BY pos) AS centroid
         |  FROM means GROUP BY cell),
         |assigned AS (
         |  SELECT vec_id, cell AS home_cell FROM (${assignSql("cent", "e")}) z),
         |ivfc AS (SELECT home_cell AS k, COUNT(*) AS n
         |         FROM assigned GROUP BY 1),
         |lcc AS (
         |  SELECT k, n, n - 1 AS cand,
         |    SUM(n) OVER (ORDER BY n - 1, k ROWS UNBOUNDED PRECEDING) AS cum,
         |    SUM(n) OVER () AS tot, COUNT(*) OVER () AS nb,
         |    MAX(n) OVER () AS mx
         |  FROM lshc),
         |icc AS (
         |  SELECT k, n, n - 1 AS cand,
         |    SUM(n) OVER (ORDER BY n - 1, k ROWS UNBOUNDED PRECEDING) AS cum,
         |    SUM(n) OVER () AS tot, COUNT(*) OVER () AS nb,
         |    MAX(n) OVER () AS mx
         |  FROM ivfc),
         |u AS (
         |  SELECT 'lsh_bucket' AS method,
         |    CAST(MAX(nb) AS BIGINT) AS n_buckets,
         |    CAST(MAX(tot) AS BIGINT) AS n_vecs,
         |    CAST(MIN(CASE WHEN cum * 2 >= tot THEN cand END) AS BIGINT)
         |      AS p50_cand,
         |    CAST(MIN(CASE WHEN cum * 20 >= tot * 19 THEN cand END) AS BIGINT)
         |      AS p95_cand,
         |    CAST(MAX(cand) AS BIGINT) AS max_cand,
         |    CAST(MAX(mx) * MAX(nb) AS BIGINT) / CAST(MAX(tot) AS DOUBLE)
         |      AS imbalance
         |  FROM lcc
         |  UNION ALL
         |  SELECT 'ivf_cell' AS method,
         |    CAST(MAX(nb) AS BIGINT) AS n_buckets,
         |    CAST(MAX(tot) AS BIGINT) AS n_vecs,
         |    CAST(MIN(CASE WHEN cum * 2 >= tot THEN cand END) AS BIGINT)
         |      AS p50_cand,
         |    CAST(MIN(CASE WHEN cum * 20 >= tot * 19 THEN cand END) AS BIGINT)
         |      AS p95_cand,
         |    CAST(MAX(cand) AS BIGINT) AS max_cand,
         |    CAST(MAX(mx) * MAX(nb) AS BIGINT) / CAST(MAX(tot) AS DOUBLE)
         |      AS imbalance
         |  FROM icc)
         |SELECT method, n_buckets, n_vecs, p50_cand, p95_cand, max_cand,
         |  imbalance
         |FROM u ORDER BY method""".stripMargin,

    "d14_semdedup" ->
      s"""WITH emb AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding, label FROM embeddings
         |  WHERE vec_id % 10 = 0)
         |SELECT y.vec_id AS vec_id, y.label AS label,
         |  min(x.vec_id) AS keeper_id, COUNT(*) AS n_dominators
         |FROM emb x JOIN emb y
         |  ON x.label = y.label AND x.vec_id < y.vec_id
         |WHERE ${dotSql("x.embedding", "y.embedding")} /
         |  (sqrt(${dotSql("x.embedding", "x.embedding")}) *
         |   sqrt(${dotSql("y.embedding", "y.embedding")})) >= 0.95
         |GROUP BY y.vec_id, y.label
         |ORDER BY vec_id""".stripMargin,

    "d15_semdedup_cells" ->
      s"""WITH emb AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding, label FROM embeddings
         |  WHERE vec_id % 10 = 0),
         |kk AS (
         |  SELECT GREATEST(8, CAST(floor(sqrt(COUNT(*) / 8.0)) AS BIGINT))
         |    AS k FROM emb),
         |means AS (
         |  SELECT cell, i - 1 AS pos,
         |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
         |         / COUNT(*) AS REAL) AS m
         |  FROM (SELECT vec_id % (SELECT k FROM kk) AS cell,
         |          unnest(range(1, len(embedding) + 1)) AS i,
         |          unnest(embedding) AS v
         |        FROM emb)
         |  GROUP BY 1, 2),
         |cent AS (
         |  SELECT cell, list(m ORDER BY pos) AS centroid
         |  FROM means GROUP BY cell),
         |assigned AS (SELECT vec_id, cell FROM (${assignSql("cent", "emb")}) z),
         |j AS (
         |  SELECT a.vec_id, a.cell, e.embedding
         |  FROM assigned a JOIN emb e USING (vec_id))
         |SELECT y.vec_id AS vec_id, CAST(y.cell AS INT) AS cell,
         |  min(x.vec_id) AS keeper_id, COUNT(*) AS n_dominators
         |FROM j x JOIN j y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |WHERE ${dotSql("x.embedding", "y.embedding")} /
         |  (sqrt(${dotSql("x.embedding", "x.embedding")}) *
         |   sqrt(${dotSql("y.embedding", "y.embedding")})) >= 0.95
         |GROUP BY y.vec_id, y.cell
         |ORDER BY vec_id""".stripMargin,

    // s29: the same 1e8 fixed-point per element (×4 plant exact in any
    // float width), the same array-hash duplicate key.
    "s29_embedding_health" -> {
      val fp = "list_transform(embedding, x -> " +
        "CAST(round(CAST(x AS DOUBLE) * 1e8) AS BIGINT))"
      val h = graft.Dets.phashSql(
        "array_to_string(list_transform(fpl, v -> CAST(v AS VARCHAR)), ',')")
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(embedding, x -> CAST(x * 4 AS FLOAT)), label
         |  FROM embeddings WHERE vec_id % 9 = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000,
         |    list_transform(embedding, x -> CAST(0.0 AS FLOAT)), label
         |  FROM embeddings WHERE vec_id % 17 = 0
         |  UNION ALL
         |  SELECT vec_id + 3000000, embedding, label
         |  FROM embeddings WHERE vec_id % 13 = 0),
         |st AS (
         |  SELECT vec_id, label,
         |    list_sum(list_transform(fpl, v -> v * v)) AS norm2,
         |    $h AS h
         |  FROM (SELECT vec_id, label, $fp AS fpl FROM corpus) z),
         |dc AS (SELECT h, COUNT(*) AS nh FROM st GROUP BY h)
         |SELECT label, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_zero,
         |  CAST(SUM(CASE WHEN abs(norm2 - 10000000000000000) >
         |    100000000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_offnorm,
         |  CAST(SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup,
         |  CAST(MIN(norm2) AS BIGINT) AS min_norm2,
         |  CAST(MAX(norm2) AS BIGINT) AS max_norm2
         |FROM st JOIN dc USING (h)
         |GROUP BY label ORDER BY label""".stripMargin
    },

    // s30: the same directed multi-probe candidate generation (probe-1
    // src side, single bucket base side, label-conjunct) over the
    // corpus-adaptive nb-bit sign bucket (integer-only nb derivation —
    // see the query comment), exact cosine, per-src top-4 by
    // (cosine DESC, dst ASC).
    "s30_knn_graph" ->
      s"""WITH nbv AS (
         |  SELECT GREATEST(8, length(bin(GREATEST(
         |    (COUNT(*) + 31) // 32 - 1, 1)))) AS nb
         |  FROM embeddings),
         |b AS (
         |  SELECT vec_id, label, embedding,
         |    ${lshBucketSql("embedding", "nb")} AS bucket
         |  FROM embeddings, nbv),
         |p AS (
         |  SELECT vec_id, label,
         |    unnest(${lshProbe1Sql("embedding", "bucket", "nb")}) AS bkey
         |  FROM b, nbv),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS src, e.vec_id AS dst, p.label AS label
         |  FROM p JOIN b e ON e.bucket = p.bkey AND e.label = p.label
         |  WHERE e.vec_id <> p.vec_id),
         |sc AS (
         |  SELECT c.src, c.dst, c.label,
         |    ${dotSql("x.embedding", "y.embedding")} /
         |    (sqrt(${dotSql("x.embedding", "x.embedding")}) *
         |     sqrt(${dotSql("y.embedding", "y.embedding")})) AS cosine
         |  FROM cand c
         |  JOIN embeddings x ON x.vec_id = c.src
         |  JOIN embeddings y ON y.vec_id = c.dst),
         |r AS (
         |  SELECT src, dst, label, cosine,
         |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst)
         |      AS rnk
         |  FROM sc)
         |SELECT src, rnk, dst, label, cosine FROM r
         |WHERE rnk <= 4 ORDER BY src, rnk""".stripMargin,

    // s32: s30's graph chain at the coarser search-graph blocking
    // (nb = max(3, ⌈log2(n/256)⌉) — connectivity, not candidate
    // pruning) → symmetrized edges; the 6 beam-search rounds unrolled
    // (anti-join via NOT EXISTS, top-beam window per round —
    // MATERIALIZED, each round references the previous twice). Same
    // NQ sample, same-label brute-force truth.
    "s32_graph_beam_recall" -> graphBeamRecallOracleSql(
      entryOrderSql = "vec_id", entryRnCond = "rn = 1"),

    // s34: the identical chain with the ONLY diff the entry CTE — 4
    // phash-spread same-label seeds instead of the single min-id
    // (mirrors graphBeamRecall(nEntries = 4) exactly).
    "s34_multi_entry_beam" -> graphBeamRecallOracleSql(
      entryOrderSql =
        s"${graft.Dets.phashSql("CAST(vec_id AS VARCHAR)")}, vec_id",
      entryRnCond = "rn <= 4"),

    // s36: the identical chain with the routed two-level entry — the
    // 1/4 sample ALL enters v0 (the routing scan's scores are ranked
    // too), and f0 keeps only the best routed node per (beam, query).
    // s38: the chain three times — stale/hybrid build the graph over
    // the indexed 3/4 only (truth stays full-corpus); hybrid's ranked
    // set unions the exact tail scan; rebuilt is the full-graph walk.
    "s38_freshness_beam" -> {
      val stale = graphBeamRecallOracleSql(
        entryOrderSql = "vec_id", entryRnCond = "rn = 1",
        entryWhereSql = "vec_id % 4 <> 3",
        baseWhereSql = "vec_id % 4 <> 3")
      val hybrid = graphBeamRecallOracleSql(
        entryOrderSql = "vec_id", entryRnCond = "rn = 1",
        entryWhereSql = "vec_id % 4 <> 3",
        baseWhereSql = "vec_id % 4 <> 3",
        scoredFromSql = Some(
          """(SELECT * FROM v6 UNION ALL
            |   SELECT b.beam, s2.q_id, s2.vec_id, s2.cosine
            |   FROM beams b,
            |     (SELECT q_id, vec_id, cosine FROM sa
            |      WHERE vec_id % 4 = 3) s2) u""".stripMargin))
      val rebuilt = graphBeamRecallOracleSql(
        entryOrderSql = "vec_id", entryRnCond = "rn = 1")
      s"""SELECT 'stale' AS policy, * FROM ($stale) a
         |UNION ALL
         |SELECT 'hybrid' AS policy, * FROM ($hybrid) b
         |UNION ALL
         |SELECT 'rebuilt' AS policy, * FROM ($rebuilt) c
         |ORDER BY policy, beam""".stripMargin
    },

    // s37: the parameterized chain twice — live-only truth/entries on
    // both sides; `skip` filters fresh nodes (g.dst), `through`
    // filters only the final ranking — then one policy-tagged union.
    "s37_tombstone_beam" -> {
      def policy(freshWhere: String, rankWhere: String): String =
        graphBeamRecallOracleSql(
          entryOrderSql = "vec_id", entryRnCond = "rn = 1",
          entryWhereSql = "vec_id % 5 <> 1",
          freshWhereSql = freshWhere, rankWhereSql = rankWhere,
          truthWhereSql = "vec_id % 5 <> 1")
      val skip = policy(freshWhere = "g.dst % 5 <> 1", rankWhere = "TRUE")
      val through = policy(freshWhere = "TRUE",
                           rankWhere = "vec_id % 5 <> 1")
      s"""SELECT 'skip' AS policy, * FROM ($skip) a
         |UNION ALL
         |SELECT 'through' AS policy, * FROM ($through) b
         |ORDER BY policy, beam""".stripMargin
    },

    "s36_hierarchical_beam" -> graphBeamRecallOracleSql(
      entryOrderSql = "cosine DESC, vec_id",
      entryRnCond = "rn >= 1",
      entryWhereSql = "vec_id % 4 = 0",
      f0Sql = Some(
        """SELECT beam, q_id, vec_id FROM (
          |    SELECT beam, q_id, vec_id,
          |      row_number() OVER (PARTITION BY beam, q_id
          |        ORDER BY cosine DESC, vec_id) AS rn
          |    FROM v0) z WHERE rn = 1""".stripMargin)),

    // s35: the same graph chain + the s11/s12 PQ chain; rounds score
    // fresh nodes by ADC (codes x the query's codeword distance
    // table), frontier keeps ADC-smallest; exact-cosine re-rank of the
    // visited set at the end — mirrors pqBeamRerank CTE for CTE.
    "s35_pq_beam_rerank" -> pqBeamRerankOracleSql,

    // s31: both quantizers trained with s03's exact-decimal means
    // (IVF: vec_id % 256 full-vector; IMI: vec_id % 16 per half),
    // assignment via the shared deterministic argmax, occupancy
    // percentiles by cell-count-weighted cumulative minimum.
    // s33: per fixed nb config — bucket/probe CTEs inline (s30's
    // expressions with a literal bit count), pair bill priced from the
    // two count aggregates (Σ np·nbc − n, no pair materialized),
    // recall@4 of the candidate set on the shared NQ sample.
    "s33_build_knob_plan" -> {
      val cfgs = Seq(3, 4, 5, 6).map { nb =>
        val n = nb.toString
        s"""b$nb AS (
           |  SELECT vec_id, label, ${lshBucketSql("embedding", n)} AS bucket
           |  FROM embeddings),
           |p$nb AS (
           |  SELECT vec_id, label,
           |    unnest(${lshProbe1Sql("embedding", "bkt", n)}) AS bkey
           |  FROM (SELECT vec_id, label, embedding,
           |          ${lshBucketSql("embedding", n)} AS bkt
           |        FROM embeddings) z),
           |pc$nb AS (
           |  SELECT bkey, label, COUNT(*) AS np FROM p$nb GROUP BY 1, 2),
           |bc$nb AS (
           |  SELECT bucket AS bkey, label, COUNT(*) AS nbc
           |  FROM b$nb GROUP BY 1, 2),
           |cells$nb AS (
           |  SELECT COUNT(*) AS n_cells, CAST(MAX(nbc) AS BIGINT)
           |    AS max_cell FROM bc$nb),
           |pairs$nb AS (
           |  SELECT CAST(COALESCE(SUM(np * nbc), 0) AS BIGINT)
           |      - (SELECT COUNT(*) FROM embeddings) AS cand_pairs
           |  FROM pc$nb JOIN bc$nb USING (bkey, label)),
           |qp$nb AS (
           |  SELECT q_id, q_label,
           |    unnest(${lshProbe1Sql("q_emb", "bkt", n)}) AS bkey
           |  FROM (SELECT q_id, q_label, q_emb,
           |          ${lshBucketSql("q_emb", n)} AS bkt
           |        FROM q) z),
           |cd$nb AS (
           |  SELECT DISTINCT qp.q_id, e.vec_id
           |  FROM qp$nb qp JOIN b$nb e
           |    ON e.bucket = qp.bkey AND e.label = qp.q_label
           |  WHERE e.vec_id <> qp.q_id),
           |h$nb AS (
           |  SELECT COUNT(*) AS hits FROM truth4 t WHERE EXISTS
           |    (SELECT 1 FROM cd$nb c
           |     WHERE c.q_id = t.q_id AND c.vec_id = t.vec_id)),
           |row$nb AS (
           |  SELECT CAST($nb AS INT) AS nb, n_cells, max_cell, cand_pairs,
           |    (SELECT COUNT(*) FROM truth4) AS n_truth, hits,
           |    hits / CAST((SELECT COUNT(*) FROM truth4) AS DOUBLE)
           |      AS recall_at_4,
           |    cand_pairs / CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE)
           |      AS pairs_per_vec
           |  FROM cells$nb, pairs$nb, h$nb)""".stripMargin
      }.mkString(",\n")
      s"""WITH eb AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |  FROM eb $sampleOrderSql),
         |sa AS MATERIALIZED (
         |  SELECT q.q_id, e.vec_id,
         |    ${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |  FROM eb e JOIN q ON e.label = q.q_label
         |  WHERE e.vec_id <> q.q_id
         |    AND NOT isnan(${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})))),
         |truth4 AS MATERIALIZED (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |    FROM sa) z WHERE rn <= 4),
         |$cfgs
         |SELECT * FROM row3
         |UNION ALL SELECT * FROM row4
         |UNION ALL SELECT * FROM row5
         |UNION ALL SELECT * FROM row6
         |ORDER BY nb""".stripMargin
    },

    "s31_imi_cells" -> {
      def means(src: String, k: Int, name: String) =
        s"""m_$name AS (
           |  SELECT cell, i - 1 AS pos,
           |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
           |         / COUNT(*) AS REAL) AS m
           |  FROM (SELECT vec_id % $k AS cell,
           |          unnest(range(1, len(embedding) + 1)) AS i,
           |          unnest(embedding) AS v
           |        FROM $src)
           |  GROUP BY 1, 2),
           |cent_$name AS (
           |  SELECT cell, list(m ORDER BY pos) AS centroid
           |  FROM m_$name GROUP BY cell)""".stripMargin
      def prof(name: String, occSrc: String, params: Int) =
        s"""occ_$name AS (
           |  SELECT cell, COUNT(*) AS occ FROM $occSrc GROUP BY cell),
           |cum_$name AS (
           |  SELECT occ, SUM(nc) OVER (ORDER BY occ) AS cum
           |  FROM (SELECT occ, COUNT(*) AS nc FROM occ_$name
           |        GROUP BY occ) z),
           |row_$name AS (
           |  SELECT '$name' AS layout, CAST(256 AS INT) AS n_cells,
           |    t.n_nonempty, 256 - t.n_nonempty AS n_empty,
           |    (SELECT MIN(occ) FROM cum_$name
           |     WHERE cum * 2 >= t.n_nonempty) AS p50_occ,
           |    (SELECT MIN(occ) FROM cum_$name
           |     WHERE cum * 20 >= t.n_nonempty * 19) AS p95_occ,
           |    t.max_occ,
           |    (t.max_occ * t.n_nonempty) / CAST(t.n_vecs AS DOUBLE)
           |      AS imbalance,
           |    CAST($params AS INT) AS train_params
           |  FROM (SELECT COUNT(*) AS n_nonempty, MAX(occ) AS max_occ,
           |          CAST(SUM(occ) AS BIGINT) AS n_vecs
           |        FROM occ_$name) t)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |h1 AS (SELECT vec_id, embedding[1:32] AS embedding FROM e),
         |h2 AS (SELECT vec_id, embedding[33:64] AS embedding FROM e),
         |${means("e", 256, "ivf")},
         |${means("h1", 16, "i1")},
         |${means("h2", 16, "i2")},
         |a_ivf AS (SELECT vec_id, cell FROM
         |  (${assignSql("cent_ivf", "e")}) z),
         |a_i1 AS (SELECT vec_id, cell FROM
         |  (${assignSql("cent_i1", "h1")}) z),
         |a_i2 AS (SELECT vec_id, cell FROM
         |  (${assignSql("cent_i2", "h2")}) z),
         |a_imi AS (
         |  SELECT a1.vec_id, a1.cell * 16 + a2.cell AS cell
         |  FROM a_i1 a1 JOIN a_i2 a2 USING (vec_id)),
         |${prof("imi_16x16", "a_imi", 2 * 16 * 32)},
         |${prof("ivf_256", "a_ivf", 256 * 64)}
         |SELECT * FROM row_imi_16x16
         |UNION ALL
         |SELECT * FROM row_ivf_256
         |ORDER BY layout""".stripMargin
    }
  )

  /** The common graph-chain + truth CTE prefix shared by the s32/s34
    * recall oracle and s35's PQ-beam oracle: coarse blocking, probe-1
    * candidates, exact-cosine top-4 edges, symmetrized graph, NQ
    * sample, brute-force same-label scores (sa), exact top-10 truth. */
  private def graphChainCtesSql(truthWhereSql: String = "TRUE",
                                baseWhereSql: String = "TRUE"): String =
      s"""nbv AS (
         |  SELECT GREATEST(3, length(bin(GREATEST(
         |    (COUNT(*) + 255) // 256 - 1, 1)))) AS nb
         |  FROM embeddings WHERE $baseWhereSql),
         |b AS (
         |  SELECT vec_id, label, embedding,
         |    ${lshBucketSql("embedding", "nb")} AS bucket
         |  FROM embeddings, nbv WHERE $baseWhereSql),
         |p AS (
         |  SELECT vec_id, label,
         |    unnest(${lshProbe1Sql("embedding", "bucket", "nb")}) AS bkey
         |  FROM b, nbv),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS src, e.vec_id AS dst, p.label AS label
         |  FROM p JOIN b e ON e.bucket = p.bkey AND e.label = p.label
         |  WHERE e.vec_id <> p.vec_id),
         |sc AS (
         |  SELECT c.src, c.dst,
         |    ${dotSql("x.embedding", "y.embedding")} /
         |    (sqrt(${dotSql("x.embedding", "x.embedding")}) *
         |     sqrt(${dotSql("y.embedding", "y.embedding")})) AS cosine
         |  FROM cand c
         |  JOIN embeddings x ON x.vec_id = c.src
         |  JOIN embeddings y ON y.vec_id = c.dst),
         |edges AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst)
         |        AS rnk
         |    FROM sc) z WHERE rnk <= 4),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
         |eb AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE len(embedding) > 0),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |  FROM eb $sampleOrderSql),
         |sa AS MATERIALIZED (
         |  SELECT q.q_id, e.vec_id,
         |    ${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS cosine
         |  FROM eb e JOIN q ON e.label = q.q_label
         |  WHERE e.vec_id <> q.q_id
         |    AND NOT isnan(${dotSql("e.embedding", "q.q_emb")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("q.q_emb", "q.q_emb")})))),
         |truth AS MATERIALIZED (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |    FROM sa WHERE $truthWhereSql) z WHERE rn <= 10)""".stripMargin

  /** Shared DuckDB mirror of [[graphBeamRecall]] — the s30-style graph
    * chain at the coarse search blocking, 6 unrolled beam rounds
    * (MATERIALIZED — each references the previous twice), same NQ
    * sample and same-label brute-force truth; the entry CTE is the
    * only parameterized piece (s32: min-id; s34: 4 phash-spread). */
  private def graphBeamRecallOracleSql(entryOrderSql: String,
                                       entryRnCond: String,
                                       entryWhereSql: String = "TRUE",
                                       f0Sql: Option[String] = None,
                                       freshWhereSql: String = "TRUE",
                                       rankWhereSql: String = "TRUE",
                                       truthWhereSql: String = "TRUE",
                                       baseWhereSql: String = "TRUE",
                                       scoredFromSql: Option[String] = None)
      : String = {
      val rounds = (1 to 6).map { r =>
        val pv = s"v${r - 1}"
        val pf = s"f${r - 1}"
        s"""n$r AS MATERIALIZED (
           |  SELECT DISTINCT f.beam, f.q_id, g.dst AS vec_id, sa.cosine
           |  FROM $pf f JOIN sym g ON g.src = f.vec_id
           |  JOIN sa ON sa.q_id = f.q_id AND sa.vec_id = g.dst
           |  WHERE NOT EXISTS (SELECT 1 FROM $pv v WHERE v.beam = f.beam
           |    AND v.q_id = f.q_id AND v.vec_id = g.dst)
           |    AND ($freshWhereSql)),
           |v$r AS MATERIALIZED (
           |  SELECT * FROM $pv UNION ALL SELECT * FROM n$r),
           |f$r AS (
           |  SELECT beam, q_id, vec_id FROM (
           |    SELECT beam, q_id, vec_id,
           |      row_number() OVER (PARTITION BY beam, q_id
           |        ORDER BY cosine DESC, vec_id) AS rn
           |    FROM n$r) z WHERE rn <= beam)""".stripMargin
      }.mkString(",\n")
      val scoredFrom = scoredFromSql.getOrElse("v6")
      s"""WITH ${graphChainCtesSql(truthWhereSql, baseWhereSql)},
         |entry AS (
         |  SELECT q_id, vec_id, cosine FROM (
         |    SELECT q_id, vec_id, cosine,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY $entryOrderSql) AS rn
         |    FROM sa WHERE $entryWhereSql) z WHERE $entryRnCond),
         |beams AS (SELECT unnest([2, 4, 8]) AS beam),
         |v0 AS MATERIALIZED (
         |  SELECT beam, q_id, vec_id, cosine FROM beams, entry),
         |f0 AS (${f0Sql.getOrElse("SELECT beam, q_id, vec_id FROM v0")}),
         |$rounds,
         |scoredall AS (SELECT beam, q_id, vec_id, cosine FROM $scoredFrom),
         |ranked AS (
         |  SELECT beam, q_id, vec_id,
         |    row_number() OVER (PARTITION BY beam, q_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |  FROM scoredall WHERE $rankWhereSql),
         |hitrep AS (
         |  SELECT beam,
         |    CAST(SUM(CASE WHEN z.rn <= 10 AND t.vec_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM ranked z LEFT JOIN truth t
         |    ON z.q_id = t.q_id AND z.vec_id = t.vec_id
         |  GROUP BY beam),
         |rep AS (
         |  SELECT s.beam, s.n_scored, h.hits
         |  FROM (SELECT beam, COUNT(*) AS n_scored FROM scoredall
         |        GROUP BY beam) s
         |  JOIN hitrep h ON h.beam = s.beam)
         |SELECT beam,
         |  (SELECT COUNT(*) FROM q) AS n_q,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  hits, n_scored,
         |  hits / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE)
         |    AS recall_at_10,
         |  n_scored / CAST((SELECT COUNT(*) FROM q) AS DOUBLE)
         |    AS avg_scored
         |FROM rep ORDER BY beam""".stripMargin
  }
  /** DuckDB mirror of [[pqBeamRerank]] — [[graphChainCtesSql]] +
    * [[pqOracleCtes]], codes/query-distance-table CTEs, 6 ADC-scored
    * beam rounds, exact re-rank of the visited set. */
  private def pqBeamRerankOracleSql: String = {
      val rounds = (1 to 6).map { r =>
        val pv = s"v${r - 1}"
        val pf = s"f${r - 1}"
        s"""n$r AS MATERIALIZED (
           |  SELECT z.beam, z.q_id, z.vec_id, SUM(dt.dq) AS adc
           |  FROM (
           |    SELECT DISTINCT f.beam, f.q_id, g.dst AS vec_id
           |    FROM $pf f JOIN sym g ON g.src = f.vec_id
           |    WHERE EXISTS (SELECT 1 FROM sa
           |      WHERE sa.q_id = f.q_id AND sa.vec_id = g.dst)
           |      AND NOT EXISTS (SELECT 1 FROM $pv v WHERE v.beam = f.beam
           |        AND v.q_id = f.q_id AND v.vec_id = g.dst)) z
           |  JOIN codes ON codes.vec_id = z.vec_id
           |  JOIN dt ON dt.q_id = z.q_id AND dt.j = codes.j
           |    AND dt.code = codes.code
           |  GROUP BY 1, 2, 3),
           |v$r AS MATERIALIZED (
           |  SELECT beam, q_id, vec_id FROM $pv
           |  UNION ALL SELECT beam, q_id, vec_id FROM n$r),
           |f$r AS (
           |  SELECT beam, q_id, vec_id FROM (
           |    SELECT beam, q_id, vec_id,
           |      row_number() OVER (PARTITION BY beam, q_id
           |        ORDER BY adc, vec_id) AS rn
           |    FROM n$r) z WHERE rn <= beam)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${graphChainCtesSql()},
         |$pqOracleCtes,
         |codes AS MATERIALIZED (
         |  SELECT vec_id, j, code FROM best WHERE rn = 1),
         |qsubs AS (
         |  SELECT q_id, j,
         |    q_emb[CAST(j * (len(q_emb) // $PQ_M) + 1 AS INT):
         |          CAST((j + 1) * (len(q_emb) // $PQ_M) AS INT)] AS sv
         |  FROM (SELECT q_id, q_emb, unnest(range(0, $PQ_M)) AS j
         |        FROM q) z),
         |dt AS MATERIALIZED (
         |  SELECT q_id, s.j, c.code, ${intL2Sql("s.sv", "c.centroid")} AS dq
         |  FROM qsubs s JOIN cb c USING (j)),
         |entry AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${graft.Dets.phashSql("CAST(vec_id AS VARCHAR)")},
         |          vec_id) AS rn
         |    FROM sa) z WHERE rn <= 4),
         |beams AS (SELECT unnest([2, 4, 8]) AS beam),
         |v0 AS MATERIALIZED (SELECT beam, q_id, vec_id FROM beams, entry),
         |f0 AS (SELECT beam, q_id, vec_id FROM v0),
         |$rounds,
         |ranked AS (
         |  SELECT v.beam, v.q_id, v.vec_id,
         |    row_number() OVER (PARTITION BY v.beam, v.q_id
         |      ORDER BY sa.cosine DESC, v.vec_id) AS rn
         |  FROM v6 v JOIN sa ON sa.q_id = v.q_id AND sa.vec_id = v.vec_id),
         |rep AS (
         |  SELECT beam, COUNT(*) AS n_scored,
         |    CAST(SUM(CASE WHEN z.rn <= 10 AND t.vec_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM ranked z LEFT JOIN truth t
         |    ON z.q_id = t.q_id AND z.vec_id = t.vec_id
         |  GROUP BY beam)
         |SELECT beam,
         |  (SELECT COUNT(*) FROM q) AS n_q,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  hits, n_scored,
         |  hits / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE)
         |    AS recall_at_10,
         |  n_scored / CAST((SELECT COUNT(*) FROM q) AS DOUBLE)
         |    AS avg_scored
         |FROM rep ORDER BY beam""".stripMargin
  }

}
