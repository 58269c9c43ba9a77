package graft

import graft.weather.WeatherPipeline
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.sql.Timestamp

/** Property tests for the reference semantics (SURVEY §5: "cursor filter:
  * ∀ cursor, output timestamps strictly > cursor; upsert: idempotent under
  * re-application"). Uses seeded ScalaCheck generators sampled explicitly
  * (Spark jobs are too slow for large example counts, and the offline
  * cache has no scalatestplus bridge).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val base = 1704067200000L // 2024-01-01 00:00:00 UTC
  private lazy val df = (0 until 200)
    .map(i => (new Timestamp(base + i * 900000L), i.toDouble))
    .toDF("ts", "v").cache()

  private val cursorGen: Gen[Long] =
    Gen.choose(-10L, 210L).map(i => base + i * 900000L)

  test("∀ cursor: every output ts is strictly greater than the cursor") {
    samples(cursorGen, 8).foreach { cur =>
      val c = new Timestamp(cur)
      val out = WeatherPipeline.filterNewRecords(
          df, "ts", lit(new Timestamp(base + 300 * 900000L)), Some(lit(c)))
        .select($"ts").as[Timestamp].collect()
      assert(out.forall(_.getTime > cur), s"cursor $c leaked rows <= cursor")
      assert(out.length === (0 until 200).count(i => base + i * 900000L > cur),
        s"cursor $c dropped eligible rows")
    }
  }

  test("∀ batch split: upsert twice == upsert once (idempotence)") {
    samples(Gen.choose(0, 200), 6).foreach { split =>
      val sink = df.filter($"v" < split)
      val once = WeatherPipeline.upsertNew(df, sink, "ts")
      assert(once.count() === (200 - split).toLong, s"split $split")
      val again = WeatherPipeline.upsertNew(df, sink.unionByName(once), "ts")
      assert(again.count() === 0, s"split $split not idempotent")
    }
  }

  test("∀ duplication factor: within-batch dedup keeps exactly one per key") {
    samples(Gen.choose(2, 4), 3).foreach { k =>
      val dup = (1 to k).map(_ => df).reduce(_ unionByName _)
      val out = WeatherPipeline.upsertNew(dup, df.limit(0), "ts")
      assert(out.count() === 200, s"dup factor $k")
    }
  }

  test("∀ id: video decode-and-sample equals the pixel formula (JVM-only)") {
    import graft.datapipe.Multimodal.VideoCodec._
    def formulaSum(id: Long, f: Int): Long =
      (for (y <- 0 until H; x <- 0 until W)
        yield (x * 7 + y * 13 + f * 31 + id) % 256).sum
    samples(Gen.choose(0L, 1000000L), 50).foreach { id =>
      val payload = synthVideo(id)
      val ft = features(id, payload)
      // a REAL GIF89a container, and the decoder's frame count must
      // equal the synthesizer's
      assert(new String(payload.take(6), "US-ASCII") === "GIF89a",
        s"id $id payload is not a GIF container")
      assert(ft.n_frames === nFrames(id), s"id $id frame count")
      assert(ft.n_frames >= 16 && ft.n_frames <= 24)
      val step = math.max(ft.n_frames / 4, 1)
      val idx = (0 until 4).map(i => math.min(i * step, ft.n_frames - 1))
      val sums = Seq(ft.f0_sum, ft.f1_sum, ft.f2_sum, ft.f3_sum)
      idx.zip(sums).foreach { case (f, s) =>
        assert(s === formulaSum(id, f), s"id $id frame $f")
      }
      assert(ft.motion ===
        sums.sliding(2).map(p => math.abs(p(1) - p(0))).sum)
    }
  }

  test("∀ string pair: banded_levenshtein == naive full-DP distance (JVM-only)") {
    import org.apache.spark.unsafe.types.UTF8String
    def naive(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    // alphabet of 3 keeps distances small enough to exercise BOTH the
    // <=k path (exact value) and the >k early-exit (-1); include
    // multi-byte chars to hit the non-ASCII DP path
    val alpha = Gen.oneOf("a", "b", "é")
    val strGen = for {
      n <- Gen.choose(0, 24)
      cs <- Gen.listOfN(n, alpha)
    } yield cs.mkString
    // independent random strings are nearly always far apart, so half
    // the pairs are a few random edits of the SAME string — those
    // exercise the exact <=k path, the rest the early exit
    def mutate(a: String, ops: List[(Int, Int, String)]): String =
      ops.foldLeft(a) { case (s, (kind, pos, ch)) =>
        if (s.isEmpty) s + ch
        else {
          val p = pos % s.length
          kind % 3 match {
            case 0 => s.substring(0, p) + ch + s.substring(p + 1) // subst
            case 1 => s.substring(0, p) + ch + s.substring(p)     // insert
            case 2 => s.substring(0, p) + s.substring(p + 1)      // delete
          }
        }
      }
    val nearGen = for {
      a <- strGen
      nOps <- Gen.choose(0, 4)
      ops <- Gen.listOfN(nOps, for {
        kind <- Gen.choose(0, 2); pos <- Gen.choose(0, 63); ch <- alpha
      } yield (kind, pos, ch))
    } yield (a, mutate(a, ops))
    val farGen = for { a <- strGen; b <- strGen } yield (a, b)
    val pairGen = Gen.oneOf(nearGen, farGen)
    var hits = 0; var exits = 0
    samples(pairGen, 400).foreach { case (a, b) =>
      for (k <- Seq(1, 3, 5)) {
        val got = functions.BandedLevenshtein.compute(
          UTF8String.fromString(a), UTF8String.fromString(b), k)
        val want = naive(a, b)
        if (want <= k) { hits += 1
          assert(got === want, s"k=$k '$a' vs '$b'")
        } else { exits += 1
          assert(got === -1, s"k=$k '$a' vs '$b': want -1 (dist $want), got $got")
        }
      }
    }
    assert(hits > 100 && exits > 100,
      s"generator lost its balance: $hits within-band, $exits beyond")
  }

  test("∀ long-array pair: int_l2 == sequential fold of squared diffs (JVM-only)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // element range = 2× the 1e8 fixed-point ceiling the PQ family
    // feeds it, so the property covers the whole production domain;
    // two-thirds same-length pairs (the real case), the rest exercise
    // the NULL-on-mismatch contract
    val elem = Gen.choose(-200000000L, 200000000L)
    val arrGen = for {
      n <- Gen.choose(0, 65); xs <- Gen.listOfN(n, elem)
    } yield xs
    val pairGen = for {
      a <- arrGen
      sameLen <- Gen.oneOf(true, true, false)
      b <- if (sameLen) Gen.listOfN(a.length, elem) else arrGen
    } yield (a, b)
    var same = 0; var diff = 0
    samples(pairGen, 300).foreach { case (a, b) =>
      val got = functions.IntL2(
        Literal.create(a, ArrayType(LongType, false)),
        Literal.create(b, ArrayType(LongType, false))).eval()
      val want: Any =
        if (a.length != b.length) { diff += 1; null }
        else { same += 1
          a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum }
      assert(got === want, s"${a.take(3)}.. vs ${b.take(3)}..")
    }
    assert(same > 100 && diff > 20,
      s"generator lost its balance: $same same-length, $diff mismatched")
  }

  test("∀ string: simhash_fps word 0 == simhash_fp at every width (JVM-only)") {
    import org.apache.spark.unsafe.types.UTF8String
    val strGen = for {
      n <- Gen.choose(0, 40)
      cs <- Gen.listOfN(n, Gen.oneOf(('a' to 'f').toSeq :+ ' '))
    } yield cs.mkString
    samples(strGen, 300).foreach { s =>
      val u = UTF8String.fromString(s)
      val narrow = functions.SimHashFp.compute(u, 60)
      for (nw <- Seq(1, 2, 4)) {
        val wide = functions.SimHashFps.compute(u, 60, nw)
        assert(wide.numElements() === nw, s"'$s' nw=$nw")
        assert(wide.getLong(0) === narrow,
          s"'$s' nw=$nw: word 0 diverged from simhash_fp")
        // every word is a 60-bit value
        (0 until nw).foreach { w =>
          assert((wide.getLong(w) >>> 60) === 0L, s"'$s' word $w overflows")
        }
      }
      // words 0/1 of the 4-word fingerprint equal the 2-word one —
      // widening only APPENDS words, never rewrites existing ones
      val two = functions.SimHashFps.compute(u, 60, 2)
      val four = functions.SimHashFps.compute(u, 60, 4)
      assert(two.getLong(0) === four.getLong(0) &&
             two.getLong(1) === four.getLong(1), s"'$s' widening rewrote words")
    }
  }

  test("∀ weighted stream + merge tree: Misra-Gries containment holds (JVM-only)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val k = 8
    val agg = functions.FreqItemsAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true),
      k,
      Some(org.apache.spark.sql.catalyst.expressions.BoundReference(
        1, org.apache.spark.sql.types.LongType, nullable = true)))
    val streamGen = for {
      n <- Gen.choose(1, 60)
      items <- Gen.listOfN(n, for {
        id <- Gen.choose(0, 14)
        w <- Gen.choose(1L, 9L)
      } yield (s"w$id", w))
    } yield items
    samples(streamGen, 120).foreach { stream =>
      // random 3-way partition merged pairwise — an arbitrary merge tree
      val parts = stream.zipWithIndex.groupMap(_._2 % 3)(_._1)
      val bufs = (0 to 2).map { p =>
        val b = agg.createAggregationBuffer()
        parts.getOrElse(p, Nil).foreach { case (item, w) =>
          agg.update(b, InternalRow(UTF8String.fromString(item),
                                    java.lang.Long.valueOf(w)))
        }
        b
      }
      val merged = agg.merge(agg.merge(bufs(0), bufs(1)), bufs(2))
      val total = stream.map(_._2).sum
      val exact = stream.groupMapReduce(_._1)(_._2)(_ + _)
      exact.foreach { case (item, cnt) =>
        if (cnt * (k + 1) > total)
          assert(merged.containsKey(item),
            s"heavy '$item' (cnt $cnt of $total) missing from the sketch")
      }
    }
  }

  test("∀ id: PCM roundtrip recovers every sample exactly (JVM-only)") {
    import graft.datapipe.Multimodal.PcmCodec._
    samples(Gen.choose(0L, 1000000L), 50).foreach { id =>
      val decoded = decode(synthPcm(id))
      assert(decoded.length === nSamples(id))
      decoded.zipWithIndex.foreach { case (v, i) =>
        assert(v === sample(id, i), s"id $id sample $i")
      }
    }
  }

  test("∀ (rows, partitioning): distributed prefix sum == sequential fold") {
    // the invariant behind t17/t19/q79/t20: any row multiset, any
    // partition count — RunningTotal and the rule-rewritten window both
    // equal the driver-side fold over the sorted rows
    import org.apache.spark.sql.expressions.Window
    GraftExtensions.register(spark)
    val rowsGen = for {
      n <- Gen.choose(1, 300)
      ks <- Gen.pick(n, 0 until 1000)
      vs <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    } yield ks.map(_.toLong).zip(vs)
    val w = Window.orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    samples(Gen.zip(rowsGen, Gen.choose(1, 9)), 5).foreach {
      case (rows, nParts) =>
        val sorted = rows.sortBy(_._1)
        var acc = 0L
        val want = sorted.map { case (k, v) => acc += v; (k, acc) }
        val df = rows.toSeq.toDF("k", "v").repartition(nParts)
        val viaHelper = graft.operators.RunningTotal
          .inclusivePrefixSum(df, "k", "v", nParts)
          .select($"k", $"cum_end").as[(Long, Long)].collect()
          .sortBy(_._1).toSeq
        assert(viaHelper === want, s"helper diverged at nParts=$nParts")
        val viaRule = df.withColumn("cum", sum($"v").over(w))
          .select($"k", $"cum").as[(Long, Long)].collect()
          .sortBy(_._1).toSeq
        assert(viaRule === want, s"rule path diverged at nParts=$nParts")
    }
  }

  test("∀ random graphs: star-CC labels equal reference union-find components") {
    // the large-star/small-star loop against an in-driver union-find
    // oracle on arbitrary random graphs — chains, cliques, forests,
    // self-loops, duplicate and both-orientation edges all fall out of
    // the generator. Pins the round-11 algorithm swap beyond the
    // planted-dup fixtures: ANY wrong merge/split on ANY topology
    // fails here with the seed that produced it.
    val graphGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(2, 28)            // node universe 0..n-1
      m <- Gen.choose(0, 40)            // edge count (dups allowed)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L)
        b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield es
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) if a != b =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      case _ => ()
      }
      // min-label per component, restricted to non-self-loop endpoints —
      // find() path-compresses to the root, and unions always hang the
      // larger root under the smaller, so the root IS the component
      // minimum
      edges.iterator.filter(e => e._1 != e._2)
        .flatMap(e => Iterator(e._1, e._2))
        .map(x => x -> find(x)).toMap
    }
    samples(graphGen, 6).zipWithIndex.foreach { case (edges, i) =>
      val want = unionFind(edges)
      val df = edges.toDF("d1", "d2")
      // the roster includes self-loop-only nodes the oracle map omits —
      // they are singleton components labeled by themselves
      val got = datapipe.Dedup.connectedComponents(df, 12)
        .as[(Long, Long)].collect().toMap
      val wantFull = edges.flatMap(e => Seq(e._1, e._2))
        .map(k => k -> want.getOrElse(k, k)).toMap
      assert(got === wantFull, s"sample $i diverged (${edges.size} edges)")
      // the hub-split skew path must be label-identical on the SAME
      // random graph (hubDegree 1 switches on any node of degree >= 2
      // and splits degree-1 nodes from the broadcast hubs)
      val gotSplit = datapipe.Dedup.connectedComponents(df, 12, 1L)
        .as[(Long, Long)].collect().toMap
      assert(gotSplit === wantFull,
        s"sample $i: hub-split labels diverge from union-find")
    }
  }

  test("∀ (n, k): ntileFromRank tiles exactly like SQL NTILE") {
    // SQL NTILE(k) over n ranked rows is fully characterized by two
    // facts: bucket ids are non-decreasing in rank (contiguity), and
    // the first n % k buckets hold ceil(n/k) rows, the rest floor(n/k).
    // Asserting both against ranks 0..n-1 pins the arithmetic without
    // re-deriving the production formula (which would be circular).
    import graft.operators.DistributedRank.ntileFromRank
    val ns = samples(Gen.choose(1, 400), 24)
    val ks = samples(Gen.choose(1, 12), 24)
    // pin the n < k edge explicitly (floor bucket size 0 — the first
    // n % k buckets absorb every rank and the zero-size branch must
    // never evaluate): random sampling can miss it
    val cases = ns.zip(ks) ++ Seq((3, 7), (1, 12), (12, 12))
    cases.foreach { case (nI, k) =>
      val n = nI.toLong
      val rows = (0L until n).toDF("r")
        .withColumn("b", ntileFromRank(k, $"r", lit(n)))
        .orderBy($"r").as[(Long, Int)].collect()
      assert(rows.map(_._2).sameElements(rows.map(_._2).sorted),
        s"n=$n k=$k: bucket ids not contiguous in rank order")
      val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
      val small = n / k; val rem = (n % k).toInt
      (1 to k).foreach { b =>
        val want = if (b <= rem) small + 1 else small
        assert(sizes.getOrElse(b, 0).toLong === want,
          s"n=$n k=$k bucket $b size ${sizes.getOrElse(b, 0)} want $want")
      }
      assert(sizes.keySet.forall(b => b >= 1 && b <= k))
    }
  }
}
