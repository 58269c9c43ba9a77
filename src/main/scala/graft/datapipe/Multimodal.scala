package graft.datapipe

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads with typed metadata,
  * batch-shaped decode / feature-extract / frame-sample operators.
  *
  * Two decode paths prove the plumbing at different depths:
  *  - m01 ([[StubDecoder]]): byte-level features over arbitrary payloads —
  *    the shape a swapped-in audio/video codec would take.
  *  - m02 ([[ImageCodec]]): a REAL image codec — `javax.imageio` PNG
  *    encode/decode (in the JDK, no external deps) over deterministic
  *    synthetic images, with a nearest-neighbor resize on the decoded
  *    pixels and a second encode→decode round trip. The DuckDB oracle
  *    recomputes every feature from the pixel formula, so a codec bug
  *    anywhere in the chain fails the hash gate.
  *
  * Everything Spark-side is shared and real: the schema (binary payload +
  * typed metadata), the mapPartitions batching (the Scala analog of
  * `mapInPandas` — one decoder instance per partition, streamed row
  * batches, no per-row init), and the partitioning contract (payloads stay
  * columnar-compressed in Parquet; feature extraction is map-only so
  * 100 TB of assets never shuffles — only extracted features, ~1e3x
  * smaller, move).
  */
object Multimodal {

  /** A multimodal asset row: payload is opaque bytes + typed metadata. */
  final case class Asset(asset_id: Long, payload: Array[Byte], mime: String,
                         lang: String, n_chars: Long)

  /** Extracted features (what a real image/audio model would emit). */
  final case class AssetFeatures(asset_id: Long, n_bytes: Int, mime: String,
                                 fake_class: Int, sample_offsets: Seq[Long])

  /** STUB — stands in for an image/audio decoder (libs absent in this
    * container). Deterministic: class = first-8-bytes sum mod 256;
    * "frame sample" = 5 evenly spaced byte offsets. A real deployment
    * swaps `decode` for e.g. JPEG decode + model inference; the
    * mapPartitions harness around it is unchanged.
    */
  object StubDecoder {
    def decode(a: Asset): AssetFeatures = {
      val head = a.payload.take(8).map(_ & 0xff).sum % 256
      val n = a.payload.length
      val step = math.max(n / 5, 1)
      AssetFeatures(a.asset_id, n, a.mime, head,
        (0 until 5).map(i => math.min(i.toLong * step, math.max(n - 1, 0))))
    }
  }

  /** The real plumbing: batch decode via mapPartitions — decoder init once
    * per partition (like a model load), rows streamed through it.
    */
  def extractFeatures(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition init would go here (decoder/model handle)
      it.map(StubDecoder.decode)
    }
  }

  /** STUB resize: binary -> binary map with a deterministic stride sample
    * (a real deployment swaps in an image scaler). Demonstrates the
    * payload-transform plumbing: map-only, binary in/out, metadata
    * updated — 100 TB of assets re-encode without any shuffle.
    */
  def resize(assets: Dataset[Asset], factor: Int): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    require(factor >= 1)
    assets.mapPartitions(_.map { a =>
      val resized = a.payload.grouped(factor).map(_.head).toArray
      a.copy(payload = resized, mime = a.mime + s";resized=1/$factor",
             n_chars = resized.length.toLong)
    })
  }

  /** A decoded-image feature row ([[ImageCodec]] path): original dims +
    * gray-sum, then the same after a real NN half-resize and a second
    * PNG round trip.
    */
  final case class ImageFeatures(asset_id: Long, width: Int, height: Int,
                                 px_sum: Long, r_width: Int, r_height: Int,
                                 r_sum: Long)

  /** REAL image codec on the JDK's `javax.imageio` (PNG is lossless, so
    * the pixel formula survives encode→decode bit-exactly). Deterministic
    * synthetic images: gray(x, y) = (7x + 13y + id) mod 256, dims derived
    * from the id — every feature is integer arithmetic the oracle can
    * recompute in SQL.
    */
  object ImageCodec {
    import java.awt.image.BufferedImage

    // ImageIO defaults to a DISK-backed stream cache (a temp file per
    // encode/decode) — in-memory streams are ~5x faster for these small
    // payloads and need no scratch dir on executors. Once per JVM.
    private lazy val noDiskCache: Unit = javax.imageio.ImageIO.setUseCache(false)

    def pixel(id: Long, x: Int, y: Int): Int =
      ((x * 7L + y * 13L + id) % 256L).toInt

    def dims(id: Long): (Int, Int) =
      ((4 + id % 5).toInt, (3 + id % 4).toInt)

    def encodePng(img: BufferedImage): Array[Byte] = {
      noDiskCache
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Synthesize + PNG-encode the image for an asset id. */
    def synthPng(id: Long): Array[Byte] = {
      val (w, h) = dims(id)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = pixel(id, x, y)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }

    def decode(bytes: Array[Byte]): BufferedImage = {
      noDiskCache
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    }

    /** Nearest-neighbor half-resize on REAL decoded pixels: out(x, y) =
      * in(2x, 2y), out dims = ceil(in/2) — deterministic integer
      * sampling (AWT's filtered scalers are platform-dependent; NN is
      * reproducible everywhere, and the oracle mirrors it as the
      * even-coordinate pixel subset).
      */
    def halveNN(img: BufferedImage): BufferedImage = {
      val w = (img.getWidth + 1) / 2
      val h = (img.getHeight + 1) / 2
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out.setRGB(x, y, img.getRGB(2 * x, 2 * y))
          x += 1
        }
        y += 1
      }
      out
    }

    /** 90°-CW rotation on REAL decoded pixels: out(nx, ny) =
      * in(ny, H−1−nx), out dims (H, W) — the orientation-normalization
      * step image curation runs before training (portrait scans and
      * camera EXIF orientations must land upright, or the model learns
      * sideways text). Pure pixel permutation: the gray MASS is
      * invariant, the POSITIONS all change — which is exactly the
      * split the m15 report pins.
      */
    def rotate90(img: BufferedImage): BufferedImage = {
      val w = img.getWidth; val h = img.getHeight
      val out = new BufferedImage(h, w, BufferedImage.TYPE_INT_RGB)
      var ny = 0
      while (ny < w) {
        var nx = 0
        while (nx < h) {
          out.setRGB(nx, ny, img.getRGB(ny, h - 1 - nx))
          nx += 1
        }
        ny += 1
      }
      out
    }

    /** Position-weighted gray checksum: Σ v(x,y) · ((x+1) + 257·(y+1)).
      * Two images with equal mass but permuted pixels get different
      * checksums — the anti-aliasing pin for geometric ops.
      */
    def posChk(img: BufferedImage): Long = {
      var s = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          s += (img.getRGB(x, y) & 0xff).toLong * ((x + 1) + 257L * (y + 1))
          x += 1
        }
        y += 1
      }
      s
    }

    /** Histogram equalization on REAL decoded pixels — the contrast
      * normalization image curation runs so the model sees content,
      * not exposure (washed-out scans and underexposed photos land on
      * the same tonal scale). The classic integer transfer function:
      * vnew = (cdf(v) − cdfmin) · 255 / (n − cdfmin), floor division,
      * where cdfmin is the cumulative count at the darkest PRESENT
      * value — so the darkest present value maps to exactly 0 and the
      * brightest to exactly 255. A constant image (n == cdfmin) maps
      * to 0 by convention. Pure integer on both engines.
      */
    def equalize(img: BufferedImage): BufferedImage = {
      val w = img.getWidth; val h = img.getHeight
      val n = w * h
      val hist = new Array[Int](256)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { hist(img.getRGB(x, y) & 0xff) += 1; x += 1 }
        y += 1
      }
      val cdf = new Array[Int](256)
      var acc = 0; var v = 0
      while (v < 256) { acc += hist(v); cdf(v) = acc; v += 1 }
      var cdfMin = 0; v = 0
      while (v < 256 && cdfMin == 0) {
        if (hist(v) > 0) cdfMin = cdf(v); v += 1
      }
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y) & 0xff
          val q = if (n == cdfMin) 0
                  else ((cdf(p) - cdfMin).toLong * 255 / (n - cdfMin)).toInt
          out.setRGB(x, y, (q << 16) | (q << 8) | q)
          x += 1
        }
        y += 1
      }
      out
    }

    /** Sum of the gray channel over all pixels. */
    def graySum(img: BufferedImage): Long = {
      var s = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          s += (img.getRGB(x, y) & 0xff)
          x += 1
        }
        y += 1
      }
      s
    }

    /** m11 pyramid-fixture dims — larger than [[dims]] so two box-
      * downsample levels stay non-trivial (L0 16..22 × 12..16,
      * L1 8..11 × 6..8, L2 4..5 × 3..4). */
    def pyrDims(id: Long): (Int, Int) =
      ((16 + id % 7).toInt, (12 + id % 5).toInt)

    /** Synthesize + PNG-encode the pyramid fixture image (same pixel
      * formula as [[synthPng]], [[pyrDims]] geometry). */
    def synthPyrPng(id: Long): Array[Byte] = {
      val (w, h) = pyrDims(id)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = pixel(id, x, y)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }

    /** 2×2 box-filter downsample on REAL decoded pixels: out(x, y) =
      * floor-average of the 2×2 input block, out dims = floor(in/2) —
      * an odd trailing row/column is cropped so every output pixel
      * averages a FULL block and the integer semantics stay exact for
      * the oracle. Unlike [[halveNN]] (point sampling) this is the
      * anti-aliased resize a training-data pipeline actually ships.
      */
    def boxHalve(img: BufferedImage): BufferedImage = {
      val w = img.getWidth / 2
      val h = img.getHeight / 2
      require(w > 0 && h > 0, s"boxHalve below 2x2: ${img.getWidth}x${img.getHeight}")
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = ((img.getRGB(2 * x, 2 * y) & 0xff) +
                   (img.getRGB(2 * x + 1, 2 * y) & 0xff) +
                   (img.getRGB(2 * x, 2 * y + 1) & 0xff) +
                   (img.getRGB(2 * x + 1, 2 * y + 1) & 0xff)) / 4
          out.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      out
    }

    /** Planted-border geometry for an asset id (letterbox fixture):
      * content cw×ch framed by black margins of per-side thickness
      * derived from the id — every combination of zero and non-zero
      * sides occurs across a corpus. */
    def borderGeom(id: Long): (Int, Int, Int, Int, Int, Int) =
      ((id % 3).toInt, ((id + 1) % 3).toInt,         // top, bottom
       (id % 2).toInt, ((id + 1) % 2).toInt,         // left, right
       (6 + id % 5).toInt, (5 + id % 4).toInt)       // content w, h

    /** Content pixel (content-relative coords) — range [1, 199], so no
      * content row or column can ever read as border-black (0). */
    def contentPixel(id: Long, x: Int, y: Int): Int =
      (1 + (x * 7L + y * 13L + id) % 199L).toInt

    /** Synthesize + PNG-encode the letterboxed image for an asset id. */
    def synthBorderedPng(id: Long): Array[Byte] = {
      val (bt, bb, bl, br, cw, ch) = borderGeom(id)
      val w = bl + cw + br
      val h = bt + ch + bb
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v =
            if (y < bt || y >= bt + ch || x < bl || x >= bl + cw) 0
            else contentPixel(id, x - bl, y - bt)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }

    /** Detect the constant-black margins of a decoded image by scanning
      * full rows/columns inward from each edge, then report the content
      * box and its gray sum. O(W·H), single pass per edge; guards stop
      * a pathological all-black frame from double-counting. */
    def borderFeatures(id: Long, payload: Array[Byte]): BorderFeatures = {
      val img = decode(payload)
      val w = img.getWidth; val h = img.getHeight
      def rowBlack(y: Int): Boolean = {
        var x = 0
        while (x < w) { if ((img.getRGB(x, y) & 0xff) != 0) return false; x += 1 }
        true
      }
      def colBlack(x: Int): Boolean = {
        var y = 0
        while (y < h) { if ((img.getRGB(x, y) & 0xff) != 0) return false; y += 1 }
        true
      }
      var top = 0
      while (top < h && rowBlack(top)) top += 1
      var bottom = 0
      while (bottom < h - top && rowBlack(h - 1 - bottom)) bottom += 1
      var left = 0
      while (left < w && colBlack(left)) left += 1
      var right = 0
      while (right < w - left && colBlack(w - 1 - right)) right += 1
      val cw = w - left - right
      val ch = h - top - bottom
      var s = 0L
      var y = top
      while (y < top + ch) {
        var x = left
        while (x < left + cw) { s += (img.getRGB(x, y) & 0xff); x += 1 }
        y += 1
      }
      BorderFeatures(id, w, h, top, bottom, left, right, cw, ch,
        w.toLong * h - cw.toLong * ch, s)
    }
  }

  /** m10's report row: detected margins + content box of one image. */
  final case class BorderFeatures(asset_id: Long, width: Int, height: Int,
      top: Int, bottom: Int, left: Int, right: Int, content_w: Int,
      content_h: Int, border_px: Long, content_sum: Long)

  /** m13: from-scratch PNG CHUNK layer — the container-metadata step of
    * image curation (EXIF/XMP handling: read provenance tags, verify
    * integrity) done at the byte level, not through a decoder. PNG's
    * public layout: 8-byte signature, then chunks of
    * (4-byte big-endian length, 4-byte type, data, 4-byte CRC32 over
    * type+data). [[withTextChunk]] splices a `tEXt` (keyword\0value)
    * chunk directly after IHDR with a correctly computed CRC;
    * [[walk]] re-parses the REAL ImageIO-encoded bytes chunk by chunk,
    * re-verifying every CRC and reading width/height straight from
    * IHDR's data bytes — so the spec's corruption test (flip one byte
    * anywhere) must flip `crc_all_ok`.
    */
  object PngChunks {
    private def readInt(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

    def withTextChunk(png: Array[Byte], keyword: String,
                      value: String): Array[Byte] = {
      val data = keyword.getBytes("ISO-8859-1") ++ Array(0.toByte) ++
        value.getBytes("ISO-8859-1")
      val typ = "tEXt".getBytes("ISO-8859-1")
      val crc = new java.util.zip.CRC32()
      crc.update(typ); crc.update(data)
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(typ).put(data).putInt(crc.getValue.toInt)
      val ihdrLen = readInt(png, 8)
      val at = 8 + 12 + ihdrLen // end of IHDR chunk
      png.take(at) ++ bb.array() ++ png.drop(at)
    }

    final case class PngMeta(asset_id: Long, width: Int, height: Int,
        source_tag: String, n_text: Int, crc_all_ok: Boolean)

    def walk(id: Long, png: Array[Byte]): PngMeta = {
      var off = 8; var w = 0; var h = 0; var nText = 0
      var ok = true; var tag = ""
      while (off + 12 <= png.length) {
        val len = readInt(png, off)
        val typ = new String(png, off + 4, 4, "ISO-8859-1")
        val crc = new java.util.zip.CRC32()
        crc.update(png, off + 4, 4 + len)
        ok &= crc.getValue.toInt == readInt(png, off + 8 + len)
        if (typ == "IHDR") { w = readInt(png, off + 8); h = readInt(png, off + 12) }
        if (typ == "tEXt") {
          nText += 1
          val data = png.slice(off + 8, off + 8 + len)
          val z = data.indexOf(0.toByte)
          tag = new String(data.drop(z + 1), "ISO-8859-1")
        }
        off += 12 + len
      }
      PngMeta(id, w, h, tag, nText, ok)
    }

    /** m21: rewrite the container DROPPING every ancillary chunk — the
      * PNG spec marks ancillary-vs-critical in bit 5 of the type's
      * first byte (lowercase first letter = ancillary, droppable by
      * editors), so the strip needs no chunk-name whitelist and
      * critical chunks (IHDR/PLTE/IDAT/IEND) pass through
      * byte-identical — CRCs included, which is why the stripped
      * container still walks crc_all_ok and decodes to the same
      * pixels. Returns (rewritten bytes, chunks dropped). */
    def stripAncillary(png: Array[Byte]): (Array[Byte], Int) = {
      val out = new java.io.ByteArrayOutputStream(png.length)
      out.write(png, 0, 8)
      var off = 8; var dropped = 0
      while (off + 12 <= png.length) {
        val len = readInt(png, off)
        if ((png(off + 4) & 0x20) == 0) out.write(png, off, 12 + len)
        else dropped += 1
        off += 12 + len
      }
      (out.toByteArray, dropped)
    }
  }

  /** m21's per-asset scrub report: counts before/after plus the
    * decoded-pixel mass of the REWRITTEN container (a strip that
    * touched a critical byte fails the sum, not just the CRC). */
  final case class ScrubReport(asset_id: Long, width: Int, height: Int,
      n_text_before: Int, n_dropped: Int, n_text_after: Int,
      tag_after: String, crc_ok_after: Boolean, gray_sum: Long)

  /** m11's report row: dims + gray sum at each pyramid level. */
  final case class PyramidFeatures(asset_id: Long,
      width0: Int, height0: Int, sum0: Long,
      width1: Int, height1: Int, sum1: Long,
      width2: Int, height2: Int, sum2: Long)

  /** Decoded-waveform feature row ([[PcmCodec]] path): all-integer
    * features so the oracle is exact.
    */
  final case class AudioFeatures(asset_id: Long, n_samples: Int, peak: Int,
                                 zero_crossings: Int, energy: Long)

  /** m09's per-track VAD report: window/segment counts all integer,
    * first_active = −1 when the track is all silence. */
  final case class AudioVad(asset_id: Long, n_samples: Int, n_windows: Int,
                            n_active: Int, n_segments: Int, longest_run: Int,
                            first_active: Int)

  /** REAL audio-payload decode: 16-bit little-endian PCM in a binary
    * column, decoded on the executors via ByteBuffer — the wire format of
    * WAV data chunks. Samples are deterministic integers
    * (v_i = (7·id + 13·i) mod 201 − 100), so every feature is integer
    * arithmetic the oracle recomputes exactly.
    */
  object PcmCodec {
    def nSamples(id: Long): Int = (64 + (id % 5) * 16).toInt

    def sample(id: Long, i: Int): Int =
      (((id * 7L + i * 13L) % 201L) - 100L).toInt

    /** Synthesize the 16-bit LE PCM payload for an asset id. */
    def synthPcm(id: Long): Array[Byte] = {
      val n = nSamples(id)
      val bb = java.nio.ByteBuffer.allocate(2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) { bb.putShort(sample(id, i).toShort); i += 1 }
      bb.array()
    }

    def decode(payload: Array[Byte]): Array[Int] = {
      val sb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
      Array.tabulate(sb.limit())(sb.get(_).toInt)
    }

    /** 2:1 decimation on REAL decoded samples: out(i) = floor-average of
      * the adjacent input pair via arithmetic shift ((a+b) >> 1 floors
      * for ANY sign — plain /2 truncates toward zero on negatives and
      * would diverge from the oracle's floor()). Corpus sample counts
      * are even, so pairs partition exactly. The m11 box filter's audio
      * sibling: the anti-aliased sample-rate halving a speech pipeline
      * runs before feature extraction.
      */
    def decimate2(v: Array[Int]): Array[Int] = {
      val out = new Array[Int](v.length / 2)
      var i = 0
      while (i < out.length) { out(i) = (v(2 * i) + v(2 * i + 1)) >> 1; i += 1 }
      out
    }

    // ----- m23: interleaved-stereo corpus + downmix kernel -----

    /** m23's right channel, formula-stated so the oracle can recompute:
      * id ≡ 0 (mod 7) → DEAD right (a mono source through a stereo rig
      * with one bad cable); else id ≡ 0 (mod 11) → PHASE-INVERTED
      * right (R = −L — the miswired-XLR bug that CANCELS under
      * downmix); else an independent channel. Precedence order matters
      * (id ≡ 0 mod 77 is dead, not inverted) — the oracle's CASE
      * states the same order. */
    def rSample(id: Long, i: Int): Int =
      if (id % 7 == 0) 0
      else if (id % 11 == 0) -sample(id, i)
      else (((id * 11L + i * 17L) % 201L) - 100L).toInt

    /** Interleaved L/R 16-bit LE frames — the WAV stereo wire layout. */
    def synthStereoPcm(id: Long): Array[Byte] = {
      val n = nSamples(id)
      val bb = java.nio.ByteBuffer.allocate(4 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        bb.putShort(sample(id, i).toShort)
        bb.putShort(rSample(id, i).toShort)
        i += 1
      }
      bb.array()
    }

    /** De-interleave + floor-average downmix ((l+r) >> 1 — decimate2's
      * sign lesson: plain /2 truncates toward zero on negatives and
      * diverges from the oracle's floor). */
    def downmix(payload: Array[Byte])
        : (Array[Int], Array[Int], Array[Int]) = {
      val v = decode(payload)
      val n = v.length / 2
      val l = new Array[Int](n); val r = new Array[Int](n)
      val m = new Array[Int](n)
      var i = 0
      while (i < n) {
        l(i) = v(2 * i); r(i) = v(2 * i + 1)
        m(i) = (l(i) + r(i)) >> 1
        i += 1
      }
      (l, r, m)
    }

    def features(id: Long, payload: Array[Byte]): AudioFeatures = {
      val v = decode(payload)
      var peak = 0; var zc = 0; var energy = 0L
      var i = 0
      while (i < v.length) {
        val a = math.abs(v(i))
        if (a > peak) peak = a
        if (i > 0 && v(i - 1) * v(i) < 0) zc += 1
        energy += v(i).toLong * v(i)
        i += 1
      }
      AudioFeatures(id, v.length, peak, zc, energy)
    }

    // ----- m09: speech/silence-structured corpus + VAD kernel -----

    /** m09's VAD geometry: 16-sample energy windows, active when
      * Σ|v| > 128 (mean amplitude > 8 — far above the planted silence
      * segments' |v| ≤ 2 ceiling of 32, far below any speech window's
      * ≥ ~600, so the test is margin-robust AND exactly reproducible:
      * the oracle recomputes the same integer sums). */
    val VadWin = 16
    val VadThresh = 128L

    /** Speech/silence-structured PCM ([[synthVideoScenes]]'s audio
      * sibling): 32-sample segments, segment s of track id is SILENCE
      * when (id + s) mod 3 = 0 (v = (7id+13i) mod 5 − 2) and speech
      * otherwise (the standard loud formula). n = 128 + (id mod 4)·32
      * samples → 4–7 segments, every boundary known in closed form.
      */
    def synthPcmSpeech(id: Long): Array[Byte] = {
      val n = 128 + (id % 4).toInt * 32
      val bb = java.nio.ByteBuffer.allocate(2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        val seg = i / 32
        val v =
          if ((id + seg) % 3 == 0) ((id * 7L + i * 13L) % 5L - 2L).toInt
          else ((id * 7L + i * 13L) % 201L - 100L).toInt
        bb.putShort(v.toShort)
        i += 1
      }
      bb.array()
    }

    /** Voice-activity segmentation over REAL decoded PCM: one O(n) pass
      * holding only the current window's accumulator — per track the
      * output is 7 small integers regardless of duration. Speech
      * segments are RUNS of consecutive active windows (count, longest,
      * first onset) — the clip-boundary report an audio-curation run
      * samples training utterances from.
      */
    def vadSegments(id: Long, payload: Array[Byte]): AudioVad = {
      val v = decode(payload)
      val nw = v.length / VadWin
      var w = 0; var nActive = 0; var nSeg = 0; var longest = 0
      var run = 0; var first = -1
      while (w < nw) {
        var e = 0L
        var i = w * VadWin
        val end = i + VadWin
        while (i < end) { e += math.abs(v(i)); i += 1 }
        if (e > VadThresh) {
          nActive += 1; run += 1
          if (first < 0) first = w
          if (run == 1) nSeg += 1
          if (run > longest) longest = run
        } else run = 0
        w += 1
      }
      AudioVad(id, v.length, nw, nActive, nSeg, longest, first)
    }
  }

  /** RIFF/WAVE container codec + byte-level walker — the audio member
    * of the container-audit trio (m13 PNG chunks, m19 GIF blocks, m20
    * RIFF chunks): the planted PCM wrapped in a genuine canonical WAV
    * (RIFF header, 16-byte PCM fmt chunk, a provenance chunk whose
    * odd-length data exercises the RIFF word-alignment pad rule, data
    * chunk), then re-parsed chunk by chunk. An audio pipeline's rate /
    * duration / provenance audit reads exactly these fields, and must
    * read them WITHOUT decoding — the m13/m19 discipline.
    */
  object WavCodec {
    /** Planted per-track sample rate: 8000/16000/24000 cycling. */
    def sampleRate(id: Long): Int = (8000L * (1 + id % 3)).toInt

    def synthWav(id: Long): Array[Byte] = {
      val pcm = PcmCodec.synthPcm(id)
      val rate = sampleRate(id)
      val tag = s"src${id % 20}".getBytes("US-ASCII")
      val provPad = tag.length % 2
      val bodyLen = 4 + (8 + 16) + (8 + tag.length + provPad) +
        (8 + pcm.length)
      val bb = java.nio.ByteBuffer.allocate(8 + bodyLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(bodyLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(1) // PCM, mono
      bb.putInt(rate); bb.putInt(rate * 2) // byte rate = rate * 2
      bb.putShort(2); bb.putShort(16) // block align, bits
      bb.put("prov".getBytes("US-ASCII")); bb.putInt(tag.length); bb.put(tag)
      if (provPad == 1) bb.put(0.toByte)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(pcm.length); bb.put(pcm)
      bb.array()
    }

    final case class WavMeta(asset_id: Long, sample_rate: Int,
      byte_rate: Int, block_align: Int, bits: Int, n_samples: Int,
      duration_us: Long, source_tag: String, sum_abs: Long,
      riff_ok: Boolean)

    def walk(id: Long, b: Array[Byte]): WavMeta = {
      def s4(i: Int) = new String(b, i, 4, "US-ASCII")
      def u32(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
      def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      require(s4(0) == "RIFF" && s4(8) == "WAVE", "not RIFF/WAVE")
      val riffLen = u32(4)
      var p = 12
      var rate = 0; var byteRate = 0; var blockAlign = 0; var bits = 0
      var tag = ""; var nSamples = 0; var sumAbs = 0L
      while (p + 8 <= b.length) {
        val cid = s4(p); val len = u32(p + 4); p += 8
        cid match {
          case "fmt " =>
            require(u16(p) == 1 && u16(p + 2) == 1, "not mono PCM")
            rate = u32(p + 4); byteRate = u32(p + 8)
            blockAlign = u16(p + 12); bits = u16(p + 14)
          case "prov" => tag = new String(b, p, len, "US-ASCII")
          case "data" =>
            val v = PcmCodec.decode(java.util.Arrays.copyOfRange(b, p, p + len))
            nSamples = v.length
            var i = 0
            while (i < v.length) { sumAbs += math.abs(v(i)); i += 1 }
          case _ => ()
        }
        p += len + (len % 2) // RIFF chunks are word-aligned
      }
      val ok = riffLen == b.length - 8 && p == b.length && rate > 0
      WavMeta(id, rate, byteRate, blockAlign, bits, nSamples,
        nSamples.toLong * 1000000L / rate, tag, sumAbs, ok)
    }
  }

  /** Per-video features: evenly spaced frame sample (the clip-preview /
    * model-input selection step) + a frame-difference motion metric.
    */
  final case class VideoFeatures(asset_id: Long, n_frames: Int, width: Int,
                                 height: Int, f0_sum: Long, f1_sum: Long,
                                 f2_sum: Long, f3_sum: Long, motion: Long)

  /** m08's per-video scene report: cut count, first cut frame (-1 when
    * none), and the total inter-frame pixel delta (a motion budget).
    */
  final case class VideoScenes(asset_id: Long, n_frames: Int, n_cuts: Long,
                               first_cut: Long, total_delta: Long)

  /** Raw-video codec over a header-free grayscale layout: payload =
    * n_frames consecutive W×H row-major frames, one byte per pixel —
    * the in-memory shape a real decoder (ffmpeg et al., absent in this
    * container) emits. The pixel generator is deterministic so the
    * oracle recomputes every frame sum and the motion metric from the
    * formula; the decode/sample/feature plumbing is the real thing.
    */
  object VideoCodec {
    val W = 8; val H = 6

    def nFrames(id: Long): Int = (16 + id % 9).toInt

    // same executor-friendly in-memory streams as ImageCodec (ImageIO
    // defaults to a DISK-backed cache — a temp file per encode/decode)
    private lazy val noDiskCache: Unit = javax.imageio.ImageIO.setUseCache(false)

    // identity gray palette: indexed pixel bytes ARE the gray values, so
    // the GIF container round-trips the formula pixels exactly
    private lazy val grayPalette = {
      val r = Array.tabulate(256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, r, r, r)
    }

    /** pixel(x, y, f) = (7x + 13y + 31f + id) mod 256, packaged as a REAL
      * animated GIF89a (javax.imageio writeToSequence) — a genuine
      * multi-frame video container, not raw concatenated frames.
      */
    def synthVideo(id: Long): Array[Byte] = {
      noDiskCache
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      val n = nFrames(id)
      var f = 0
      while (f < n) {
        val img = new java.awt.image.BufferedImage(
          W, H, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        var y = 0
        while (y < H) {
          var x = 0
          while (x < W) {
            img.getRaster.setSample(x, y, 0,
              ((x * 7 + y * 13 + f * 31 + id) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      bos.toByteArray
    }

    /** Frame-sample through the REAL container decode: open the GIF,
      * count frames, read only the 4 evenly spaced sampled frames
      * (m01's offset rule on frame granularity — the decoder seeks, it
      * does not decode the whole clip), per-frame pixel sums, motion =
      * Σ |Δ frame sum|.
      */
    def features(id: Long, payload: Array[Byte]): VideoFeatures = {
      noDiskCache
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      val step = math.max(n / 4, 1)
      def frameSum(f: Int): Long = {
        val img = reader.read(f)
        var s = 0L; var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            s += img.getRaster.getSample(x, y, 0); x += 1
          }
          y += 1
        }
        s
      }
      val sums = (0 until 4).map(i => frameSum(math.min(i * step, n - 1)))
      reader.dispose(); iis.close()
      val motion = sums.sliding(2).map(p => math.abs(p(1) - p(0))).sum
      VideoFeatures(id, n, W, H, sums(0), sums(1), sums(2), sums(3), motion)
    }

    /** m08's scene-structured variant of [[synthVideo]]: pixel(x, y, f)
      * = (7x + 13y + 97·(f div 5) + id) mod 256 — constant within each
      * 5-frame shot (a static camera), jumping at shot boundaries. Same
      * real GIF89a container, same identity-palette exact round trip.
      */
    def synthVideoScenes(id: Long): Array[Byte] = {
      noDiskCache
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      val n = nFrames(id)
      var f = 0
      while (f < n) {
        val img = new java.awt.image.BufferedImage(
          W, H, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        var y = 0
        while (y < H) {
          var x = 0
          while (x < W) {
            img.getRaster.setSample(x, y, 0,
              ((x * 7 + y * 13 + (f / 5) * 97 + id) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      bos.toByteArray
    }

    /** Scene-cut detection through the real container decode: every
      * frame is decoded IN ORDER (shot detection's cost model — unlike
      * [[features]]' seek-and-sample, a cut can hide between any two
      * frames), per-transition sum of |Δ pixel| is compared against
      * mean-|Δ| > 8 (integer form: sum > 8·W·H — no division), and the
      * per-video report is (n_frames, n_cuts, first_cut, total_delta).
      * Only the previous frame's raster is retained — O(W·H) memory
      * regardless of clip length.
      */
    def sceneCuts(id: Long, payload: Array[Byte]): VideoScenes = {
      noDiskCache
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      def raster(f: Int): Array[Int] = {
        val img = reader.read(f)
        val out = new Array[Int](W * H)
        var y = 0
        while (y < H) {
          var x = 0
          while (x < W) { out(y * W + x) = img.getRaster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        out
      }
      var prev = raster(0)
      var cuts = 0L
      var firstCut = -1L
      var totalDelta = 0L
      var f = 1
      while (f < n) {
        val cur = raster(f)
        var d = 0L
        var i = 0
        while (i < W * H) { d += math.abs(cur(i) - prev(i)); i += 1 }
        totalDelta += d
        if (d > 8L * W * H) {
          cuts += 1
          if (firstCut < 0) firstCut = f
        }
        prev = cur
        f += 1
      }
      reader.dispose(); iis.close()
      VideoScenes(id, n, cuts, firstCut, totalDelta)
    }

    /** Planted per-frame display delay, in GIF centiseconds:
      * 2/4/6/8/10 cs cycling with (id + f) — variable frame timing,
      * which is what makes retiming a real problem. */
    def delayCs(id: Long, f: Int): Int = (((id + f) % 5 + 1) * 2).toInt

    /** [[synthVideo]] with REAL per-frame timing: each frame's Graphic
      * Control Extension carries [[delayCs]]. The timing is SPLICED at
      * the byte level over ImageIO's own container output (the
      * PngChunks.withTextChunk pattern): existing GCEs get their delay
      * field rewritten in place, frames ImageIO wrote without one get a
      * fresh 8-byte GCE block inserted before their image descriptor.
      * The first cut routed every frame through ImageIO's metadata-tree
      * API — DOM get/merge per frame made the encode ~8× the price of
      * the untimed [[synthVideo]] and the most expensive cell in the
      * whole suite; the splice pays one linear byte pass instead, and
      * the result is byte-for-byte a genuine timed GIF89a (the spec
      * re-decodes it through the real ImageIO reader). */
    def synthVideoTimed(id: Long): Array[Byte] = {
      val b = synthVideo(id)
      val out = new java.io.ByteArrayOutputStream(b.length + 8 * 24)
      def u8(i: Int): Int = b(i) & 0xff
      out.write(b, 0, 13)
      var p = 13
      val packed = u8(10)
      if ((packed & 0x80) != 0) {
        val gct = 3 * (1 << ((packed & 7) + 1))
        out.write(b, p, gct); p += gct
      }
      var frame = 0
      var pendingGce = false
      var done = false
      while (!done && p < b.length) {
        u8(p) match {
          case 0x3B => out.write(b, p, 1); p += 1; done = true
          case 0x21 if u8(p + 1) == 0xF9 =>
            // existing GCE: copy, rewriting the little-endian delay
            val bs = u8(p + 2)
            val d = delayCs(id, frame)
            out.write(b, p, 4) // 0x21 0xF9 size, then packed byte
            out.write(d & 0xff); out.write((d >> 8) & 0xff)
            var q = p + 6
            p += 3 + bs
            while (q < p) { out.write(b, q, 1); q += 1 } // transparent idx
            while (u8(p) != 0) { out.write(b, p, 1 + u8(p)); p += 1 + u8(p) }
            out.write(0); p += 1
            pendingGce = true
          case 0x21 =>
            val start = p
            p += 2
            while (u8(p) != 0) p += 1 + u8(p)
            p += 1
            out.write(b, start, p - start)
          case 0x2C =>
            if (!pendingGce) {
              val d = delayCs(id, frame)
              out.write(Array[Byte](0x21.toByte, 0xF9.toByte, 4, 0,
                (d & 0xff).toByte, ((d >> 8) & 0xff).toByte, 0, 0))
            }
            pendingGce = false
            frame += 1
            val start = p
            val ipacked = u8(p + 9)
            p += 10
            if ((ipacked & 0x80) != 0) p += 3 * (1 << ((ipacked & 7) + 1))
            p += 1
            while (u8(p) != 0) p += 1 + u8(p)
            p += 1
            out.write(b, start, p - start)
          case other =>
            throw new IllegalStateException(f"bad GIF block 0x$other%02x")
        }
      }
      out.toByteArray
    }
  }

  /** Byte-level GIF89a container walker — m13's sibling for the video
    * modality: frame count, dimensions, and per-frame timing read
    * straight from the container's block structure (header + logical
    * screen descriptor + Graphic Control Extensions + image
    * descriptors + trailer) WITHOUT invoking a decoder. A frame-rate /
    * duration audit at 100 TB must not pay LZW decode for numbers the
    * container already states. */
  object GifWalk {
    final case class GifMeta(asset_id: Long, width: Int, height: Int,
      n_frames: Int, n_gce: Int, delay_sum_cs: Long, delay_min_cs: Int,
      delay_max_cs: Int, delay_chk: Long, trailer_ok: Boolean)

    def walk(id: Long, b: Array[Byte]): GifMeta = {
      def u8(i: Int): Int = b(i) & 0xff
      def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      require(new String(b, 0, 6, "US-ASCII") == "GIF89a", "not GIF89a")
      val w = u16(6); val h = u16(8)
      val packed = u8(10)
      var p = 13
      if ((packed & 0x80) != 0) p += 3 * (1 << ((packed & 7) + 1))
      var frames = 0; var gces = 0
      var dSum = 0L; var dMin = Int.MaxValue; var dMax = 0; var chk = 0L
      var trailer = false; var done = false
      def skipSubBlocks(): Unit = {
        while (u8(p) != 0) p += 1 + u8(p)
        p += 1
      }
      while (!done && p < b.length) {
        u8(p) match {
          case 0x3B => trailer = true; done = true
          case 0x21 =>
            val label = u8(p + 1); p += 2
            if (label == 0xF9) {
              val bs = u8(p) // GCE fixed block, size 4
              val delay = u16(p + 2)
              gces += 1
              dSum += delay
              if (delay < dMin) dMin = delay
              if (delay > dMax) dMax = delay
              chk += gces.toLong * delay
              p += 1 + bs
              skipSubBlocks()
            } else skipSubBlocks()
          case 0x2C =>
            frames += 1
            val ipacked = u8(p + 9)
            p += 10
            if ((ipacked & 0x80) != 0) p += 3 * (1 << ((ipacked & 7) + 1))
            p += 1 // LZW minimum code size
            skipSubBlocks()
          case other =>
            throw new IllegalStateException(f"bad GIF block 0x$other%02x at $p")
        }
      }
      GifMeta(id, w, h, frames, gces, dSum, if (gces == 0) 0 else dMin,
        dMax, chk, trailer)
    }
  }

  /** Narrow id feed for the per-asset codec kernels, spread to the
    * session's full parallelism. The fixture corpus is ONE sub-128 MB,
    * single-row-group parquet file, so every scan plans exactly one
    * input split and a map-only codec kernel runs ONE-wide on a 32-core
    * box (measured: m08's encode+decode kernel 3.0 s one-wide vs 0.45 s
    * spread — the kernel was never the cost, the idle cores were). Only
    * the 8-byte ids are hash-repartitioned (a ~40 KB exchange; the
    * payloads are synthesized AFTER the spread, so this is §8's
    * "shuffle keys, not payloads" — at 100 TB the payload scan's own
    * file splits provide the parallelism and this exchange is the
    * fixture-scale stand-in for them). Width is `defaultParallelism`,
    * never a constant, so the driver's lower-core scaling runs keep
    * their meaning.
    */
  private def assetIds(s: SparkSession, d: String): Dataset[Long] = {
    import s.implicits._
    T.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .as[Long]
  }

  /** Real PNG payloads, one per document id — encoded on the executors
    * (map-only; at 100 TB the payloads would already sit in Parquet
    * binary columns and this stage is just the scan).
    */
  def imageAssets(s: SparkSession, d: String,
                  spread: Boolean = true): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    val ids =
      if (spread) assetIds(s, d)
      else {
        import s.implicits._
        T.documents(s, d).select(col("doc_id")).as[Long]
      }
    ids.mapPartitions(_.map(id => (id, ImageCodec.synthPng(id))))
  }

  /** The real decode kernel through the same mapPartitions harness as
    * [[extractFeatures]]: PNG-decode each payload, NN-half-resize the
    * decoded pixels, re-encode + re-decode the result (full
    * encode→decode→transform→encode→decode chain), emit integer features.
    */
  def imageFeatures(assets: Dataset[(Long, Array[Byte])]): Dataset[ImageFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { case (id, payload) =>
      val img = ImageCodec.decode(payload)
      val half = ImageCodec.decode(ImageCodec.encodePng(ImageCodec.halveNN(img)))
      ImageFeatures(id, img.getWidth, img.getHeight, ImageCodec.graySum(img),
        half.getWidth, half.getHeight, ImageCodec.graySum(half))
    })
  }

  /** Average-hash (aHash) over REAL decoded pixels — the perceptual
    * fingerprint image-dedup pipelines bucket on: bit (x, y) set iff
    * the gray value exceeds the image mean. The mean comparison is
    * kept in integers (v * n > sum) so no engine ever divides; these
    * images are ≤ 8×6 so the raw grid (≤ 48 bits) IS the hash — no
    * 8×8 resample step needed.
    */
  def imagePHash(assets: Dataset[(Long, Array[Byte])]): Dataset[(Long, Int, Int, Long)] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { case (id, payload) =>
      val img = ImageCodec.decode(payload)
      val w = img.getWidth; val h = img.getHeight
      val n = w.toLong * h
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { sum += (img.getRGB(x, y) & 0xFF); x += 1 }
        y += 1
      }
      var bits = 0L
      y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          if ((img.getRGB(x, y) & 0xFF).toLong * n > sum)
            bits |= 1L << (y * w + x)
          x += 1
        }
        y += 1
      }
      (id, w, h, bits)
    })
  }

  /** Energy-envelope fingerprint over REAL decoded PCM — m05's audio
    * sibling: split the waveform into 8 equal windows, bit w set iff
    * window w's absolute-amplitude sum exceeds the track average
    * (integer cross-multiply e·W > total — no division). Corpus tracks
    * have sample counts divisible by 8, so windows partition exactly.
    */
  def audioPHash(assets: Dataset[(Long, Array[Byte])]): Dataset[(Long, Int, Long)] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { case (id, payload) =>
      val v = PcmCodec.decode(payload)
      val n = v.length; val W = 8; val wlen = n / W
      val e = new Array[Long](W)
      var i = 0
      while (i < n) { e(i / wlen) += math.abs(v(i)); i += 1 }
      var te = 0L
      e.foreach(te += _)
      var bits = 0L
      var w = 0
      while (w < W) { if (e(w) * W > te) bits |= 1L << w; w += 1 }
      (id, n, bits)
    })
  }

  /** Build an asset table from documents (text bytes as stand-in payload). */
  def assets(s: SparkSession, d: String): Dataset[Asset] = {
    import s.implicits._
    T.documents(s, d)
      .select(col("doc_id").as("asset_id"),
              encode(col("text"), "UTF-8").as("payload"),
              lit("text/plain").as("mime"), col("lang"), col("n_chars"))
      .as[Asset]
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Oracle-checkable slice of the pipeline: payload sizing + the stub
    // feature computations re-expressed as pure SQL (byte lengths, evenly
    // spaced sample offsets). Mirrors what extractFeatures emits.
    "m01_binary_features" -> { (s, d) =>
      import s.implicits._
      extractFeatures(assets(s, d)).toDF()
        // offsets unpacked to scalars: the driver's row-sort can't order
        // list cells
        .select($"asset_id", $"n_bytes", $"mime", $"fake_class",
                element_at($"sample_offsets", 1).as("off_0"),
                element_at($"sample_offsets", 2).as("off_1"),
                element_at($"sample_offsets", 3).as("off_2"),
                element_at($"sample_offsets", 4).as("off_3"),
                element_at($"sample_offsets", 5).as("off_4"))
        .orderBy($"asset_id")
    },

    // Real-codec slice: every value below went through javax.imageio PNG
    // encode→decode (and the r_* columns through a second round trip on
    // resized pixels); the oracle recomputes them from the pixel formula,
    // so the hash gate verifies the actual codec, not a stub.
    "m02_image_features" -> { (s, d) =>
      import s.implicits._
      imageFeatures(imageAssets(s, d)).toDF().orderBy($"asset_id")
    },

    // Audio-payload slice: binary 16-bit LE PCM decoded per row
    // (ByteBuffer — the WAV data-chunk wire format), integer waveform
    // features the oracle recomputes from the sample formula. Map-only:
    // payloads never shuffle, only the ~30 B feature rows do.
    "m03_audio_features" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          PcmCodec.features(id, PcmCodec.synthPcm(id))
        })
        .toDF().orderBy($"asset_id")
    },

    // Video-payload slice: header-free raw grayscale frames decoded per
    // row, 4 evenly spaced frames SAMPLED (the model-input selection
    // step), per-frame sums + a frame-difference motion metric. Map-only
    // like m01–m03: frame payloads never shuffle, only the ~50 B feature
    // rows do.
    "m04_video_frames" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          VideoCodec.features(id, VideoCodec.synthVideo(id))
        })
        .toDF()
        // materialized before the sort: the orderBy's range exchange
        // SAMPLES its child at runtime (RangePartitioner runs a full
        // extra pass over the subtree — invisible in plan dumps), so
        // the decode kernel executed 2x per run; the checkpoint pays
        // one narrow materialization instead (m19 measured 2.4 s full
        // query vs 0.6 s kernel-only at 32 cores; OPTIMIZATION_r21.md
        // change 4)
        .localCheckpoint()
        .orderBy($"asset_id")
    },

    // Scene-cut detection — the shot-segmentation step a video-curation
    // pipeline runs before sampling training clips (cut-straddling
    // clips are junk; per-shot sampling needs the boundaries). The
    // corpus is scene-STRUCTURED video (static 5-frame shots, pixel
    // content jumping at shot boundaries — [[VideoCodec.synthVideoScenes]],
    // a real GIF89a container), and detection decodes EVERY frame in
    // order through the real container reader — shot detection's honest
    // cost model (a cut can hide between any two frames; m04's
    // seek-and-sample would miss them), holding only the previous
    // frame's raster. The cut test is integer (Σ|Δpixel| > 8·W·H — no
    // division, no float). Scale shape: map-only decode; what shuffles
    // per video is (id, int, 3 longs) ~28 B regardless of clip length.
    "m08_scene_cuts" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          VideoCodec.sceneCuts(id, VideoCodec.synthVideoScenes(id))
        })
        .toDF()
        // materialized before the sort: the orderBy's range exchange
        // SAMPLES its child at runtime (RangePartitioner runs a full
        // extra pass over the subtree — invisible in plan dumps), so
        // the decode kernel executed 2x per run; the checkpoint pays
        // one narrow materialization instead (m19 measured 2.4 s full
        // query vs 0.6 s kernel-only at 32 cores; OPTIMIZATION_r21.md
        // change 4)
        .localCheckpoint()
        .orderBy($"asset_id")
    },

    // Voice-activity segmentation — m08's audio twin and the step an
    // audio-curation pipeline runs before sampling training utterances
    // (silence-straddling clips waste tokens; per-utterance sampling
    // needs onsets). The corpus is speech/silence-STRUCTURED PCM
    // ([[PcmCodec.synthPcmSpeech]], 32-sample segments with known
    // boundaries) decoded through the real 16-bit LE byte path; the
    // detector is one O(n) pass of 16-sample integer energy windows
    // (Σ|v| > 128, no float, no division except the final fraction),
    // reporting active-window runs: count, longest, first onset. Scale
    // shape: map-only decode; ~32 B/track shuffles regardless of
    // duration. Spec pins the runs to exactly the planted (id+s) mod 3
    // segment pattern.
    "m09_audio_vad" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          PcmCodec.vadSegments(id, PcmCodec.synthPcmSpeech(id))
        })
        .toDF()
        .withColumn("speech_frac",
          $"n_active".cast("double") / $"n_windows")
        .orderBy($"asset_id")
    },

    // Letterbox/pillarbox border detection — the crop step image
    // curation runs before training (black margins burn resolution and
    // teach the model the frame, not the content): per image, scan the
    // REAL decoded pixels inward from each edge for constant-black
    // rows/columns, report the per-side margins, the surviving content
    // box, and its gray sum (the content-sum pin proves the detected
    // box is exactly the planted one — a one-pixel-off crop changes the
    // sum). Planted geometry varies every side independently, including
    // zeros, so the detector is exercised on every margin combination.
    // Scale shape: map-only decode+scan like m02–m09; ~40 B/image
    // shuffles for the final sort, payloads never move.
    "m10_border_detect" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          ImageCodec.borderFeatures(id, ImageCodec.synthBorderedPng(id))
        })
        .toDF()
        .withColumn("content_frac",
          ($"content_w" * $"content_h").cast("double") /
            ($"width" * $"height"))
        .orderBy($"asset_id")
    },

    // Mipmap/pyramid build — the multi-resolution preprocessing a vision
    // training pipeline runs at ingest (thumbnails for dedup, low-res
    // levels for curriculum / progressive training): two 2×2 box-filter
    // downsample levels through the REAL PNG codec, each level's dims +
    // gray sum reported. The box filter is floor-average with odd-edge
    // crop, so every value is exact integer arithmetic the oracle
    // recomputes from the planted pixel formula — a one-pixel shift or
    // an off-by-one crop at EITHER level changes a sum and fails the
    // hash. Scale shape: map-only decode+pool like m02–m10; payloads
    // never shuffle, ~56 B/image of level stats move to the final sort.
    "m11_image_pyramid" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          val l0 = ImageCodec.decode(ImageCodec.synthPyrPng(id))
          val l1 = ImageCodec.boxHalve(l0)
          val l2 = ImageCodec.boxHalve(l1)
          PyramidFeatures(id,
            l0.getWidth, l0.getHeight, ImageCodec.graySum(l0),
            l1.getWidth, l1.getHeight, ImageCodec.graySum(l1),
            l2.getWidth, l2.getHeight, ImageCodec.graySum(l2))
        })
        .toDF()
        .orderBy($"asset_id")
    },

    // NaViT-STYLE PATCH-PACKING PLAN — the vision-training analog of
    // t17's sequence packing: variable-resolution images tokenize to
    // ceil(w/P)*ceil(h/P) patches (P = 4), a fixed-budget training
    // sequence (B = 64 patch tokens) wants them packed DENSE, and
    // packing only composes within an ASPECT-RATIO class (NaViT's
    // bucketing — resize semantics differ across aspect classes).
    // Dims come from the REAL container bytes (m13's IHDR walk — no
    // decoder invoked, the 100 TB path reads ~30 B per asset); the
    // plan is per bucket: images ordered (tokens DESC, id), next-fit
    // by running token count, pack = cum_start div B, straddlers
    // (images crossing a pack boundary — the trainer pads or clips
    // those) reported per pack alongside fill. Per-bucket windows are
    // the t16-accepted shape (aspect classes are few and balanced by
    // construction; a skewed bucket would route through the
    // distributed running total like t17's global cumsum). The oracle
    // knows only the generator's dim formulas, so width/height/tokens
    // prove the byte walk; the packing arithmetic mirrors exactly.
    "m22_navit_pack" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val B = 64L
      val dims = assetIds(s, d)
        .mapPartitions(_.map { id =>
          val png = PngChunks.withTextChunk(
            ImageCodec.synthPyrPng(id), "Source", s"src${id % 20}")
          val m = PngChunks.walk(id, png)
          (m.asset_id, m.width, m.height)
        })
        .toDF("asset_id", "w", "h")
      val toks = dims
        .withColumn("tok",
          (expr("(w + 3) div 4") * expr("(h + 3) div 4")).cast("long"))
        .withColumn("bucket", expr("(w * 4) div h").cast("long"))
      val wCum = Window.partitionBy($"bucket")
        .orderBy($"tok".desc, $"asset_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks
        .withColumn("cum_end", sum($"tok").over(wCum))
        .withColumn("cum_start", $"cum_end" - $"tok")
        .withColumn("pack_id", expr(s"cum_start div $B"))
        .withColumn("straddle",
          expr(s"cum_start div $B") =!= expr(s"(cum_end - 1) div $B"))
        .groupBy($"bucket", $"pack_id")
        .agg(count(lit(1)).as("n_images"),
             sum($"tok").cast("long").as("n_tokens"),
             sum(when($"straddle", 1L).otherwise(0L)).as("n_straddlers"),
             min($"asset_id").as("head_asset"))
        .orderBy($"bucket", $"pack_id")
    },

    // Orientation normalization — the rotate step image curation runs
    // before training (portrait scans / EXIF orientations must land
    // upright): 90°-CW rotation on REAL decoded pixels, round-tripped
    // through the PNG encoder so the whole codec path is exercised.
    // The report separates what rotation PRESERVES from what it moves:
    // gray_sum is the invariant mass; the position-weighted checksums
    // (chk_orig vs chk_rot) pin every pixel's LOCATION, so a
    // one-pixel-off rotation — or a flip masquerading as a rotation —
    // fails the hash. The oracle recomputes chk_rot from the pixel
    // formula at rotated coordinates (v(ny, h−1−nx)) without ever
    // touching the bytes. Map-only like every m-op, ~56 B/asset.
    "m15_image_rotate" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          val img = ImageCodec.decode(ImageCodec.synthPyrPng(id))
          val rot = ImageCodec.decode(
            ImageCodec.encodePng(ImageCodec.rotate90(img)))
          (id, img.getWidth, img.getHeight, rot.getWidth, rot.getHeight,
           ImageCodec.graySum(img), ImageCodec.posChk(img),
           ImageCodec.posChk(rot))
        })
        .toDF("asset_id", "width", "height", "rot_width", "rot_height",
              "gray_sum", "chk_orig", "chk_rot")
        .orderBy($"asset_id")
    },

    // Contrast normalization — histogram equalization on REAL decoded
    // pixels (washed-out scans and underexposed photos land on one
    // tonal scale before training): the classic integer transfer
    // function vnew = (cdf(v) − cdfmin)·255/(n − cdfmin) with floor
    // division, computed from the image's own histogram, applied, and
    // round-tripped through the PNG encoder. The report pins the
    // transfer exactly: equalized mass + position-weighted checksum
    // (a single misremapped pixel fails the hash) + the min/max pins
    // 0 and 255 that the cdfmin anchoring guarantees on any
    // non-constant image. The oracle rebuilds the histogram, CDF, and
    // remap from the pixel formula in SQL — no bytes, same integers.
    // Map-only like every m-op, ~48 B/asset.
    "m16_hist_equalize" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          val img = ImageCodec.decode(ImageCodec.synthPyrPng(id))
          val eq = ImageCodec.decode(
            ImageCodec.encodePng(ImageCodec.equalize(img)))
          var mn = 255; var mx = 0
          var y = 0
          while (y < eq.getHeight) {
            var x = 0
            while (x < eq.getWidth) {
              val v = eq.getRGB(x, y) & 0xff
              if (v < mn) mn = v; if (v > mx) mx = v
              x += 1
            }
            y += 1
          }
          (id, img.getWidth, img.getHeight, ImageCodec.graySum(img),
           ImageCodec.graySum(eq), ImageCodec.posChk(eq), mn, mx)
        })
        .toDF("asset_id", "width", "height", "sum_in", "sum_eq",
              "chk_eq", "min_eq", "max_eq")
        .orderBy($"asset_id")
    },

    // Autocorrelation profile — the periodicity/pitch primitive of
    // audio curation (voicing detection, pitch tracking à la YIN, and
    // the tone-vs-noise triage a speech pipeline runs before ASR all
    // start from lag-domain self-similarity; m03's pointwise stats
    // can't see it — autocorrelation is CROSS-sample products): over
    // the REAL decoded 16-bit PCM, the raw integer autocorrelation
    // r(L) = Σ v[i]·v[i+L] at lags 0/1/2/4/8 plus ac1_ppm =
    // max(r1,0)·1e6 DIV r0, the normalized lag-1 coefficient — THE
    // voicing statistic (near 1e6 = tonal/correlated, near 0 = noise;
    // the max() keeps the ppm on the floor-division path both engines
    // share, since Spark's DIV truncates toward zero on negatives
    // while DuckDB's // floors). Every r(L) is a bounded integer sum
    // (|v| ≤ 100 planted, ≤ 32767 structurally: n·v² < 2⁶³ at any
    // real track length), so the oracle recomputes identical longs
    // from the sample formula without touching bytes. Map-only like
    // every m-op; ~64 B/track shuffles regardless of duration.
    "m18_audio_autocorr" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val v = PcmCodec.decode(PcmCodec.synthPcm(id))
          def r(lag: Int): Long = {
            var acc = 0L; var i = 0
            while (i + lag < v.length) {
              acc += v(i).toLong * v(i + lag); i += 1
            }
            acc
          }
          val r0 = r(0)
          (id, v.length, r0, r(1), r(2), r(4), r(8),
           math.max(r(1), 0L) * 1000000L / r0)
        })
        .toDF("asset_id", "n_samples", "r0", "r1", "r2", "r4", "r8",
              "ac1_ppm")
        .orderBy($"asset_id")
    },

    // Frame-timing audit — the retiming/fps-normalization input of
    // video curation (a training pipeline that resamples clips to a
    // fixed fps needs each clip's REAL per-frame delays, and a
    // container whose GCE count disagrees with its frame count is
    // corrupt): every clip is written as a genuinely TIMED GIF89a
    // (per-frame Graphic Control Extension delays planted 2–10 cs via
    // ImageIO's metadata tree), then audited by the byte-level
    // container walk — no LZW decode, the m13 discipline: duration and
    // frame rate are container metadata, not pixel data. The report
    // pins the timing EXACTLY: total duration, min/max delay, and a
    // position-weighted delay checksum (frame f's delay weighted by
    // its 1-based index — a delay on the wrong frame fails the hash),
    // plus the n_gce == n_frames integrity check and the trailer
    // presence. The oracle rebuilds every delay from the planted
    // formula; the walker proves those numbers sit in ImageIO's actual
    // bytes. Map-only like every m-op, ~56 B/clip shuffles.
    "m19_gif_timing" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          GifWalk.walk(id, VideoCodec.synthVideoTimed(id))
        })
        .toDF()
        // materialized before the sort: the orderBy's range exchange
        // SAMPLES its child at runtime (RangePartitioner runs a full
        // extra pass over the subtree — invisible in plan dumps), so
        // the decode kernel executed 2x per run; the checkpoint pays
        // one narrow materialization instead (m19 measured 2.4 s full
        // query vs 0.6 s kernel-only at 32 cores; OPTIMIZATION_r21.md
        // change 4)
        .localCheckpoint()
        .orderBy($"asset_id")
    },

    // RIFF/WAVE container audit — the audio member of the container
    // trio (m13 PNG, m19 GIF): each track wrapped in a genuine
    // canonical WAV (planted per-track sample rate, provenance chunk
    // with odd-length data so the RIFF pad rule is actually exercised,
    // real PCM data chunk), then re-parsed at the byte level. The rate
    // / duration / provenance / integrity report every audio curation
    // run starts from, read WITHOUT decode except for the data-chunk
    // checksum that ties container to payload (sum |v| over the REAL
    // contained samples — a container pointing at the wrong bytes
    // fails it). duration_us is integer floor division on both
    // engines. Map-only, ~64 B/track shuffles.
    "m20_wav_metadata" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          WavCodec.walk(id, WavCodec.synthWav(id))
        })
        .toDF()
        .orderBy($"asset_id")
    },

    // Patch tiling — the ViT tokenizer of image pipelines (every
    // vision-transformer ingest slices images into P×P patches; the
    // patch count IS the image's token bill, the vision analog of
    // t03's token counting, and per-patch stats drive masked-patch
    // pruning and crop audits): P=4 over the REAL decoded PNG
    // (production is 14/16 with identical arithmetic), grid =
    // floor(dims/P) with trailing-edge crop (the same full-block rule
    // as boxHalve, so every patch aggregates exactly P² pixels). Per
    // asset: grid dims, the patch/token count, total patch mass, the
    // summed per-patch contrast (max−min — what masked-patch pruning
    // thresholds), cropped-pixel count (the tiling's data loss, which
    // a crop audit watches), and a position-weighted patch checksum
    // Σ (patch_index+1)·patch_sum — a patch in the wrong grid slot
    // fails the hash even if its content is right. The oracle rebuilds
    // every patch from the planted pixel formula in SQL; the spec
    // replays it in plain Scala off the decoded bytes. Map-only like
    // every m-op, ~64 B/asset shuffles.
    "m17_patch_tiles" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          val img = ImageCodec.decode(ImageCodec.synthPyrPng(id))
          val P = 4
          val w = img.getWidth; val h = img.getHeight
          val gw = w / P; val gh = h / P
          var mass = 0L; var contrast = 0L; var chk = 0L
          var py = 0
          while (py < gh) {
            var px = 0
            while (px < gw) {
              var psum = 0L; var pmin = 255; var pmax = 0
              var j = 0
              while (j < P) {
                var i = 0
                while (i < P) {
                  val v = img.getRGB(px * P + i, py * P + j) & 0xff
                  psum += v
                  if (v < pmin) pmin = v
                  if (v > pmax) pmax = v
                  i += 1
                }
                j += 1
              }
              mass += psum
              contrast += (pmax - pmin)
              chk += (py.toLong * gw + px + 1) * psum
              px += 1
            }
            py += 1
          }
          (id, w, h, gw, gh, gw.toLong * gh, mass, contrast,
           w.toLong * h - P.toLong * P * gw * gh, chk)
        })
        .toDF("asset_id", "width", "height", "grid_w", "grid_h",
              "n_patches", "patch_mass", "contrast_sum", "crop_px", "chk")
        .orderBy($"asset_id")
    },

    // Container-metadata extraction — the provenance/integrity step of
    // image curation (read the source tag a crawler stamped, verify the
    // container wasn't truncated or bit-flipped) done AT THE BYTE LEVEL:
    // a provenance tEXt chunk is spliced into each real ImageIO PNG
    // (CRC computed from scratch), then the walker re-parses the bytes
    // chunk by chunk — every CRC re-verified, dims read straight from
    // IHDR's data — without ever invoking a decoder. The oracle knows
    // only the planted formulas, so width/height prove the IHDR parse
    // reads ImageIO's actual bytes and source_tag proves the tEXt
    // round-trip; the spec's corruption test pins the CRC check
    // non-vacuously. Map-only like every m-op; ~30 B/asset shuffles.
    "m13_png_metadata" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          val png = PngChunks.withTextChunk(
            ImageCodec.synthPyrPng(id), "Source", s"src${id % 20}")
          PngChunks.walk(id, png)
        })
        .toDF()
        .orderBy($"asset_id")
    },

    // METADATA STRIP — the privacy scrub image curation runs BEFORE
    // training (provenance/EXIF-class tags carry author names, GPS,
    // device ids; a corpus shipped to a training cluster must not):
    // every ancillary chunk is dropped at the BYTE level via the PNG
    // spec's own critical/ancillary bit (bit 5 of the type's first
    // byte — no chunk-name whitelist to rot), critical chunks pass
    // through byte-identical. The report proves all three scrub
    // obligations at once: the metadata is GONE (n_text_after = 0,
    // tag_after empty), the container is still VALID (every CRC
    // re-verified on the rewritten bytes), and the pixels are
    // UNTOUCHED (the stripped container re-decodes through the real
    // ImageIO reader to the formula's exact gray mass — a strip that
    // clipped one critical byte fails the sum, not just a flag).
    // Fixture: m13's provenance tEXt on every asset plus a second
    // Comment chunk on id%3 — the dropped-count varies per asset so
    // the scrub is pinned per-asset, not in aggregate. Map-only like
    // every m-op; ~45 B/asset shuffles.
    "m21_metadata_strip" -> { (s, d) =>
      import s.implicits._
      assetIds(s, d)
        .mapPartitions(_.map { id =>
          var png = PngChunks.withTextChunk(
            ImageCodec.synthPyrPng(id), "Source", s"src${id % 20}")
          if (id % 3 == 0)
            png = PngChunks.withTextChunk(png, "Comment", s"c${id % 11}")
          val before = PngChunks.walk(id, png)
          val (stripped, dropped) = PngChunks.stripAncillary(png)
          val after = PngChunks.walk(id, stripped)
          ScrubReport(id, after.width, after.height,
            before.n_text, dropped, after.n_text, after.source_tag,
            after.crc_all_ok,
            ImageCodec.graySum(ImageCodec.decode(stripped)))
        })
        .toDF()
        .orderBy($"asset_id")
    },

    // Loudness normalization + clipping audit — the gain-staging step
    // audio curation runs before training (tracks arrive at wildly
    // different levels; the model should learn content, not recording
    // gain). PEAK normalization can never clip (the gain is bounded by
    // the peak itself), so the op that needs an audit is LOUDNESS
    // normalization: gain = target mean-|v| over the track's actual
    // mean-|v| in Q8 fixed point, applied per sample and clamped to
    // int16 (SYMMETRIC ±32767 — the asymmetric −32768 rail would make
    // a fully-clipped negative peak read one LSB louder than the
    // positive full scale) — samples above the crest the gain was not
    // sized for clip,
    // and the per-track clip count is the audit a pipeline alerts on.
    // Rounding is symmetric TRUNCATION toward zero (Scala Long '/',
    // DuckDB '//' — gain scaling must not introduce a DC offset; the
    // m12 floor-average is the POOLING convention, not the gain one).
    // All integer on both engines; map-only like every m-op, ~40
    // B/track shuffles.
    "m14_audio_normalize" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val v = PcmCodec.decode(PcmCodec.synthPcm(id))
          var peakIn = 0; var sa = 0L; var i = 0
          while (i < v.length) {
            val a = math.abs(v(i)); if (a > peakIn) peakIn = a
            sa += a; i += 1
          }
          // Q8 gain to a mean-|v| target of 20000 (guard an all-zero
          // track from DIV 0); deliberately NOT peak-derived, so the
          // clip audit measures something
          val g = 20000L * 256 * v.length / math.max(sa, 1L)
          var nClip = 0; var peakOut = 0L; var sao = 0L
          i = 0
          while (i < v.length) {
            val y0 = v(i).toLong * g / 256 // symmetric trunc = DuckDB //
            val y = math.max(-32767L, math.min(32767L, y0))
            if (y != y0) nClip += 1
            val ay = math.abs(y); if (ay > peakOut) peakOut = ay
            sao += ay; i += 1
          }
          (id, v.length, peakIn, sa, g, nClip, peakOut, sao)
        })
        .toDF("asset_id", "n_samples", "peak_in", "sum_abs_in", "gain_q8",
              "n_clipped", "peak_out", "sum_abs_out")
        .orderBy($"asset_id")
    },

    // Audio sample-rate halving — m11's audio sibling (the resample a
    // speech pipeline runs before feature extraction): 2:1 floor-average
    // decimation on REAL decoded PCM, with integer summaries of the
    // decimated waveform — peak, Σ|v|, and a position-weighted checksum
    // (Σ v_i·((i mod 7)+1)) that pins every output sample's VALUE AND
    // POSITION, so an off-by-one in the pair alignment fails the hash.
    // Map-only decode+decimate like m03/m06/m09; ~44 B/track shuffles.
    // STEREO DOWNMIX + CHANNEL AUDIT — the channel-domain sibling of
    // m12's temporal decimation, and the audit audio curation MUST run
    // before it downmixes (most training stacks take mono; naive
    // L+R/2 silently DESTROYS phase-inverted material — the miswired-
    // XLR recording reads as near-silence after the mix, and a dead
    // channel halves loudness): the corpus is interleaved-stereo
    // 16-bit LE PCM with formula-planted pathologies (dead right at
    // id%7, phase-inverted right at id%11), decoded through the real
    // byte path, de-interleaved, floor-average downmixed. Per track:
    // channel masses (the balance diagnostic), mono peak/mass, a
    // position checksum pinning every output sample, and two integer
    // verdicts — dead_right (r_mass = 0) and cancelled (mono mass
    // collapsed below l_mass/8: the downmix destroyed the track).
    // The oracle knows only the channel formulas — matching masses and
    // checksums prove the interleaved byte layout was really walked.
    // Map-only; ~60 B/track shuffles regardless of duration.
    "m23_stereo_downmix" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val (l, r, m) = PcmCodec.downmix(PcmCodec.synthStereoPcm(id))
          var lm = 0L; var rm = 0L; var mm = 0L
          var peak = 0; var chk = 0L; var i = 0
          while (i < m.length) {
            lm += math.abs(l(i)); rm += math.abs(r(i))
            val a = math.abs(m(i)); mm += a
            if (a > peak) peak = a
            chk += m(i).toLong * (i + 1); i += 1
          }
          (id, m.length, lm, rm, mm, peak, chk, rm == 0L, mm * 8 < lm)
        })
        .toDF("asset_id", "n_frames", "l_mass", "r_mass", "mono_mass",
              "mono_peak", "mono_chk", "dead_right", "cancelled")
        .orderBy($"asset_id")
    },

    "m12_audio_decimate" -> { (s, d) =>
      import s.implicits._
      T.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val v = PcmCodec.decode(PcmCodec.synthPcm(id))
          val o = PcmCodec.decimate2(v)
          var peak = 0; var sa = 0L; var ws = 0L; var i = 0
          while (i < o.length) {
            val a = math.abs(o(i))
            if (a > peak) peak = a
            sa += a
            ws += o(i).toLong * ((i % 7) + 1)
            i += 1
          }
          (id, v.length, o.length, peak, sa, ws)
        })
        .toDF("asset_id", "n_in", "n_out", "peak", "sum_abs", "wsum")
        .orderBy($"asset_id")
    },

    // Perceptual image dedup — bucket on the aHash of REAL decoded
    // pixels ((width, height, ahash) group key), report groups with
    // >1 member and their canonical (min) id. Planted byte-identical
    // copies (every %11 image re-registered under +10000) must land in
    // the same bucket through the actual PNG decode path. Scale shape:
    // the decode is map-only; what shuffles per image is (id, 2 ints,
    // 1 long) — a 100 TB image corpus groups on ~20 bytes/row.
    "m05_image_phash_dedup" -> { (s, d) =>
      import s.implicits._
      val base = imageAssets(s, d)
      val corpus = base.union(
        base.filter(_._1 % 11 == 0).map { case (id, p) => (id + 10000L, p) })
      imagePHash(corpus).toDF("asset_id", "width", "height", "ahash")
        .groupBy($"width", $"height", $"ahash")
        .agg(min($"asset_id").as("canonical_id"),
             count(lit(1)).as("n_copies"))
        .filter($"n_copies" > 1)
        .select($"canonical_id", $"width", $"height", $"ahash", $"n_copies")
        .orderBy($"canonical_id")
    },

    // THUMBNAIL-DEDUP AUDIT — testing the assumption perceptual dedup
    // at scale actually rests on (nobody aHashes 100 TB of full-res
    // pixels; the hash runs on THUMBNAILS — smaller decode, smaller
    // compare — on the bet that true duplicates still collide and
    // distinct images mostly don't): the m05 corpus with its planted
    // byte-identical copies is keyed at full resolution AND after one
    // real box-filter halving, and the report prices the level knob —
    // per level: distinct keys, collapsed assets, planted-pair recall
    // (identical bytes halve identically, so recall must hold at 100%
    // — pinned, not assumed), and false_merge_ppm: collapses NOT
    // explained by the plant, which RISE as the key space shrinks
    // 4× per level. That last column is what the thumbnail bet costs:
    // every false merge is a distinct training image silently thrown
    // away as a "duplicate". Decode+halve map-only; per level only
    // (id, w, h, hash) ~28 B shuffles; the plant join is key-to-key.
    // Plant offset +20000 (m06's convention, round-16 advice): wider
    // headroom over the fixture's doc_id range than m05's +10000 —
    // OperatorSpec pins max(doc_id) < offset so a regenerated fixture
    // can never alias a plant onto a real id on both engines at once.
    "m24_thumb_dedup_audit" -> { (s, d) =>
      import s.implicits._
      // unspread feed: m24 unions two corpus branches and re-decodes
      // them once PER LEVEL, so the spread exchange re-executes per
      // level and the union doubles to 64 thin partitions whose task
      // overhead exceeds the kernel win (measured 1.7 -> 2.3 s spread)
      val base = imageAssets(s, d, spread = false)
      val corpus = base.union(
        base.filter(_._1 % 11 == 0).map { case (id, p) => (id + 20000L, p) })
      def level(k: Int): DataFrame = {
        val hashed = corpus.mapPartitions(_.map { case (id, payload) =>
          var img = ImageCodec.decode(payload)
          var i = 0
          while (i < k) { img = ImageCodec.boxHalve(img); i += 1 }
          val w = img.getWidth; val h = img.getHeight
          val n = w.toLong * h
          var sum = 0L; var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sum += (img.getRGB(x, y) & 0xFF); x += 1 }
            y += 1
          }
          var bits = 0L; y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              if ((img.getRGB(x, y) & 0xFF).toLong * n > sum)
                bits |= 1L << (y * w + x)
              x += 1
            }
            y += 1
          }
          (id, w, h, bits)
        }).toDF("asset_id", "w", "h", "ahash")
        val tot = hashed.agg(count(lit(1)).as("n_assets"),
          countDistinct($"w", $"h", $"ahash").as("n_keys"))
        val pairs = hashed.filter($"asset_id" < 20000L &&
            $"asset_id" % 11 === 0)
          .select($"asset_id".as("a"), $"w".as("wa"), $"h".as("ha"),
                  $"ahash".as("xa"))
          .join(hashed.filter($"asset_id" >= 20000L)
            .select(($"asset_id" - 20000L).as("a"), $"w".as("wb"),
                    $"h".as("hb"), $"ahash".as("xb")), Seq("a"))
        val rec = pairs.agg(count(lit(1)).as("n_true_pairs"),
          sum(when($"wa" === $"wb" && $"ha" === $"hb" && $"xa" === $"xb",
            1L).otherwise(0L)).as("n_true_cokeyed"))
        tot.crossJoin(rec)
          .select(lit(k).as("level"), $"n_assets", $"n_keys",
            ($"n_assets" - $"n_keys").as("n_collapsed"),
            $"n_true_pairs", $"n_true_cokeyed",
            expr("(n_assets - n_keys - n_true_cokeyed) * 1000000" +
                 " div n_assets").as("false_merge_ppm"))
      }
      level(0).union(level(1)).orderBy($"level")
    },

    // Audio perceptual dedup — m05's pattern over the PCM decode path:
    // bucket on (n_samples, energy-envelope hash), canonical-min groups
    // with >1 member; planted byte-identical tracks (%13 at +20000)
    // must meet their source. Decode map-only, ~20 B/track shuffles.
    "m06_audio_phash_dedup" -> { (s, d) =>
      import s.implicits._
      val base = T.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, PcmCodec.synthPcm(id))))
      val corpus = base.union(
        base.filter(_._1 % 13 == 0).map { case (id, p) => (id + 20000L, p) })
      audioPHash(corpus).toDF("asset_id", "n_samples", "ahash")
        .groupBy($"n_samples", $"ahash")
        .agg(min($"asset_id").as("canonical_id"),
             count(lit(1)).as("n_copies"))
        .filter($"n_copies" > 1)
        .select($"canonical_id", $"n_samples", $"ahash", $"n_copies")
        .orderBy($"canonical_id")
    },

    // Cross-modal caption-variant detection — the LAION-style curation
    // step for image-text pair corpora: find images (by perceptual hash
    // of the REAL decoded pixels) that appear under MORE THAN ONE
    // caption. Duplicated images with conflicting captions are label
    // noise for contrastive training; this surfaces each such group
    // with its canonical id and caption count. Planted: every %7 image
    // re-registered under +4000000 with a variant caption (the dedup
    // family's disjoint-megabin convention — 1M/2M/3M are taken by the
    // text corpora; m05/m06/m24's tighter +10000/+20000 offsets are safe
    // only because their asset streams never mix with doc-id-keyed
    // frames, while m07 joins caption hashes BY asset_id, where a
    // doc_id >= 40000 fixture would alias two images under one key).
    // Scale shape:
    // the PNG decode is map-only; captions reduce to their 60-bit hash
    // BEFORE any shuffle, so the group-by moves (id, 2 ints, 2 longs)
    // ~28 B/pair regardless of caption length; the caption-hash join
    // is on the unique asset_id key.
    "m07_caption_variants" -> { (s, d) =>
      import s.implicits._
      val docs = T.documents(s, d).select($"doc_id", $"text")
      val pairs = docs
        .select($"doc_id".as("asset_id"), $"doc_id".as("src"),
                $"text".as("caption"))
        .unionByName(docs.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + 4000000L).as("asset_id"), $"doc_id".as("src"),
                  concat($"text", lit(" (alt caption)")).as("caption")))
      val payloads = pairs.select($"asset_id", $"src").as[(Long, Long)]
        .mapPartitions(_.map { case (id, src) => (id, ImageCodec.synthPng(src)) })
      val hashed = imagePHash(payloads).toDF("asset_id", "width", "height", "ahash")
      val caps = pairs.select($"asset_id", graft.Dets.phash($"caption").as("cap_h"))
      hashed.join(caps, Seq("asset_id"))
        .groupBy($"width", $"height", $"ahash")
        .agg(min($"asset_id").as("canonical_id"), count(lit(1)).as("n_items"),
             countDistinct($"cap_h").as("n_captions"))
        .filter($"n_captions" > 1)
        .select($"canonical_id", $"width", $"height", $"ahash",
                $"n_items", $"n_captions")
        .orderBy($"canonical_id")
    }
  )

  def oracleSql: Map[String, String] = Map(
    // ASCII corpus => octet_length(text) == payload bytes; the stub class
    // is the sum of the first 8 bytes mod 256, offsets are i*(n/5) capped.
    "m01_binary_features" ->
      """SELECT doc_id AS asset_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  'text/plain' AS mime,
        |  CAST(list_sum(list_transform(range(1, least(octet_length(encode(text)), 8) + 1),
        |    i -> ascii(substring(text, i, 1)))) % 256 AS INT) AS fake_class,
        |  CAST(least(0 * greatest(octet_length(encode(text)) // 5, 1),
        |       greatest(octet_length(encode(text)) - 1, 0)) AS BIGINT) AS off_0,
        |  CAST(least(1 * greatest(octet_length(encode(text)) // 5, 1),
        |       greatest(octet_length(encode(text)) - 1, 0)) AS BIGINT) AS off_1,
        |  CAST(least(2 * greatest(octet_length(encode(text)) // 5, 1),
        |       greatest(octet_length(encode(text)) - 1, 0)) AS BIGINT) AS off_2,
        |  CAST(least(3 * greatest(octet_length(encode(text)) // 5, 1),
        |       greatest(octet_length(encode(text)) - 1, 0)) AS BIGINT) AS off_3,
        |  CAST(least(4 * greatest(octet_length(encode(text)) // 5, 1),
        |       greatest(octet_length(encode(text)) - 1, 0)) AS BIGINT) AS off_4
        |FROM documents ORDER BY asset_id""".stripMargin,

    // m22: dims from the generator formulas (the Spark side must
    // reproduce them from the real IHDR bytes), then the identical
    // bucket/next-fit arithmetic.
    "m22_navit_pack" ->
      """WITH dims AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(16 + doc_id % 7 AS INT) AS w,
        |    CAST(12 + doc_id % 5 AS INT) AS h
        |  FROM documents),
        |toks AS (
        |  SELECT asset_id,
        |    CAST(((w + 3) // 4) * ((h + 3) // 4) AS BIGINT) AS tok,
        |    CAST((w * 4) // h AS BIGINT) AS bucket
        |  FROM dims),
        |spans AS (
        |  SELECT asset_id, tok, bucket,
        |    SUM(tok) OVER (PARTITION BY bucket
        |      ORDER BY tok DESC, asset_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
        |  FROM toks)
        |SELECT bucket, CAST((cum_end - tok) // 64 AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_images,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN (cum_end - tok) // 64 <> (cum_end - 1) // 64
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
        |  MIN(asset_id) AS head_asset
        |FROM spans
        |GROUP BY 1, 2
        |ORDER BY bucket, pack_id""".stripMargin,

    // gray(x, y) = (7x + 13y + id) % 256 over dims (4 + id%5, 3 + id%4);
    // the NN half-resize keeps exactly the even-coordinate pixels.
    "m02_image_features" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 5 AS INT) AS w, CAST(3 + doc_id % 4 AS INT) AS h,
        |    tx.x, ty.y,
        |    (tx.x * 7 + ty.y * 13 + doc_id) % 256 AS v
        |  FROM documents, range(0, 8) tx(x), range(0, 6) ty(y)
        |  WHERE tx.x < 4 + doc_id % 5 AND ty.y < 3 + doc_id % 4)
        |SELECT doc_id AS asset_id, w AS width, h AS height,
        |  CAST(SUM(v) AS BIGINT) AS px_sum,
        |  CAST((w + 1) // 2 AS INT) AS r_width,
        |  CAST((h + 1) // 2 AS INT) AS r_height,
        |  CAST(SUM(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN v ELSE 0 END)
        |       AS BIGINT) AS r_sum
        |FROM px
        |GROUP BY doc_id, w, h
        |ORDER BY asset_id""".stripMargin,

    // v_i = (7*id + 13*i) % 201 - 100 over n = 64 + (id%5)*16 samples;
    // strict sign-product test for zero crossings.
    "m03_audio_features" ->
      """WITH s AS (
        |  SELECT doc_id, t.i,
        |    (doc_id * 7 + t.i * 13) % 201 - 100 AS v
        |  FROM documents, range(0, 128) t(i)
        |  WHERE t.i < 64 + (doc_id % 5) * 16)
        |SELECT doc_id AS asset_id,
        |  CAST(COUNT(*) AS INT) AS n_samples,
        |  CAST(MAX(abs(v)) AS INT) AS peak,
        |  CAST(SUM(CASE WHEN i > 0
        |    AND v * ((doc_id * 7 + (i - 1) * 13) % 201 - 100) < 0
        |    THEN 1 ELSE 0 END) AS INT) AS zero_crossings,
        |  CAST(SUM(v * v) AS BIGINT) AS energy
        |FROM s
        |GROUP BY doc_id
        |ORDER BY asset_id""".stripMargin,

    // pixel(x, y, f) = (7x + 13y + 31f + id) % 256 over 8x6 frames,
    // n = 16 + id%9 of them; sampled frame indexes follow m01's evenly-
    // spaced rule at frame granularity.
    "m04_video_frames" ->
      """WITH fs AS (
        |  SELECT doc_id, f.f,
        |    CAST(SUM((x.x * 7 + y.y * 13 + f.f * 31 + doc_id) % 256)
        |         AS BIGINT) AS fsum
        |  FROM documents, range(0, 25) f(f), range(0, 8) x(x), range(0, 6) y(y)
        |  WHERE f.f < 16 + doc_id % 9
        |  GROUP BY doc_id, f.f),
        |samp AS (
        |  SELECT d.doc_id, i.i,
        |    least(i.i * greatest((16 + d.doc_id % 9) // 4, 1),
        |          16 + d.doc_id % 9 - 1) AS fidx
        |  FROM documents d, range(0, 4) i(i)),
        |pv AS (
        |  SELECT s.doc_id,
        |    MAX(CASE WHEN s.i = 0 THEN f.fsum END) AS f0_sum,
        |    MAX(CASE WHEN s.i = 1 THEN f.fsum END) AS f1_sum,
        |    MAX(CASE WHEN s.i = 2 THEN f.fsum END) AS f2_sum,
        |    MAX(CASE WHEN s.i = 3 THEN f.fsum END) AS f3_sum
        |  FROM samp s JOIN fs f ON f.doc_id = s.doc_id AND f.f = s.fidx
        |  GROUP BY s.doc_id)
        |SELECT doc_id AS asset_id, CAST(16 + doc_id % 9 AS INT) AS n_frames,
        |  CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |  f0_sum, f1_sum, f2_sum, f3_sum,
        |  CAST(abs(f1_sum - f0_sum) + abs(f2_sum - f1_sum) +
        |       abs(f3_sum - f2_sum) AS BIGINT) AS motion
        |FROM pv ORDER BY asset_id""".stripMargin,

    // Pixel-formula mirror of the decode-path aHash: the planted copy
    // (src's payload under a new id) carries SRC's dims and pixels.
    "m05_image_phash_dedup" ->
      """WITH ids AS (
        |  SELECT doc_id AS asset_id, doc_id AS src FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, doc_id FROM documents WHERE doc_id % 11 = 0),
        |px AS (
        |  SELECT i.asset_id,
        |    CAST(4 + i.src % 5 AS INT) AS w, CAST(3 + i.src % 4 AS INT) AS h,
        |    tx.x, ty.y, (tx.x * 7 + ty.y * 13 + i.src) % 256 AS v
        |  FROM ids i, range(0, 8) tx(x), range(0, 6) ty(y)
        |  WHERE tx.x < 4 + i.src % 5 AND ty.y < 3 + i.src % 4),
        |st AS (
        |  SELECT asset_id, w, h, SUM(v) AS s, COUNT(*) AS n
        |  FROM px GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT p.asset_id, p.w, p.h,
        |    CAST(SUM(CASE WHEN p.v * st.n > st.s
        |         THEN CAST(round(pow(2, p.y * p.w + p.x)) AS BIGINT)
        |         ELSE 0 END) AS BIGINT) AS ahash
        |  FROM px p JOIN st USING (asset_id)
        |  GROUP BY 1, 2, 3)
        |SELECT MIN(asset_id) AS canonical_id, w AS width, h AS height,
        |  ahash, COUNT(*) AS n_copies
        |FROM bits GROUP BY w, h, ahash HAVING COUNT(*) > 1
        |ORDER BY canonical_id""".stripMargin,

    // m24: both levels replayed purely from the pixel formula — the
    // level-1 pixel is the 2x2 floor-average of four formula terms, so
    // matching hashes prove the Spark side's real decode+halve path.
    "m24_thumb_dedup_audit" -> {
      def lvl(k: Int): String = {
        val px =
          if (k == 0)
            """SELECT i.asset_id,
              |    CAST(4 + i.src % 5 AS INT) AS w,
              |    CAST(3 + i.src % 4 AS INT) AS h,
              |    tx.x, ty.y, (tx.x * 7 + ty.y * 13 + i.src) % 256 AS v
              |  FROM ids i, range(0, 8) tx(x), range(0, 6) ty(y)
              |  WHERE tx.x < 4 + i.src % 5 AND ty.y < 3 + i.src % 4"""
              .stripMargin
          else
            """SELECT i.asset_id,
              |    CAST((4 + i.src % 5) // 2 AS INT) AS w,
              |    CAST((3 + i.src % 4) // 2 AS INT) AS h,
              |    tx.x, ty.y,
              |    (((2 * tx.x) * 7 + (2 * ty.y) * 13 + i.src) % 256 +
              |     ((2 * tx.x + 1) * 7 + (2 * ty.y) * 13 + i.src) % 256 +
              |     ((2 * tx.x) * 7 + (2 * ty.y + 1) * 13 + i.src) % 256 +
              |     ((2 * tx.x + 1) * 7 + (2 * ty.y + 1) * 13 + i.src) % 256)
              |    // 4 AS v
              |  FROM ids i, range(0, 4) tx(x), range(0, 3) ty(y)
              |  WHERE tx.x < (4 + i.src % 5) // 2
              |    AND ty.y < (3 + i.src % 4) // 2""".stripMargin
        s"""WITH ids AS (
           |  SELECT doc_id AS asset_id, doc_id AS src FROM documents
           |  UNION ALL
           |  SELECT doc_id + 20000, doc_id FROM documents
           |  WHERE doc_id % 11 = 0),
           |px AS (
           |  $px),
           |st AS (
           |  SELECT asset_id, w, h, SUM(v) AS s, COUNT(*) AS n
           |  FROM px GROUP BY 1, 2, 3),
           |bits AS (
           |  SELECT p.asset_id, p.w, p.h,
           |    CAST(SUM(CASE WHEN p.v * st.n > st.s
           |         THEN CAST(round(pow(2, p.y * p.w + p.x)) AS BIGINT)
           |         ELSE 0 END) AS BIGINT) AS ahash
           |  FROM px p JOIN st USING (asset_id)
           |  GROUP BY 1, 2, 3),
           |tot AS (
           |  SELECT COUNT(*) AS n_assets,
           |    COUNT(DISTINCT (w, h, ahash)) AS n_keys FROM bits),
           |rec AS (
           |  SELECT COUNT(*) AS n_true_pairs,
           |    CAST(SUM(CASE WHEN a.w = b.w AND a.h = b.h
           |      AND a.ahash = b.ahash THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_true_cokeyed
           |  FROM bits a JOIN bits b ON b.asset_id = a.asset_id + 20000
           |  WHERE a.asset_id < 20000 AND a.asset_id % 11 = 0)
           |SELECT CAST($k AS INT) AS level,
           |  CAST(n_assets AS BIGINT) AS n_assets,
           |  CAST(n_keys AS BIGINT) AS n_keys,
           |  CAST(n_assets - n_keys AS BIGINT) AS n_collapsed,
           |  n_true_pairs, n_true_cokeyed,
           |  CAST((n_assets - n_keys - n_true_cokeyed) * 1000000
           |       // n_assets AS BIGINT) AS false_merge_ppm
           |FROM tot, rec""".stripMargin
      }
      s"""SELECT * FROM (${lvl(0)}) z0
         |UNION ALL
         |SELECT * FROM (${lvl(1)}) z1
         |ORDER BY level""".stripMargin
    },

    // Sample-formula mirror of the PCM energy-envelope hash.
    "m06_audio_phash_dedup" ->
      """WITH ids AS (
        |  SELECT doc_id AS asset_id, doc_id AS src FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, doc_id FROM documents WHERE doc_id % 13 = 0),
        |s AS (
        |  SELECT i.asset_id, t.i,
        |    abs((i.src * 7 + t.i * 13) % 201 - 100) AS a,
        |    64 + (i.src % 5) * 16 AS n
        |  FROM ids i, range(0, 128) t(i)
        |  WHERE t.i < 64 + (i.src % 5) * 16),
        |wi AS (
        |  SELECT asset_id, n, i // (n // 8) AS w, SUM(a) AS e
        |  FROM s GROUP BY 1, 2, 3),
        |tot AS (SELECT asset_id, SUM(e) AS te FROM wi GROUP BY 1),
        |fp AS (
        |  SELECT w.asset_id, w.n,
        |    CAST(SUM(CASE WHEN w.e * 8 > t.te
        |         THEN CAST(round(pow(2, w.w)) AS BIGINT) ELSE 0 END)
        |         AS BIGINT) AS ahash
        |  FROM wi w JOIN tot t USING (asset_id) GROUP BY 1, 2)
        |SELECT MIN(asset_id) AS canonical_id, CAST(n AS INT) AS n_samples,
        |  ahash, COUNT(*) AS n_copies
        |FROM fp GROUP BY n, ahash HAVING COUNT(*) > 1
        |ORDER BY canonical_id""".stripMargin,

    // Sample-formula mirror of the VAD kernel: silence/speech branch on
    // (id + i/32) % 3, 16-sample windows active when SUM(|v|) > 128,
    // runs via the gaps-islands grouping (w - row_number over active).
    "m09_audio_vad" ->
      """WITH s AS (
        |  SELECT doc_id, t.i,
        |    CASE WHEN (doc_id + t.i // 32) % 3 = 0
        |         THEN abs((doc_id * 7 + t.i * 13) % 5 - 2)
        |         ELSE abs((doc_id * 7 + t.i * 13) % 201 - 100) END AS a
        |  FROM documents, range(0, 224) t(i)
        |  WHERE t.i < 128 + (doc_id % 4) * 32),
        |wi AS (
        |  SELECT doc_id, i // 16 AS w, (SUM(a) > 128) AS active
        |  FROM s GROUP BY 1, 2),
        |runs AS (
        |  SELECT doc_id,
        |    w - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w) AS grp
        |  FROM wi WHERE active),
        |rl AS (SELECT doc_id, COUNT(*) AS len FROM runs GROUP BY doc_id, grp),
        |rs AS (SELECT doc_id, COUNT(*) AS n_seg, MAX(len) AS longest
        |       FROM rl GROUP BY doc_id),
        |ag AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_windows,
        |    CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS INT) AS n_active,
        |    MIN(CASE WHEN active THEN w END) AS first_w
        |  FROM wi GROUP BY doc_id)
        |SELECT ag.doc_id AS asset_id,
        |  CAST(128 + (ag.doc_id % 4) * 32 AS INT) AS n_samples,
        |  ag.n_windows, ag.n_active,
        |  CAST(COALESCE(rs.n_seg, 0) AS INT) AS n_segments,
        |  CAST(COALESCE(rs.longest, 0) AS INT) AS longest_run,
        |  CAST(COALESCE(ag.first_w, -1) AS INT) AS first_active,
        |  ag.n_active / CAST(ag.n_windows AS DOUBLE) AS speech_frac
        |FROM ag LEFT JOIN rs USING (doc_id)
        |ORDER BY asset_id""".stripMargin,

    // m10: the oracle recomputes margins + content box purely from the
    // planted geometry formulas and the content-pixel formula — a
    // detector that mis-locates any edge by one pixel changes
    // content_sum and fails the hash.
    "m10_border_detect" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(doc_id % 3 AS INT) AS top, CAST((doc_id + 1) % 3 AS INT) AS bottom,
        |    CAST(doc_id % 2 AS INT) AS lft, CAST((doc_id + 1) % 2 AS INT) AS rgt,
        |    CAST(6 + doc_id % 5 AS INT) AS cw, CAST(5 + doc_id % 4 AS INT) AS ch
        |  FROM documents),
        |cs AS (
        |  SELECT p.asset_id,
        |    CAST(SUM(1 + (tx.x * 7 + ty.y * 13 + p.asset_id) % 199) AS BIGINT)
        |      AS content_sum
        |  FROM p, range(0, 10) tx(x), range(0, 8) ty(y)
        |  WHERE tx.x < p.cw AND ty.y < p.ch
        |  GROUP BY p.asset_id)
        |SELECT p.asset_id,
        |  CAST(p.lft + p.cw + p.rgt AS INT) AS width,
        |  CAST(p.top + p.ch + p.bottom AS INT) AS height,
        |  p.top, p.bottom, p.lft AS "left", p.rgt AS "right",
        |  p.cw AS content_w, p.ch AS content_h,
        |  CAST((p.lft + p.cw + p.rgt) * (p.top + p.ch + p.bottom)
        |       - p.cw * p.ch AS BIGINT) AS border_px,
        |  cs.content_sum,
        |  CAST(p.cw * p.ch AS DOUBLE) /
        |    ((p.lft + p.cw + p.rgt) * (p.top + p.ch + p.bottom))
        |    AS content_frac
        |FROM p JOIN cs USING (asset_id)
        |ORDER BY p.asset_id""".stripMargin,

    // m11: the oracle recomputes both pooled levels from the planted
    // pixel formula — L1 cells as floor-averaged 2×2 blocks of the
    // formula, L2 as floor-averaged 2×2 blocks of L1 (crop bounds
    // mirrored exactly), so any resize defect at either level diverges.
    "m11_image_pyramid" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(16 + doc_id % 7 AS INT) AS w0,
        |    CAST(12 + doc_id % 5 AS INT) AS h0
        |  FROM documents),
        |l1 AS (
        |  SELECT p.asset_id, p.w0, p.h0, xs.x, ys.y,
        |    (( (2*xs.x*7     + 2*ys.y*13     + p.asset_id) % 256
        |     + ((2*xs.x+1)*7 + 2*ys.y*13     + p.asset_id) % 256
        |     + (2*xs.x*7     + (2*ys.y+1)*13 + p.asset_id) % 256
        |     + ((2*xs.x+1)*7 + (2*ys.y+1)*13 + p.asset_id) % 256) // 4) AS v
        |  FROM p, range(0, 11) xs(x), range(0, 8) ys(y)
        |  WHERE xs.x < p.w0 // 2 AND ys.y < p.h0 // 2),
        |s0 AS (
        |  SELECT p.asset_id,
        |    CAST(SUM((xs.x*7 + ys.y*13 + p.asset_id) % 256) AS BIGINT) AS sum0
        |  FROM p, range(0, 22) xs(x), range(0, 16) ys(y)
        |  WHERE xs.x < p.w0 AND ys.y < p.h0
        |  GROUP BY 1),
        |s1 AS (
        |  SELECT asset_id, CAST(SUM(v) AS BIGINT) AS sum1 FROM l1 GROUP BY 1),
        |l2 AS (
        |  SELECT asset_id, x // 2 AS x2, y // 2 AS y2,
        |    CAST(SUM(v) // 4 AS BIGINT) AS v
        |  FROM l1
        |  WHERE x < 2 * ((w0 // 2) // 2) AND y < 2 * ((h0 // 2) // 2)
        |  GROUP BY 1, 2, 3),
        |s2 AS (
        |  SELECT asset_id, CAST(SUM(v) AS BIGINT) AS sum2 FROM l2 GROUP BY 1)
        |SELECT p.asset_id,
        |  p.w0 AS width0, p.h0 AS height0, s0.sum0,
        |  CAST(p.w0 // 2 AS INT) AS width1,
        |  CAST(p.h0 // 2 AS INT) AS height1, s1.sum1,
        |  CAST(p.w0 // 2 // 2 AS INT) AS width2,
        |  CAST(p.h0 // 2 // 2 AS INT) AS height2, s2.sum2
        |FROM p JOIN s0 USING (asset_id) JOIN s1 USING (asset_id)
        |  JOIN s2 USING (asset_id)
        |ORDER BY p.asset_id""".stripMargin,

    // m16: the oracle rebuilds histogram, CDF, and remap from the pixel
    // formula — cdfmin is MIN(cdf) over PRESENT values (hist rows only
    // exist for present v), n is MAX(cdf); floor division both engines.
    "m16_hist_equalize" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(16 + doc_id % 7 AS INT) AS w0,
        |    CAST(12 + doc_id % 5 AS INT) AS h0
        |  FROM documents),
        |px AS (
        |  SELECT p.asset_id, xs.x, ys.y,
        |    CAST((xs.x*7 + ys.y*13 + p.asset_id) % 256 AS BIGINT) AS v
        |  FROM p, range(0, 22) xs(x), range(0, 16) ys(y)
        |  WHERE xs.x < p.w0 AND ys.y < p.h0),
        |hist AS (
        |  SELECT asset_id, v, COUNT(*) AS cnt FROM px GROUP BY 1, 2),
        |cdf AS (
        |  SELECT asset_id, v,
        |    SUM(cnt) OVER (PARTITION BY asset_id ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cdf
        |  FROM hist),
        |anch AS (
        |  SELECT asset_id, MIN(cdf) AS cdfmin, MAX(cdf) AS n
        |  FROM cdf GROUP BY 1),
        |vmap AS (
        |  SELECT c.asset_id, c.v,
        |    CASE WHEN a.n = a.cdfmin THEN 0
        |         ELSE (c.cdf - a.cdfmin) * 255 // (a.n - a.cdfmin)
        |    END AS q
        |  FROM cdf c JOIN anch a USING (asset_id)),
        |eq AS (
        |  SELECT px.asset_id, px.x, px.y, m.q
        |  FROM px JOIN vmap m ON px.asset_id = m.asset_id AND px.v = m.v),
        |sums AS (
        |  SELECT asset_id, CAST(SUM(q) AS BIGINT) AS sum_eq,
        |    CAST(SUM(q * ((x + 1) + 257 * (y + 1))) AS BIGINT) AS chk_eq,
        |    CAST(MIN(q) AS INT) AS min_eq, CAST(MAX(q) AS INT) AS max_eq
        |  FROM eq GROUP BY 1),
        |sin AS (
        |  SELECT asset_id, CAST(SUM(v) AS BIGINT) AS sum_in
        |  FROM px GROUP BY 1)
        |SELECT p.asset_id, p.w0 AS width, p.h0 AS height, sin.sum_in,
        |  s.sum_eq, s.chk_eq, s.min_eq, s.max_eq
        |FROM p JOIN sin USING (asset_id) JOIN sums s USING (asset_id)
        |ORDER BY p.asset_id""".stripMargin,

    // m18: every lag sum rebuilt from the sample formula; ac1_ppm on
    // the shared floor-division path (max(r1,0) is nonneg, r0 > 0).
    "m18_audio_autocorr" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(64 + (doc_id % 5) * 16 AS BIGINT) AS n
        |  FROM documents),
        |r AS (
        |  SELECT p.asset_id, l.lag,
        |    CAST(SUM(((p.asset_id * 7 + i.i * 13) % 201 - 100) *
        |             ((p.asset_id * 7 + (i.i + l.lag) * 13) % 201 - 100))
        |      AS BIGINT) AS r
        |  FROM p, unnest([0, 1, 2, 4, 8]) AS l(lag), range(0, 128) i(i)
        |  WHERE i.i + l.lag < p.n
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT r.asset_id, CAST(p.n AS INT) AS n_samples,
        |    MAX(CASE WHEN lag = 0 THEN r END) AS r0,
        |    MAX(CASE WHEN lag = 1 THEN r END) AS r1,
        |    MAX(CASE WHEN lag = 2 THEN r END) AS r2,
        |    MAX(CASE WHEN lag = 4 THEN r END) AS r4,
        |    MAX(CASE WHEN lag = 8 THEN r END) AS r8
        |  FROM r JOIN p USING (asset_id)
        |  GROUP BY r.asset_id, p.n)
        |SELECT asset_id, n_samples, r0, r1, r2, r4, r8,
        |  CAST(greatest(r1, 0) * 1000000 // r0 AS BIGINT) AS ac1_ppm
        |FROM w ORDER BY asset_id""".stripMargin,

    // m17: every patch rebuilt from the pixel formula — per-patch sum,
    // min, max over the P² block, then the per-asset rollup with the
    // position-weighted checksum; the trailing-edge crop is the
    // px < w//4 / py < h//4 bound.
    "m17_patch_tiles" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(16 + doc_id % 7 AS INT) AS w0,
        |    CAST(12 + doc_id % 5 AS INT) AS h0
        |  FROM documents),
        |pat AS (
        |  SELECT p.asset_id, p.w0, p.h0, pxs.px, pys.py,
        |    CAST(SUM(((pxs.px*4 + ix.i)*7 + (pys.py*4 + jy.j)*13
        |              + p.asset_id) % 256) AS BIGINT) AS psum,
        |    MIN(((pxs.px*4 + ix.i)*7 + (pys.py*4 + jy.j)*13
        |         + p.asset_id) % 256) AS pmin,
        |    MAX(((pxs.px*4 + ix.i)*7 + (pys.py*4 + jy.j)*13
        |         + p.asset_id) % 256) AS pmax
        |  FROM p, range(0, 6) pxs(px), range(0, 4) pys(py),
        |       range(0, 4) ix(i), range(0, 4) jy(j)
        |  WHERE pxs.px < p.w0 // 4 AND pys.py < p.h0 // 4
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT asset_id,
        |  CAST(MAX(w0) AS INT) AS width, CAST(MAX(h0) AS INT) AS height,
        |  CAST(MAX(w0) // 4 AS INT) AS grid_w,
        |  CAST(MAX(h0) // 4 AS INT) AS grid_h,
        |  CAST((MAX(w0) // 4) * (MAX(h0) // 4) AS BIGINT) AS n_patches,
        |  CAST(SUM(psum) AS BIGINT) AS patch_mass,
        |  CAST(SUM(pmax - pmin) AS BIGINT) AS contrast_sum,
        |  CAST(MAX(w0) * MAX(h0)
        |       - 16 * (MAX(w0) // 4) * (MAX(h0) // 4) AS BIGINT) AS crop_px,
        |  CAST(SUM((py * (w0 // 4) + px + 1) * psum) AS BIGINT) AS chk
        |FROM pat GROUP BY asset_id ORDER BY asset_id""".stripMargin,

    // m15: gray_sum from the formula; chk_rot from the SAME formula at
    // rotated coordinates — proof the rotation permuted real pixels.
    "m15_image_rotate" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(16 + doc_id % 7 AS INT) AS w0,
        |    CAST(12 + doc_id % 5 AS INT) AS h0
        |  FROM documents),
        |orig AS (
        |  SELECT p.asset_id,
        |    CAST(SUM((xs.x*7 + ys.y*13 + p.asset_id) % 256) AS BIGINT)
        |      AS gray_sum,
        |    CAST(SUM(((xs.x*7 + ys.y*13 + p.asset_id) % 256)
        |      * ((xs.x + 1) + 257 * (ys.y + 1))) AS BIGINT) AS chk_orig
        |  FROM p, range(0, 22) xs(x), range(0, 16) ys(y)
        |  WHERE xs.x < p.w0 AND ys.y < p.h0
        |  GROUP BY 1),
        |rot AS (
        |  SELECT p.asset_id,
        |    CAST(SUM(((ys.ny*7 + (p.h0 - 1 - xs.nx)*13 + p.asset_id) % 256)
        |      * ((xs.nx + 1) + 257 * (ys.ny + 1))) AS BIGINT) AS chk_rot
        |  FROM p, range(0, 16) xs(nx), range(0, 22) ys(ny)
        |  WHERE xs.nx < p.h0 AND ys.ny < p.w0
        |  GROUP BY 1)
        |SELECT p.asset_id, p.w0 AS width, p.h0 AS height,
        |  p.h0 AS rot_width, p.w0 AS rot_height,
        |  o.gray_sum, o.chk_orig, r.chk_rot
        |FROM p JOIN orig o USING (asset_id) JOIN rot r USING (asset_id)
        |ORDER BY p.asset_id""".stripMargin,

    // m13: the oracle knows ONLY the planted formulas — matching width/
    // height proves the walker parsed IHDR's real bytes; source_tag
    // proves the spliced tEXt chunk round-tripped; crc_all_ok proves
    // every CRC (ImageIO's and the from-scratch one) re-verified.
    "m13_png_metadata" ->
      """SELECT doc_id AS asset_id,
        |  CAST(16 + doc_id % 7 AS INT) AS width,
        |  CAST(12 + doc_id % 5 AS INT) AS height,
        |  'src' || CAST(doc_id % 20 AS VARCHAR) AS source_tag,
        |  CAST(1 AS INT) AS n_text,
        |  true AS crc_all_ok
        |FROM documents ORDER BY asset_id""".stripMargin,

    // m21: the oracle knows only the plant formulas and the pixel
    // formula — the matching gray_sum proves the STRIPPED container
    // still decodes to ImageIO's actual pixels, and the zeroed text
    // columns prove the scrub; ImageIO writes no ancillary chunks of
    // its own for RGB (m13's n_text = 1 pin already rests on that), so
    // n_dropped equals the planted count.
    "m21_metadata_strip" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(16 + doc_id % 7 AS INT) AS w,
        |    CAST(12 + doc_id % 5 AS INT) AS h
        |  FROM documents),
        |s AS (
        |  SELECT p.asset_id,
        |    CAST(SUM((xs.x*7 + ys.y*13 + p.asset_id) % 256) AS BIGINT)
        |      AS gray_sum
        |  FROM p, range(0, 22) xs(x), range(0, 16) ys(y)
        |  WHERE xs.x < p.w AND ys.y < p.h GROUP BY 1)
        |SELECT p.asset_id, p.w AS width, p.h AS height,
        |  CAST(1 + CASE WHEN p.asset_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
        |    AS n_text_before,
        |  CAST(1 + CASE WHEN p.asset_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
        |    AS n_dropped,
        |  CAST(0 AS INT) AS n_text_after,
        |  '' AS tag_after,
        |  true AS crc_ok_after,
        |  s.gray_sum
        |FROM p JOIN s USING (asset_id) ORDER BY asset_id""".stripMargin,

    // m14: the oracle recomputes every gained sample from the PCM
    // formula with symmetric truncation ((v·g) // 256 — DuckDB '//'
    // truncates toward zero exactly like Scala Long division, which is
    // the point: floor would diverge on negative odd products), then
    // clamps and counts clips independently.
    "m14_audio_normalize" ->
      """WITH sv AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(64 + (doc_id % 5) * 16 AS INT) AS n,
        |    unnest(range(0, 64 + (doc_id % 5) * 16)) AS i
        |  FROM documents),
        |vv AS (
        |  SELECT asset_id, n,
        |    CAST(((7 * asset_id + 13 * i) % 201) - 100 AS BIGINT) AS v
        |  FROM sv),
        |pre AS (
        |  SELECT asset_id, MAX(n) AS n, MAX(abs(v)) AS peak_in,
        |    CAST(SUM(abs(v)) AS BIGINT) AS sum_abs_in
        |  FROM vv GROUP BY asset_id),
        |gg AS (
        |  SELECT asset_id, n, peak_in, sum_abs_in,
        |    (CAST(20000 AS BIGINT) * 256 * n)
        |      // greatest(sum_abs_in, 1) AS gain_q8
        |  FROM pre),
        |post AS (
        |  SELECT v.asset_id,
        |    SUM(CASE WHEN (v.v * g.gain_q8) // 256 > 32767
        |               OR (v.v * g.gain_q8) // 256 < -32767
        |             THEN 1 ELSE 0 END) AS n_clipped,
        |    MAX(abs(LEAST(CAST(32767 AS BIGINT),
        |      GREATEST(CAST(-32767 AS BIGINT),
        |        (v.v * g.gain_q8) // 256)))) AS peak_out,
        |    SUM(abs(LEAST(CAST(32767 AS BIGINT),
        |      GREATEST(CAST(-32767 AS BIGINT),
        |        (v.v * g.gain_q8) // 256)))) AS sum_abs_out
        |  FROM vv v JOIN gg g USING (asset_id)
        |  GROUP BY v.asset_id)
        |SELECT g.asset_id, g.n AS n_samples,
        |  CAST(g.peak_in AS INT) AS peak_in,
        |  CAST(g.sum_abs_in AS BIGINT) AS sum_abs_in,
        |  CAST(g.gain_q8 AS BIGINT) AS gain_q8,
        |  CAST(p.n_clipped AS INT) AS n_clipped,
        |  CAST(p.peak_out AS BIGINT) AS peak_out,
        |  CAST(p.sum_abs_out AS BIGINT) AS sum_abs_out
        |FROM gg g JOIN post p USING (asset_id)
        |ORDER BY g.asset_id""".stripMargin,

    // m12: the oracle recomputes every decimated sample from the PCM
    // formula with floor((s(2i)+s(2i+1))/2) — the arithmetic-shift
    // floor on the Spark side must equal it for negative pairs too.
    // m23: every column replays from the channel formulas (the CASE
    // states the dead-before-inverted precedence); the Spark side
    // proves they sit in real interleaved bytes.
    "m23_stereo_downmix" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(64 + (doc_id % 5) * 16 AS INT) AS n
        |  FROM documents),
        |ch AS (
        |  SELECT p.asset_id, p.n, t.i,
        |    CAST((p.asset_id * 7 + t.i * 13) % 201 - 100 AS BIGINT) AS l,
        |    CAST(CASE
        |      WHEN p.asset_id % 7 = 0 THEN 0
        |      WHEN p.asset_id % 11 = 0
        |        THEN -((p.asset_id * 7 + t.i * 13) % 201 - 100)
        |      ELSE (p.asset_id * 11 + t.i * 17) % 201 - 100
        |    END AS BIGINT) AS r
        |  FROM p, range(0, 128) t(i) WHERE t.i < p.n),
        |m AS (
        |  SELECT asset_id, n, i, l, r,
        |    CAST(floor((l + r) / 2.0) AS BIGINT) AS mono
        |  FROM ch)
        |SELECT asset_id, CAST(MAX(n) AS INT) AS n_frames,
        |  CAST(SUM(ABS(l)) AS BIGINT) AS l_mass,
        |  CAST(SUM(ABS(r)) AS BIGINT) AS r_mass,
        |  CAST(SUM(ABS(mono)) AS BIGINT) AS mono_mass,
        |  CAST(MAX(ABS(mono)) AS INT) AS mono_peak,
        |  CAST(SUM(mono * (i + 1)) AS BIGINT) AS mono_chk,
        |  SUM(ABS(r)) = 0 AS dead_right,
        |  SUM(ABS(mono)) * 8 < SUM(ABS(l)) AS cancelled
        |FROM m GROUP BY asset_id ORDER BY asset_id""".stripMargin,

    "m12_audio_decimate" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(64 + (doc_id % 5) * 16 AS INT) AS n
        |  FROM documents),
        |o AS (
        |  SELECT p.asset_id, t.i,
        |    CAST(floor((((p.asset_id * 7 + (2 * t.i) * 13) % 201 - 100)
        |       + ((p.asset_id * 7 + (2 * t.i + 1) * 13) % 201 - 100)) / 2.0)
        |      AS BIGINT) AS v
        |  FROM p, range(0, 64) t(i)
        |  WHERE t.i < p.n // 2)
        |SELECT p.asset_id, p.n AS n_in, CAST(p.n // 2 AS INT) AS n_out,
        |  CAST(MAX(ABS(o.v)) AS INT) AS peak,
        |  CAST(SUM(ABS(o.v)) AS BIGINT) AS sum_abs,
        |  CAST(SUM(o.v * ((o.i % 7) + 1)) AS BIGINT) AS wsum
        |FROM p JOIN o USING (asset_id)
        |GROUP BY p.asset_id, p.n ORDER BY p.asset_id""".stripMargin,

    // m19: delays replay from the planted formula ((id+f) % 5 + 1)·2;
    // the walker side proves they sit in the real container bytes.
    "m19_gif_timing" ->
      """WITH f AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(16 + doc_id % 9 AS INT) AS n,
        |    unnest(range(0, 16 + doc_id % 9)) AS fi
        |  FROM documents),
        |d AS (
        |  SELECT asset_id, n, fi,
        |    CAST(((asset_id + fi) % 5 + 1) * 2 AS BIGINT) AS delay
        |  FROM f)
        |SELECT asset_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |  CAST(MAX(n) AS INT) AS n_frames, CAST(COUNT(*) AS INT) AS n_gce,
        |  CAST(SUM(delay) AS BIGINT) AS delay_sum_cs,
        |  CAST(MIN(delay) AS INT) AS delay_min_cs,
        |  CAST(MAX(delay) AS INT) AS delay_max_cs,
        |  CAST(SUM((fi + 1) * delay) AS BIGINT) AS delay_chk,
        |  true AS trailer_ok
        |FROM d GROUP BY asset_id ORDER BY asset_id""".stripMargin,

    // m20: every field replays from the planted formulas (rate cycle,
    // PCM sample count, the m14 sum-|v| sum); the walker proves they
    // sit in real RIFF bytes.
    "m20_wav_metadata" ->
      """WITH p AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(64 + (doc_id % 5) * 16 AS INT) AS n,
        |    CAST(8000 * (1 + doc_id % 3) AS INT) AS rate
        |  FROM documents),
        |sa AS (
        |  SELECT p.asset_id,
        |    CAST(SUM(ABS(((p.asset_id * 7 + t.i * 13) % 201) - 100))
        |      AS BIGINT) AS sum_abs
        |  FROM p, range(0, 144) t(i) WHERE t.i < p.n
        |  GROUP BY 1)
        |SELECT p.asset_id, p.rate AS sample_rate,
        |  CAST(p.rate * 2 AS INT) AS byte_rate,
        |  CAST(2 AS INT) AS block_align, CAST(16 AS INT) AS bits,
        |  p.n AS n_samples,
        |  CAST(CAST(p.n AS BIGINT) * 1000000 // p.rate AS BIGINT)
        |    AS duration_us,
        |  'src' || CAST(p.asset_id % 20 AS VARCHAR) AS source_tag,
        |  sa.sum_abs, true AS riff_ok
        |FROM p JOIN sa USING (asset_id) ORDER BY p.asset_id""".stripMargin,

    // m08's scene formula mirror: pixel(x, y, f) = (7x + 13y +
    // 97·(f//5) + id) % 256; per-transition Σ|Δ|, integer cut test.
    "m08_scene_cuts" ->
      """WITH tr AS (
        |  SELECT d.doc_id, f.f,
        |    CAST(SUM(ABS(
        |      (x.x * 7 + y.y * 13 + (f.f // 5) * 97 + d.doc_id) % 256 -
        |      (x.x * 7 + y.y * 13 + ((f.f - 1) // 5) * 97 + d.doc_id) % 256))
        |      AS BIGINT) AS delta
        |  FROM documents d, range(1, 25) f(f), range(0, 8) x(x), range(0, 6) y(y)
        |  WHERE f.f < 16 + d.doc_id % 9
        |  GROUP BY d.doc_id, f.f)
        |SELECT doc_id AS asset_id,
        |  CAST(16 + doc_id % 9 AS INT) AS n_frames,
        |  CAST(SUM(CASE WHEN delta > 384 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cuts,
        |  CAST(COALESCE(MIN(CASE WHEN delta > 384 THEN f END), -1) AS BIGINT)
        |    AS first_cut,
        |  CAST(SUM(delta) AS BIGINT) AS total_delta
        |FROM tr GROUP BY doc_id ORDER BY asset_id""".stripMargin,

    // m05's pixel-formula aHash mirror over the %7/+4000000
    // caption-variant corpus, with captions reduced to the portable
    // 60-bit hash.
    "m07_caption_variants" ->
      s"""WITH ids AS (
         |  SELECT doc_id AS asset_id, doc_id AS src, text AS caption
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 4000000, doc_id, text || ' (alt caption)'
         |  FROM documents WHERE doc_id % 7 = 0),
         |px AS (
         |  SELECT i.asset_id,
         |    CAST(4 + i.src % 5 AS INT) AS w, CAST(3 + i.src % 4 AS INT) AS h,
         |    tx.x, ty.y, (tx.x * 7 + ty.y * 13 + i.src) % 256 AS v
         |  FROM ids i, range(0, 8) tx(x), range(0, 6) ty(y)
         |  WHERE tx.x < 4 + i.src % 5 AND ty.y < 3 + i.src % 4),
         |st AS (
         |  SELECT asset_id, w, h, SUM(v) AS s, COUNT(*) AS n
         |  FROM px GROUP BY 1, 2, 3),
         |bits AS (
         |  SELECT p.asset_id, p.w, p.h,
         |    CAST(SUM(CASE WHEN p.v * st.n > st.s
         |         THEN CAST(round(pow(2, p.y * p.w + p.x)) AS BIGINT)
         |         ELSE 0 END) AS BIGINT) AS ahash
         |  FROM px p JOIN st USING (asset_id)
         |  GROUP BY 1, 2, 3),
         |caps AS (
         |  SELECT asset_id, ${graft.Dets.phashSql("caption")} AS cap_h
         |  FROM ids)
         |SELECT MIN(b.asset_id) AS canonical_id, b.w AS width, b.h AS height,
         |  b.ahash, COUNT(*) AS n_items,
         |  COUNT(DISTINCT c.cap_h) AS n_captions
         |FROM bits b JOIN caps c USING (asset_id)
         |GROUP BY b.w, b.h, b.ahash
         |HAVING COUNT(DISTINCT c.cap_h) > 1
         |ORDER BY canonical_id""".stripMargin
  )
}
