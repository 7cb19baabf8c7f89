package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media assets are opaque `binary` columns with a typed metadata struct,
  * the standard lakehouse shape for 100 TB multimodal corpora: content
  * bytes stay in parquet binary pages (column-pruned away unless the query
  * touches them), metadata is queryable without decoding.
  *
  * Image decode is REAL: [[ImageIoCodec]] decodes PNG/JPEG/GIF/BMP with
  * the JDK's `javax.imageio` (no external codecs needed). The decode runs
  * partition-parallel inside `mapPartitions` — the legitimate use: an
  * external-library call per binary value, no shuffle, content column
  * pruned away unless the query actually decodes.
  */
object MediaOps {

  case class MediaMeta(format: String, width: Int, height: Int, duration_ms: Int)

  /** A decoded raster, reduced to row-major 0–255 luminance — the common
    * denominator every downstream feature step here consumes. */
  final case class DecodedImage(width: Int, height: Int, gray: Array[Int])

  /** JDK `javax.imageio` codec: PNG/JPEG/GIF/BMP without any external
    * native library. Multi-band images collapse to integer ITU-R 601
    * luminance; single-band (grayscale) rasters pass through exactly, so
    * decoded pixels of a lossless grayscale PNG are bit-exact — which is
    * what lets q42's oracle predict the pixel checksum in closed form.
    * None on undecodable bytes — corrupt assets are dropped, not fatal. */
  object ImageIoCodec {
    def decode(content: Array[Byte]): Option[DecodedImage] = {
      // Lock-free fast path for fully-standard 8-bit PNGs ([[PngCodec]]):
      // ImageIO.read synchronizes on the global IIORegistry per call, so
      // a 32-task decode stage is serialized onto ~1.5 cores (measured).
      // The fast path is bit-exact by construction (parity-pinned) and
      // returns None on ANYTHING nonstandard, falling through to the
      // ImageIO path below — the decode verdict never changes.
      val fast = PngCodec.decode(content)
      if (fast.isDefined) return fast
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val gray = new Array[Int](w * h)
        val raster = img.getRaster
        // the fast path must uphold the 0–255 luminance contract: a
        // 16-bit (TYPE_USHORT_GRAY) or 1-bit bilevel PNG also reads as a
        // single-band raster, but with raw samples 0–65535 / 0–1 — those
        // route through getRGB like multi-band images
        if (raster.getNumBands == 1 && raster.getSampleModel.getSampleSize(0) == 8) {
          raster.getSamples(0, 0, w, h, 0, gray)
        } else {
          var y = 0
          var i = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xFF
              val g = (rgb >> 8) & 0xFF
              val b = rgb & 0xFF
              gray(i) = (r * 299 + g * 587 + b * 114) / 1000
              x += 1; i += 1
            }
            y += 1
          }
        }
        Some(DecodedImage(w, h, gray))
      }
    }
  }

  private val formats = Seq("jpeg", "png", "webp")

  /** Fabricate a deterministic media table from the documents table:
    * content = 16-byte synthetic header ++ utf8(text); metadata derived
    * arithmetically from doc_id (so an ANSI oracle exists). */
  def mediaTable(documents: DataFrame): DataFrame = {
    val fmt = element_at(
      array(formats.map(lit): _*), (col("doc_id") % 3 + 1).cast("int"))
    documents.select(
      col("doc_id"),
      concat(
        encode(rpad(fmt, 8, " "), "UTF-8"),
        encode(lpad((col("doc_id") % 100000).cast("string"), 8, "0"), "UTF-8"),
        encode(col("text"), "UTF-8")).as("content"),
      struct(
        fmt.as("format"),
        (lit(320) + (col("doc_id") % 8) * 160).cast("int").as("width"),
        (lit(240) + (col("doc_id") % 8) * 120).cast("int").as("height"),
        (lit(1000) + (col("doc_id") % 60) * 500).cast("int").as("duration_ms")).as("meta"))
  }

  /** Deterministic grayscale test PNG for `docId`: width 16 + id%8,
    * height 12 + id%5, pixel(x, y) = (id % 200) + x. The base stays below
    * 200 and x below 24, so no byte wraps and the decoded pixel checksum
    * has the closed form h·(w·base + w(w−1)/2) — an ANSI-SQL oracle for a
    * REAL codec round-trip (PNG is lossless). */
  def testPngBytes(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 8).toInt
    val h = 12 + (docId % 5).toInt
    val base = (docId % 200).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, base + x); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** (doc_id, content) table of [[testPngBytes]] images, encoded
    * partition-parallel — the ingest half of the decode round-trip. */
  def pngTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, testPngBytes(id))))
      .toDF("doc_id", "content")
  }

  case class MediaDecoded(doc_id: Long, width: Int, height: Int,
                          checksum: Long, features: Array[Float])

  /** REAL decode: binary content in, decoded dimensions + pixel checksum +
    * a 2×2 mean-luminance feature vector out. Partition-parallel, no
    * shuffle, undecodable rows dropped (`flatMap` over the decode Option). */
  def decodeImages(media: DataFrame): Dataset[MediaDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          ImageIoCodec.decode(bytes).map { d =>
            var sum = 0L
            var i = 0
            while (i < d.gray.length) { sum += d.gray(i); i += 1 }
            MediaDecoded(id, d.width, d.height, sum, gridFeatures(d))
          }
        }
      }
  }

  case class MediaStatus(doc_id: Long, ok: Boolean, width: Int, height: Int,
                         checksum: Long, features: Array[Float],
                         uniform: Boolean)

  /** [[decodeImages]] with decode FAILURES kept as `ok = false` rows
    * instead of dropped — the one-pass shape a curation gate needs:
    * failed/flagged/clean are all decided from this single decode
    * relation, with no second scan of the (heavy, binary) media table
    * and no anti-join to recover the failure set. Same partition-
    * parallel `mapPartitions`, no shuffle.
    *
    * `uniform` is exact per-pixel min == max over the full raster —
    * tracked inside the checksum loop for free, and the SAME blank-asset
    * definition as `VideoOps.decodeStatus`. (The former grid-mean
    * equality proxy silently flagged any balanced raster — e.g. a
    * checkerboard — whose cell means happen to coincide.) */
  def decodeStatus(media: DataFrame): Dataset[MediaStatus] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          ImageIoCodec.decode(bytes) match {
            case Some(d) =>
              var sum = 0L
              var mn = 255
              var mx = 0
              var i = 0
              while (i < d.gray.length) {
                val v = d.gray(i)
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              MediaStatus(id, ok = true, d.width, d.height, sum,
                gridFeatures(d), uniform = d.gray.nonEmpty && mn == mx)
            case None =>
              MediaStatus(id, ok = false, 0, 0, 0L, Array.empty[Float],
                uniform = false)
          }
        }
      }
  }

  // ------------------------------------------------- perceptual hashing

  /** Exact 128-bit comparison of `a*b` vs `c*d` — the cross-multiplied
    * mean comparisons below would overflow Long for extreme inputs
    * (≳400 MP rasters, multi-hour clips), silently flipping hash bits.
    * `Math.multiplyHigh` (an intrinsic) keeps the compare exact at any
    * raster/sample count with no hot-path cost. */
  private def mulCmp(a: Long, b: Long, c: Long, d: Long): Int = {
    val hi1 = Math.multiplyHigh(a, b)
    val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
    else java.lang.Long.compareUnsigned(a * b, c * d)
  }

  /** aHash: 8×8 grid of cell luminance sums; bit (r·8+c) set iff the
    * cell's mean exceeds the image mean. All-integer cross-multiplied
    * comparison (cellSum·totalPixels > totalSum·cellPixels) — no float
    * rounding, so the hash is exactly reproducible by bit arithmetic on
    * any engine. Ragged grids (width/height not divisible by 8) weight
    * each cell by its true pixel count. */
  def aHash64(d: DecodedImage): Long = {
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < d.height) {
      val r = y * 8 / d.height
      var x = 0
      while (x < d.width) {
        val c = r * 8 + (x * 8 / d.width)
        val v = d.gray(y * d.width + x)
        sums(c) += v
        cnts(c) += 1
        total += v
        x += 1
      }
      y += 1
    }
    val pixels = d.width.toLong * d.height
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (cnts(i) > 0 && mulCmp(sums(i), pixels, total, cnts(i)) > 0) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** dHash: 9×8 grid (9 column cells × 8 row cells); bit (r·8+c) set
    * iff cell (r,c) is brighter than its right neighbor (r,c+1) —
    * gradient direction, the rotation of aHash that survives global
    * brightness shifts. Same integer cross-multiplied comparison. */
  def dHash64(d: DecodedImage): Long = {
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < d.height) {
      val r = y * 8 / d.height
      var x = 0
      while (x < d.width) {
        val c = x * 9 / d.width
        sums(r)(c) += d.gray(y * d.width + x)
        cnts(r)(c) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cnts(r)(c) > 0 && cnts(r)(c + 1) > 0 &&
            mulCmp(sums(r)(c), cnts(r)(c + 1), sums(r)(c + 1), cnts(r)(c)) > 0)
          hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  final case class PerceptualHashes(doc_id: Long, ok: Boolean,
                                    ahash: Long, dhash: Long)

  /** One decode pass → 64-bit perceptual signatures per image (decode
    * failures kept as ok = false, the gate convention). Partition-
    * parallel, no shuffle. */
  def perceptualHashes(media: DataFrame): Dataset[PerceptualHashes] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          ImageIoCodec.decode(bytes) match {
            case Some(d) => PerceptualHashes(id, ok = true, aHash64(d), dHash64(d))
            case None => PerceptualHashes(id, ok = false, 0L, 0L)
          }
        }
      }
  }

  final case class PerceptualWithChecksum(doc_id: Long, ok: Boolean,
                                          ahash: Long, checksum: Long)

  /** [[perceptualHashes]] that ALSO emits the pixel checksum (the
    * luminance-sum quality score of the keep rule) from the SAME decode —
    * decode is the dominant per-row cost of the perceptual-dup stage, and
    * the former hash-pass + [[decodeImages]]-scores-pass shape paid it
    * twice per asset (r21 measurement: the image-dup arm's two decode
    * passes were the stage). The checksum here is bit-identical to
    * [[decodeImages]]' (same gray-sum loop); ok = false rows mirror the
    * decode failures [[decodeImages]] drops. */
  def perceptualChecksums(media: DataFrame): Dataset[PerceptualWithChecksum] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          ImageIoCodec.decode(bytes) match {
            case Some(d) =>
              var sum = 0L
              var i = 0
              while (i < d.gray.length) { sum += d.gray(i); i += 1 }
              PerceptualWithChecksum(id, ok = true, aHash64(d), sum)
            case None => PerceptualWithChecksum(id, ok = false, 0L, 0L)
          }
        }
      }
  }

  /** Perceptual IMAGE near-dup pairs: aHash signatures through the
    * simhash band core ([[DedupOps.simhashPairsFromSigs]] — banded
    * equi-join candidates, exact recall at `maxDist` by pigeonhole,
    * never all-pairs). The text near-dup machinery applied to the
    * modality the media gates only integrity-check: a multimodal
    * corpus dedups images too. Returns (doc_a, doc_b, dist). */
  def perceptualDupPairs(media: DataFrame, maxDist: Int = 2): DataFrame =
    DedupOps.simhashPairsFromSigs(
      perceptualHashes(media).toDF()
        .filter(col("ok"))
        .select(col("doc_id").as("doc"), col("ahash").as("sig")),
      maxDist)

  /** Audio envelope hash — the aHash analog for the third modality:
    * 64 equal time segments; bit s set iff the segment's mean sample
    * value exceeds the clip mean (all-integer cross-multiplied, exactly
    * [[aHash64]]'s comparison). Robust to uniform gain shifts by
    * construction (every segment moves with the mean); banded through
    * the same Hamming core for near-dup mining. */
  def audioHash64(d: DecodedAudio): Long = {
    val n = d.samples.length
    if (n == 0) 0L
    else {
      val sums = new Array[Long](64)
      val cnts = new Array[Long](64)
      var total = 0L
      var i = 0
      while (i < n) {
        val s = (i.toLong * 64 / n).toInt
        val v = d.samples(i)
        sums(s) += v
        cnts(s) += 1
        total += v
        i += 1
      }
      var hash = 0L
      var s = 0
      while (s < 64) {
        if (cnts(s) > 0 && mulCmp(sums(s), n, total, cnts(s)) > 0) hash |= 1L << s
        s += 1
      }
      hash
    }
  }

  final case class AudioHash(doc_id: Long, ok: Boolean, ahash: Long)

  /** One decode pass → envelope signatures (failures kept ok=false). */
  def audioHashes(clips: DataFrame): Dataset[AudioHash] = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          JavaSoundCodec.decode(bytes) match {
            case Some(d) => AudioHash(id, ok = true, audioHash64(d))
            case None => AudioHash(id, ok = false, 0L)
          }
        }
      }
  }

  /** Perceptual AUDIO near-dup pairs via the simhash band core — same
    * contract as [[perceptualDupPairs]]: exact recall at `maxDist` by
    * pigeonhole, never all-pairs. */
  def audioDupPairs(clips: DataFrame, maxDist: Int = 2): DataFrame =
    DedupOps.simhashPairsFromSigs(
      audioHashes(clips).toDF()
        .filter(col("ok"))
        .select(col("doc_id").as("doc"), col("ahash").as("sig")),
      maxDist)

  /** Deterministic audio-dedup fixture: 512-sample 8-bit mono WAV,
    * envelope class by id arithmetic (integer margins hand-verified —
    * no segment ever ties the clip mean):
    *  - id % 4 == 0 → ascending ramp ⌊i/4⌋        (bits 32..63),
    *  - id % 4 == 1 → descending ramp              (bits 0..31),
    *  - id % 4 == 2 → class-0 ramp + 1 everywhere (uniform gain shift —
    *    IDENTICAL hash to class 0: the near-duplicate class),
    *  - id % 4 == 3 → triangle ⌊min(i,511−i)/2⌋  (bits 16..47).
    * Cross-class Hamming: 64 (0↔1), 32 (0↔3); intra-class 0. */
  def audioDupWavBytes(docId: Long): Array[Byte] = {
    val n = 512
    val cls = (docId % 4).toInt
    val b = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1); b.putShort(1); b.putInt(8000); b.putInt(8000)
    b.putShort(1); b.putShort(8)
    b.put("data".getBytes("US-ASCII")).putInt(n)
    var i = 0
    while (i < n) {
      val v = cls match {
        case 0 => i / 4
        case 1 => (511 - i) / 4
        case 2 => i / 4 + 1
        case _ => math.min(i, 511 - i) / 2
      }
      b.put(v.toByte)
      i += 1
    }
    b.array()
  }

  /** (doc_id, content) table of [[audioDupWavBytes]] clips; `idShift`
    * offsets the ENVELOPE-class id (not the doc id), the
    * [[perceptualTable]] convention — so incremental fixtures can give
    * history clips classes that overlap only part of the batch's. */
  def audioDupTable(documents: DataFrame, idShift: Long = 0L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, audioDupWavBytes(id + idShift))))
      .toDF("doc_id", "content")
  }

  /** Deterministic perceptual fixture: 32×32 grayscale PNG, pattern
    * class by id arithmetic — closed-form aHash equivalence an ANSI
    * oracle predicts without bit arithmetic over pixels:
    *  - id % 4 == 0 → horizontal gradient p = 8x   (aHash: right half),
    *  - id % 4 == 1 → reversed gradient p = 8(31−x) (left half),
    *  - id % 4 == 2 → class-0 gradient + a ±1 checker perturbation
    *    (every 4×4 cell's mean shifts by the same +0.5 → IDENTICAL
    *    aHash to class 0: the near-duplicate class),
    *  - id % 4 == 3 → vertical gradient p = 8y     (bottom half).
    * Cross-class Hamming distances are 64 (0↔1), 32 (0↔3) — any
    * τ < 32 separates exactly; intra-class distance is 0. Class 2's
    * pixel sum exceeds class 0's by 512, so a luminance-checksum
    * quality keep-rule deterministically prefers class-2 members. */
  def perceptualPngBytes(docId: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    val cls = (docId % 4).toInt
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        val v = cls match {
          case 0 => 8 * x
          case 1 => 8 * (31 - x)
          case 2 => 8 * x + (if ((x + y) % 2 == 0) 1 else 0)
          case _ => 8 * y
        }
        raster.setSample(x, y, 0, v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** (doc_id, content) table of [[perceptualPngBytes]] images;
    * `idShift` offsets the PATTERN id (not the doc id) so fixtures can
    * place chosen pattern classes on chosen doc slices (the
    * incremental media-dup fixture wants history assets whose classes
    * overlap only part of the batch's). */
  def perceptualTable(documents: DataFrame, idShift: Long = 0L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, perceptualPngBytes(id + idShift))))
      .toDF("doc_id", "content")
  }

  /** Constant-value grayscale PNG at `docId`'s [[testPngBytes]]
    * dimensions — the "blank asset" fixture (uniform rasters are what a
    * dead camera / placeholder image produce). */
  def constPngBytes(docId: Long, value: Int): Array[Byte] = {
    val w = 16 + (docId % 8).toInt
    val h = 12 + (docId % 5).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, value); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic curation-fixture asset for `docId`, closed-form bad
    * classes by id arithmetic (so an ANSI oracle predicts exactly which
    * docs a media gate drops):
    *  - id % 7 == 3 → undecodable bytes        (decode-fail class),
    *  - id % 7 == 5 → constant BLACK raster    (extreme-mean class),
    *  - id % 7 == 6 → constant mid-gray raster (uniform/blank class),
    *  - else        → the [[testPngBytes]] gradient (healthy; its mean
    *    is base + (w−1)/2 ∈ [7.5, 210.5], inside any sane band). */
  def testCuratedMediaBytes(docId: Long): Array[Byte] = (docId % 7) match {
    case 3 => Array[Byte](0x42, 0x41, 0x44)
    case 5 => constPngBytes(docId, 0)
    case 6 => constPngBytes(docId, 100)
    case _ => testPngBytes(docId)
  }

  /** (doc_id, content) table of [[testCuratedMediaBytes]] assets for the
    * EVEN-id docs (odd ids stay text-only — a multimodal corpus is never
    * fully image-bearing), encoded partition-parallel. */
  def curatedMediaTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).filter(col("doc_id") % 2 === 0).as[Long]
      .mapPartitions(it => it.map(id => (id, testCuratedMediaBytes(id))))
      .toDF("doc_id", "content")
  }

  /** A decoded audio clip: format facts plus unsigned 8-bit samples
    * (the common denominator for fingerprinting/feature steps here). */
  final case class DecodedAudio(sample_rate: Int, channels: Int,
                                samples: Array[Int])

  /** JDK `javax.sound.sampled` codec: WAV/AIFF/AU without any external
    * native library. 8-bit PCM passes through exactly (what lets q73's
    * oracle predict the sample checksum in closed form); 16-bit PCM
    * collapses to unsigned 8-bit by taking the high byte. None on
    * undecodable bytes. */
  object JavaSoundCodec {

    /** Raw PCM frames → unsigned 8-bit samples, or None for unsupported
      * depths. Package-visible because JavaSound's WAV reader can never
      * hand the 16-bit-unsigned branch a real container (WAV 16-bit is
      * signed by spec) — the branch is reachable only via AIFF/AU
      * variants, so its test drives this conversion directly. */
    private[graft] def toSamples(
        fmt: javax.sound.sampled.AudioFormat,
        bytes: Array[Byte]): Option[Array[Int]] = {
      val signed = fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      fmt.getSampleSizeInBits match {
        case 8 =>
          Some(bytes.map(b => if (signed) (b & 0xFF) ^ 0x80 else b & 0xFF))
        case 16 =>
          // The ^0x80 converts a SIGNED high byte to the unsigned-8-bit
          // lane; an unsigned 16-bit stream's high byte is already
          // unsigned, so the same XOR would offset every sample by 128.
          val out = new Array[Int](bytes.length / 2)
          val hi = if (fmt.isBigEndian) 0 else 1
          var i = 0
          while (i < out.length) {
            val b = bytes(2 * i + hi) & 0xFF
            out(i) = if (signed) b ^ 0x80 else b
            i += 1
          }
          Some(out)
        case _ => None
      }
    }

    def decode(content: Array[Byte]): Option[DecodedAudio] = {
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val fmt = in.getFormat
          val bytes = in.readAllBytes()
          toSamples(fmt, bytes).map(samples =>
            DecodedAudio(fmt.getSampleRate.toInt, fmt.getChannels, samples))
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Deterministic 8-bit unsigned PCM mono WAV for `docId`: rate 8000 Hz,
    * n = 400 + id%100 samples, sample(i) = (id % 200) + (i % 50) — wrap-free
    * (< 250), so the decoded sample checksum has the closed form
    * k·(50·base + 1225) + r·base + r(r−1)/2 with k = n/50, r = n%50.
    * The RIFF container is written by hand (44-byte canonical header);
    * decoding it through [[JavaSoundCodec]] exercises real WAV parsing. */
  def testWavBytes(docId: Long): Array[Byte] = {
    val n = 400 + (docId % 100).toInt
    val base = (docId % 200).toInt
    val b = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1)        // PCM
    b.putShort(1)        // mono
    b.putInt(8000)       // sample rate
    b.putInt(8000)       // byte rate (8-bit mono)
    b.putShort(1)        // block align
    b.putShort(8)        // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(n)
    var i = 0
    while (i < n) { b.put((base + i % 50).toByte); i += 1 }
    b.array()
  }

  /** (doc_id, content) table of [[testWavBytes]] clips, partition-parallel. */
  def wavTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, testWavBytes(id))))
      .toDF("doc_id", "content")
  }

  /** Constant-sample WAV at `docId`'s [[testWavBytes]] geometry — the
    * "silent / dead-mic clip" fixture (a DC line is what a broken
    * recording chain produces); `n` overrides the sample count (0 =
    * an empty data chunk — a truncated upload). */
  def constWavBytes(docId: Long, value: Int, n: Int = -1): Array[Byte] = {
    val len = if (n >= 0) n else 400 + (docId % 100).toInt
    val b = java.nio.ByteBuffer.allocate(44 + len)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + len)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1); b.putShort(1); b.putInt(8000); b.putInt(8000)
    b.putShort(1); b.putShort(8)
    b.put("data".getBytes("US-ASCII")).putInt(len)
    var i = 0
    while (i < len) { b.put(value.toByte); i += 1 }
    b.array()
  }

  /** Per-clip integrity summary for the curation gate: decode outcome,
    * sample count/mass, and whether the clip is SILENT (every sample
    * equal — a dead mic / DC line). Decode failures are KEPT as
    * ok=false rows, same single-pass contract as [[decodeStatus]]. */
  final case class AudioStatus(doc_id: Long, ok: Boolean, n_samples: Int,
                               sample_sum: Long, silent: Boolean)

  /** One decode pass over an audio column producing [[AudioStatus]]
    * rows — the audio analog of [[decodeStatus]]/`VideoOps.decodeStatus`:
    * partition-parallel mapPartitions, no shuffle, no second scan of the
    * binary column. */
  def audioStatus(media: DataFrame): Dataset[AudioStatus] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          JavaSoundCodec.decode(bytes) match {
            case None => AudioStatus(id, ok = false, 0, 0L, silent = false)
            case Some(a) =>
              var sum = 0L
              var mn = Int.MaxValue; var mx = Int.MinValue
              var i = 0
              while (i < a.samples.length) {
                val v = a.samples(i)
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              AudioStatus(id, ok = true, a.samples.length, sum,
                silent = a.samples.length > 0 && mn == mx)
          }
        }
      }
  }

  /** Deterministic curation-fixture clip for `docId`, closed-form bad
    * classes by id arithmetic (id%11, so the audio classes are
    * independent of the image/video id%7 classes):
    *  - id%11 == 4 → corrupt bytes (decode fails),
    *  - id%11 == 7 → a silent clip (every sample 128 — the dead-mic DC
    *    line only the silence rule catches),
    *  - id%11 == 9 → an empty data chunk (decodes, zero samples),
    *  - else → the healthy [[testWavBytes]] ramp. */
  def testCuratedAudioBytes(docId: Long): Array[Byte] = (docId % 11) match {
    case 4 => Array[Byte](0x42, 0x41, 0x44, 0x57, 0x41, 0x56)
    case 7 => constWavBytes(docId, 128)
    case 9 => constWavBytes(docId, 0, n = 0)
    case _ => testWavBytes(docId)
  }

  /** (doc_id, content) table of [[testCuratedAudioBytes]] clips for the
    * id%3==0 docs (so audio-bearing docs overlap both the even-id image
    * and odd-id video fixtures — a doc can carry several modalities),
    * encoded partition-parallel. */
  def curatedAudioTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).filter(col("doc_id") % 3 === 0).as[Long]
      .mapPartitions(it => it.map(id => (id, testCuratedAudioBytes(id))))
      .toDF("doc_id", "content")
  }

  case class AudioDecoded(doc_id: Long, sample_rate: Int, n_samples: Int,
                          checksum: Long)

  /** REAL audio decode, partition-parallel — the audio face of
    * [[decodeImages]]: binary in, decoded format facts + sample checksum
    * out, undecodable rows dropped. */
  def decodeAudio(media: DataFrame): Dataset[AudioDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          JavaSoundCodec.decode(bytes).map { a =>
            var sum = 0L
            var i = 0
            while (i < a.samples.length) { sum += a.samples(i); i += 1 }
            AudioDecoded(id, a.sample_rate, a.samples.length, sum)
          }
        }
      }
  }

  /** Integer-factor area-average downscale of a decoded raster. Block
    * mean with floor division — deterministic integer math, so resized
    * pixels are closed-form predictable for synthetic inputs (which is
    * what lets q72's oracle check a REAL decode→resize chain). Trailing
    * rows/columns that don't fill a block are dropped (the standard
    * crop-to-multiple convention). */
  def downscale(img: DecodedImage, factor: Int): DecodedImage = {
    require(factor >= 1, s"downscale factor must be >= 1, got $factor")
    val w2 = img.width / factor
    val h2 = img.height / factor
    val out = new Array[Int](w2 * h2)
    var y2 = 0
    while (y2 < h2) {
      var x2 = 0
      while (x2 < w2) {
        // Long accumulator: 255·factor² overflows Int at factor ≳ 2900,
        // which would silently corrupt pixels rather than error.
        var sum = 0L
        var dy = 0
        while (dy < factor) {
          val row = (y2 * factor + dy) * img.width + x2 * factor
          var dx = 0
          while (dx < factor) { sum += img.gray(row + dx); dx += 1 }
          dy += 1
        }
        out(y2 * w2 + x2) = (sum / (factor.toLong * factor)).toInt
        x2 += 1
      }
      y2 += 1
    }
    DecodedImage(w2, h2, out)
  }

  /** Decode → area-average downscale, partition-parallel: the resize
    * stage of the media pipeline (the other stages being [[decodeImages]]
    * and [[frameSample]]). Emits the RESIZED raster's dimensions,
    * checksum, and 2×2 grid features. */
  def resizeImages(media: DataFrame, factor: Int): Dataset[MediaDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          ImageIoCodec.decode(bytes).map { d =>
            val r = downscale(d, factor)
            var sum = 0L
            var i = 0
            while (i < r.gray.length) { sum += r.gray(i); i += 1 }
            MediaDecoded(id, r.width, r.height, sum, gridFeatures(r))
          }
        }
      }
  }

  /** 2×2 cell mean luminance — ceil-divided spans, every pixel in
    * exactly one cell whatever the dimensions. */
  private def gridFeatures(d: DecodedImage): Array[Float] = {
    val grid = 2
    val feats = new Array[Float](grid * grid)
    val counts = new Array[Int](grid * grid)
    var y = 0
    while (y < d.height) {
      val cy = y * grid / d.height
      var x = 0
      while (x < d.width) {
        val c = cy * grid + (x * grid / d.width)
        feats(c) += d.gray(y * d.width + x)
        counts(c) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < feats.length) {
      if (counts(i) > 0) feats(i) /= counts(i)
      i += 1
    }
    feats
  }

  /** Frame sampling: one row per sampled frame timestamp, every
    * `stepMs` ms over the duration — pure generator, no decode, so
    * Catalyst prunes `content` out of the scan entirely. */
  def frameSample(media: DataFrame, stepMs: Int): DataFrame =
    media.select(
      col("doc_id"), col("meta.format").as("format"),
      posexplode(sequence(lit(0), col("meta.duration_ms") - 1, lit(stepMs))))
      .withColumnsRenamed(Map("pos" -> "frame_idx", "col" -> "ts_ms"))

  /** Register `media` as a temp view derived from `documents`. */
  def registerViews(spark: SparkSession): Unit =
    mediaTable(spark.table("documents")).createOrReplaceTempView("media")
}
