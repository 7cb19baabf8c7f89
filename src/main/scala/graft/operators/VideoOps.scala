package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Video as a first-class binary modality — the third leg of the
  * image/audio/video triple.
  *
  * The JDK ships no video codec, so the CONTAINER is the seam: the
  * Spark-side plumbing (schema, partitioning, per-frame decode fan-out,
  * frame sampling) is REAL and tested, while the container is a
  * deterministic in-repo format ([[GvidContainer]]: magic + fps +
  * length-prefixed PNG frames) whose per-frame payloads decode through
  * the SAME [[MediaOps.ImageIoCodec]] the image path uses
  * (`javax.imageio`, a genuine codec). All three REAL container
  * formats instantiate the seam (r16): [[AviContainer]]
  * (RIFF/AVI), [[Mp4Container]] (ISO BMFF, QuickTime motion-JPEG
  * layout), and [[MkvContainer]] (EBML/Matroska, V_MJPEG) — each a
  * spec-correct muxer+demuxer with no external deps — plus
  * [[AutoContainer]], which sniffs the magic per row so one pass
  * demuxes a mixed-format corpus. The plan shape, the per-frame decode
  * loop, and the feature steps are container-agnostic; what remains
  * external is only a true inter-frame video DECODER (H.264 et al.).
  *
  * Scale shape: decode is partition-parallel `mapPartitions` over the
  * binary column (the [[MediaOps.decodeImages]] precedent) — no shuffle;
  * frame SAMPLING happens inside the demux loop, so a `every = 30`
  * sample of a 30 fps video decodes 1/30th of the frames and never
  * materializes the rest. Undecodable containers/frames are dropped,
  * not fatal.
  */
object VideoOps {

  /** One demuxed stream: fps plus the raw per-frame payloads (PNG bytes
    * under [[GvidContainer]]). */
  final case class VideoStream(fps: Int, frames: IndexedSeq[Array[Byte]])

  /** Pluggable demuxer. Serializable — ships to executors inside the
    * decode closure; None on undecodable bytes. */
  trait VideoContainer extends Serializable {
    def demux(bytes: Array[Byte]): Option[VideoStream]
  }

  /** The in-repo container: "GVID" magic, version byte, int32 fps, int32
    * frame count, then `count` frames as (int32 length, payload) —
    * big-endian, self-describing, and trivially seekable. */
  object GvidContainer extends VideoContainer {
    private val Magic = Array[Byte]('G', 'V', 'I', 'D')

    def mux(fps: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val total = 4 + 1 + 4 + 4 + frames.map(4 + _.length).sum
      val bb = java.nio.ByteBuffer.allocate(total)
      bb.put(Magic).put(1.toByte).putInt(fps).putInt(frames.length)
      frames.foreach { f => bb.putInt(f.length); bb.put(f) }
      bb.array()
    }

    override def demux(bytes: Array[Byte]): Option[VideoStream] =
      try {
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val magic = new Array[Byte](4)
        bb.get(magic)
        if (!java.util.Arrays.equals(magic, Magic) || bb.get() != 1.toByte) None
        else {
          val fps = bb.getInt
          val n = bb.getInt
          if (fps <= 0 || n < 0 || n > (1 << 20)) None
          else Some(VideoStream(fps, (0 until n).map { _ =>
            val len = bb.getInt
            val f = new Array[Byte](len)
            bb.get(f)
            f
          }))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Container auto-detection by magic bytes — what a REAL mixed corpus
    * needs (one binary column holding `.avi`, `.mp4`, and `.mkv` files
    * from different crawls; nobody pre-sorts 100 TB by format):
    *  - `RIFF` → [[AviContainer]],
    *  - `ftyp` at offset 4 → [[Mp4Container]] (ISO BMFF's first box),
    *  - EBML magic `1A 45 DF A3` → [[MkvContainer]],
    *  - `GVID` → [[GvidContainer]].
    * The sniff reads 8 bytes; unknown magics → None (dropped, not
    * fatal). Delegation is per ROW, so one `decodeFrames` pass handles
    * a heterogeneous column with the same plan shape. */
  object AutoContainer extends VideoContainer {
    override def demux(bytes: Array[Byte]): Option[VideoStream] = {
      if (bytes.length < 12) return None
      def at(i: Int, s: String): Boolean =
        s.getBytes("US-ASCII").zipWithIndex.forall { case (b, j) => bytes(i + j) == b }
      if (at(0, "RIFF")) AviContainer.demux(bytes)
      else if (at(4, "ftyp")) Mp4Container.demux(bytes)
      else if ((bytes(0) & 0xFF) == 0x1A && (bytes(1) & 0xFF) == 0x45 &&
               (bytes(2) & 0xFF) == 0xDF && (bytes(3) & 0xFF) == 0xA3)
        MkvContainer.demux(bytes)
      else if (at(0, "GVID")) GvidContainer.demux(bytes)
      else None
    }
  }

  /** Deterministic test video for `docId`: 3 + id%4 frames at 10 fps,
    * frame f = [[MediaOps.testPngBytes]] of the derived id 7·docId + f —
    * so every frame's decoded dimensions and pixel checksum keep the
    * q42 closed forms with `fid = 7·doc_id + frame_idx`. */
  def testGvidBytes(docId: Long): Array[Byte] = {
    val n = 3 + (docId % 4).toInt
    GvidContainer.mux(10, (0 until n).map(f => MediaOps.testPngBytes(7 * docId + f)))
  }

  /** (doc_id, content) table of [[testGvidBytes]] containers, encoded
    * partition-parallel — the ingest half of the round-trip. */
  def videoTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, testGvidBytes(id))))
      .toDF("doc_id", "content")
  }

  /** (doc_id, content) table mixing all three REAL containers by
    * doc_id % 3 — 0 → AVI ([[AviContainer.testAviBytes]]), 1 → MP4
    * ([[Mp4Container.testMp4Bytes]]), 2 → MKV
    * ([[MkvContainer.testMkvBytes]]) — each with its own closed-form
    * frame grid, so one [[AutoContainer]] decode pass over the mixed
    * column stays oracle-expressible. */
  def mixedVideoTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map { id =>
        val bytes = (id % 3) match {
          case 0 => AviContainer.testAviBytes(id)
          case 1 => Mp4Container.testMp4Bytes(id)
          case _ => MkvContainer.testMkvBytes(id)
        }
        (id, bytes)
      })
      .toDF("doc_id", "content")
  }

  final case class FrameDecoded(doc_id: Long, frame_idx: Int, ts_ms: Long,
                                width: Int, height: Int, checksum: Long)

  /** Per-video integrity summary for the curation gate: demux outcome,
    * frame counts, global pixel mass (mean luminance = pix_sum/pix_cnt),
    * and whether EVERY decoded frame is a uniform raster (a blank /
    * dead-camera video). */
  final case class VideoStatus(doc_id: Long, ok: Boolean, n_frames: Int,
                               n_decoded: Int, pix_sum: Long, pix_cnt: Long,
                               uniform: Boolean)

  /** One decode pass over a video column producing [[VideoStatus]] rows
    * — the video analog of [[MediaOps.decodeStatus]]: demux failures and
    * all-frames-undecodable containers are KEPT as ok=false /
    * n_decoded=0 rows (no second scan of the binary column to find
    * them). Partition-parallel mapPartitions, no shuffle; every frame
    * is decoded. */
  def decodeStatus(media: DataFrame,
                   container: VideoContainer = GvidContainer): Dataset[VideoStatus] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          container.demux(bytes) match {
            case None => VideoStatus(id, ok = false, 0, 0, 0L, 0L, uniform = false)
            case Some(vs) =>
              var decoded = 0
              var pixSum = 0L
              var pixCnt = 0L
              var allUniform = true
              vs.frames.foreach { payload =>
                MediaOps.ImageIoCodec.decode(payload).foreach { d =>
                  decoded += 1
                  var mn = 255; var mx = 0
                  var i = 0
                  while (i < d.gray.length) {
                    val v = d.gray(i)
                    pixSum += v
                    if (v < mn) mn = v
                    if (v > mx) mx = v
                    i += 1
                  }
                  pixCnt += d.gray.length
                  if (mn != mx) allUniform = false
                }
              }
              VideoStatus(id, ok = true, vs.frames.length, decoded,
                pixSum, pixCnt, uniform = decoded > 0 && allUniform)
          }
        }
      }
  }

  /** Deterministic curation-fixture video for `docId`, closed-form bad
    * classes by id arithmetic (the [[MediaOps.testCuratedMediaBytes]]
    * convention, in a REAL container — [[Mp4Container]]):
    *  - id%7 == 3 → corrupt bytes (demux fails),
    *  - id%7 == 5 → a VALID container whose every frame payload is
    *    garbage (demuxes fine, zero frames decode — the dead-payload
    *    class only a video gate can see),
    *  - id%7 == 6 → a blank video: every frame a uniform raster at
    *    value 100 (mean inside any sane luminance band — only the
    *    uniformity rule catches it),
    *  - else → healthy [[MediaOps.testPngBytes]] gradients at
    *    fid = 19·docId + f (mean in [7.5, 210.5]). */
  def testCuratedVideoBytes(docId: Long): Array[Byte] = {
    val n = 2 + (docId % 3).toInt
    (docId % 7) match {
      case 3 => Array[Byte](0x42, 0x41, 0x44, 0x56, 0x49, 0x44)
      case 5 => Mp4Container.mux(6, (0 until n).map(f =>
        Array[Byte](0x6E, 0x6F, 0x70, 0x65, f.toByte)))
      case 6 => Mp4Container.mux(6, (0 until n).map(_ =>
        MediaOps.constPngBytes(docId, 100)))
      case _ => Mp4Container.mux(6, (0 until n).map(f =>
        MediaOps.testPngBytes(19 * docId + f)))
    }
  }

  /** (doc_id, content) table of [[testCuratedVideoBytes]] containers for
    * the ODD-id docs (even ids carry the image fixture in
    * [[MediaOps.curatedMediaTable]]; a multimodal corpus is never fully
    * video-bearing), encoded partition-parallel. */
  def curatedVideoTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).filter(col("doc_id") % 2 === 1).as[Long]
      .mapPartitions(it => it.map(id => (id, testCuratedVideoBytes(id))))
      .toDF("doc_id", "content")
  }

  /** REAL per-frame decode with in-demux sampling: every `every`-th
    * frame (from 0) is image-decoded; the rest are skipped WITHOUT
    * decoding (length-prefix seek). Output one row per decoded frame
    * with the frame timestamp (frame_idx · 1000 / fps) and the same
    * dimension/checksum contract as [[MediaOps.decodeImages]]. */
  def decodeFrames(media: DataFrame,
                   container: VideoContainer = GvidContainer,
                   every: Int = 1): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          container.demux(bytes).iterator.flatMap { vs =>
            vs.frames.iterator.zipWithIndex
              .filter(_._2 % every == 0)
              .flatMap { case (payload, idx) =>
                MediaOps.ImageIoCodec.decode(payload).map { d =>
                  var sum = 0L
                  var i = 0
                  while (i < d.gray.length) { sum += d.gray(i); i += 1 }
                  FrameDecoded(id, idx, idx.toLong * 1000L / vs.fps,
                    d.width, d.height, sum)
                }
              }
          }
        }
      }
      .toDF()
  }

  /** Per-frame perceptual signatures: (doc, pos, g) — frame index as
    * position, [[MediaOps.aHash64]] of the decoded raster as the
    * symbol. One demux+decode pass, no shuffle; this is the positional
    * relation [[graft.operators.SpanDedup.duplicatedSpansFromGrams]]
    * consumes. */
  def frameHashes(media: DataFrame,
                  container: VideoContainer = GvidContainer): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          container.demux(bytes).iterator.flatMap { vs =>
            vs.frames.iterator.zipWithIndex.flatMap { case (payload, idx) =>
              MediaOps.ImageIoCodec.decode(payload)
                .map(d => (id, idx.toLong, MediaOps.aHash64(d)))
            }
          }
        }
      }
      .toDF("doc", "pos", "g")
  }

  /** Shared video SEGMENTS — near-dup detection at sequence grain: two
    * videos sharing ≥ `minFrames` consecutive perceptually-identical
    * frames (same aHash, aligned run) are reported with their start
    * offsets — re-encoded clips, intros/outros, and spliced footage,
    * which a single whole-video signature cannot see. This is the
    * exact-substring dedup core over frame hashes: the frame-hash
    * relation feeds the same inverted-index + diagonal-islands plan as
    * text spans (k = 1: a span IS its frame run), so the scale shape is
    * identical — one shuffle of (doc, pos, 64-bit hash) rows behind the
    * hot-frame cap (black frames / station logos are the boilerplate
    * grams of video).
    *
    * Returns (doc_a, doc_b, a_start, b_start, shared_frames). */
  def videoDupSegments(media: DataFrame,
                       container: VideoContainer = GvidContainer,
                       minFrames: Int = 4,
                       maxFrameOccurrences: Int = 1000): DataFrame =
    SpanDedup.duplicatedSpansFromGrams(
        frameHashes(media, container), k = 1,
        minSpan = minFrames, maxGramOccurrences = maxFrameOccurrences)
      .withColumnRenamed("span_tokens", "shared_frames")

  /** Shared segments BETWEEN two video corpora — [[videoDupSegments]]'s
    * cross twin ([[SpanDedup.crossSpansFromGrams]] at k = 1): an ingest
    * batch's clips judged for aligned frame runs against an immutable
    * history side, per-batch cost = the batch's frame hashes joined into
    * the history frame relation, never batch × history.
    *
    * Returns (left_id, right_id, left_start, right_start, shared_frames). */
  def videoDupSegmentsCross(left: DataFrame, right: DataFrame,
                            container: VideoContainer = GvidContainer,
                            minFrames: Int = 4,
                            maxFrameOccurrences: Int = 1000): DataFrame =
    SpanDedup.crossSpansFromGrams(
        frameHashes(left, container),
        frameHashes(right, container), k = 1,
        minSpan = minFrames, maxGramOccurrences = maxFrameOccurrences)
      .withColumnRenamed("span_tokens", "shared_frames")

  /** Scene raster `s` ∈ 0..6: the first 4·s pixel columns bright —
    * cell-aligned, so aHash(s) has exactly 8·s bits set (all distinct
    * across scenes, margins exact: bright cells 200 > mean 25·s, dark
    * 0 < mean; s = 0 is all-dark, hash 0). */
  private[graft] def scenePngBytes(s: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        raster.setSample(x, y, 0, if (x / 4 < s) 200 else 0)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic scene-sequence fixture: doc `id`'s video is 6 frames
    * of scene `(id + f) mod 7` through a REAL MP4 container. Two docs'
    * frame hashes match exactly on the diagonal δ ≡ (id_b − id_a)
    * mod 7, giving one maximal shared segment of `6 − |δ|` frames for
    * δ ∈ [−5, 5] — so the pair/segment set is pure id arithmetic for
    * the oracle: pairs with (id_b − id_a) mod 7 ∈ {0,1,2} share
    * 6/5/4 frames at (a_start, b_start) = (δ, 0); {6,5} mirror at
    * (0, −δ). */
  def sceneVideoTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map { id =>
        val frames = (0 until 6).map(f => scenePngBytes(((id + f) % 7).toInt))
        (id, Mp4Container.mux(6, frames))
      })
      .toDF("doc_id", "content")
  }
}
