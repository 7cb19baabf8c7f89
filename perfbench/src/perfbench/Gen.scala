package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generation. Every value is a pure function of
  * (seed, stream, index), so the executors that build the Spark inputs and
  * the Spark driver that computes exact answers produce identical rows, and a
  * run's inputs depend on nothing but its seed. */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)
  def u01(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  def gauss(a: Long, b: Long): Double =
    math.sqrt(-2.0 * math.log(1.0 - u01(a))) * math.cos(2.0 * math.Pi * u01(b))
  def below(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt

  /** Zipf(s) over ranks 0 until n by inverse CDF; rank 0 is the heaviest. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def apply(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ---------------------------------------------------------------------
  // sketch_ingest: one wide fact table, grouped two ways
  // ---------------------------------------------------------------------

  /** @param rows         input rows
    * @param narrowGroups Zipf-skewed group count of the update-bound shape
    * @param wideGroups   uniform group count of the buffer-bound shape
    * @param users        id space of the high-cardinality long column
    * @param items        Zipf-skewed item space of the frequent-items column */
  final case class IngestShape(rows: Long, narrowGroups: Int, wideGroups: Int,
                               users: Long, items: Int)

  final case class IngestRow(gNarrow: Int, gWide: Int, u: Long, x: Double, item: Long)

  final class IngestGen(seed: Long, shape: IngestShape) extends Serializable {
    private val zg = new Zipf(shape.narrowGroups, 1.1)
    private val zi = new Zipf(shape.items, 1.2)
    def apply(i: Long): IngestRow = IngestRow(
      zg(u01(h(seed, 1, i))),
      below(h(seed, 2, i), shape.wideGroups),
      java.lang.Math.floorMod(h(seed, 3, i), shape.users),
      100.0 * math.exp(0.8 * gauss(h(seed, 4, i), h(seed, 5, i))),
      zi(u01(h(seed, 6, i))).toLong)
  }

  // ---------------------------------------------------------------------
  // curate: a documents/embeddings corpus with the shape of the sf0.1 one
  // (figures measured on sf0.1's documents.parquet and embeddings.parquet;
  // see perfbench/README.md)
  // ---------------------------------------------------------------------

  /** sf0.1's 30 words; its near duplicates add a 31st, [[NearMark]]. */
  val Vocab: Array[String] = ("a the row column table scan sort hash join merge agg " +
    "filter group key value query stream batch window vector spark data line part " +
    "order customer fast slow big small").split(" ")
  val NearMark = "dup"
  /** sf0.1: 5% of docs are another doc's text plus " dup", on distinct
    * base docs; 0.16% of docs are exact copies, each of one of those near
    * duplicates. */
  val NearShare = 0.05
  val ExactShare = 0.0016
  /** sf0.1's language shares: en 41%, zh, es and fr 15% each, de 14%. */
  val Langs: Seq[(String, Double)] = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  /** sf0.1 has 0.4 embeddings per doc, 64-d, unit norm, in 10 labels of
    * about equal size whose mean vectors have norm 0.07. */
  val EmbPerDoc = 0.4
  val EmbDim = 64
  val EmbLabels = 10
  val EmbCenterNorm = 0.07

  final case class Doc(id: Long, text: String, lang: String, source: String)

  final case class Corpus(docs: Array[Doc], embeddings: Array[(Long, Array[Float], Int)])

  def corpus(seed: Long, nDocs: Int): Corpus = {
    // plain docs: 10-99 words drawn uniformly from the vocabulary
    val plain = Array.tabulate(nDocs) { i =>
      val n = 10 + below(h(seed, 24, i), 90)
      Array.tabulate(n)(k => Vocab(below(h(seed, 25, i.toLong * 128 + k), Vocab.length)))
    }
    // The duplicate structure is fixed and only the ids are seeded, so
    // every seed gives the dedup stages the same work. Whether an exact copy
    // is in the curate stream's history (doc_id % 4 = 0) decides which
    // StreamingDedup path removes it, so that is fixed too: the first copy is
    // history and its near duplicate streamed, as in one of sf0.1's eight
    // pairs; the other copies are streamed beside theirs.
    val nNear = math.round(NearShare * nDocs).toInt
    val nExact = math.round(ExactShare * nDocs).toInt
    val ids = (0 until nDocs).sortBy(i => h(seed, 20, i))
    val (streamed, history) = ids.partition(_ % 4 != 0)
    val copied = streamed.take(nExact)
    val copies = (history.take(1) ++ streamed.slice(nExact, 2 * nExact - 1)).take(nExact)
    val rest = ids.filterNot((copied ++ copies).toSet)
    val near = copied ++ rest.take(nNear - 2 * nExact)
    val bases = rest.slice(nNear - 2 * nExact, nNear - 2 * nExact + near.size)
    val text = Array.tabulate(nDocs)(i => plain(i).mkString(" "))
    near.zip(bases).foreach { case (i, b) => text(i) = (plain(b) :+ NearMark).mkString(" ") }
    copies.zip(copied).foreach { case (i, n) => text(i) = text(n) }
    val docs = Array.tabulate(nDocs) { i =>
      val u = u01(h(seed, 27, i))
      var acc = 0.0
      val lang = Langs.find { case (_, w) => acc += w; u < acc }.getOrElse(Langs.last)._1
      Doc(i.toLong, text(i), lang, "src" + (i % 20))
    }
    val centers = Array.tabulate(EmbLabels) { c =>
      val g = Array.tabulate(EmbDim)(d => gauss(h(seed, 30, c * 1000L + d), h(seed, 31, c * 1000L + d)))
      val norm = math.sqrt(g.map(x => x * x).sum)
      g.map(_ * EmbCenterNorm / norm)
    }
    val emb = Array.tabulate(math.round(EmbPerDoc * nDocs).toInt) { i =>
      val label = below(h(seed, 32, i), EmbLabels)
      val v = Array.tabulate(EmbDim)(d =>
        centers(label)(d) + gauss(h(seed, 33, i.toLong * 256 + d), h(seed, 34, i.toLong * 256 + d)) / math.sqrt(EmbDim))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    Corpus(docs, emb)
  }

  // ---------------------------------------------------------------------
  // canonical bytes, so tests can pin byte-identical inputs per seed
  // ---------------------------------------------------------------------

  def ingestBytes(seed: Long, shape: IngestShape, n: Int): Array[Byte] = {
    val g = new IngestGen(seed, shape)
    val bb = ByteBuffer.allocate(n * 32)
    (0 until n).foreach { i =>
      val r = g(i)
      bb.putInt(r.gNarrow).putInt(r.gWide).putLong(r.u).putDouble(r.x).putLong(r.item)
    }
    bb.array()
  }

  def corpusBytes(c: Corpus): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    c.docs.foreach { x =>
      d.writeLong(x.id); d.write(x.text.getBytes(UTF_8)); d.write(x.lang.getBytes(UTF_8))
      d.write(x.source.getBytes(UTF_8))
    }
    c.embeddings.foreach { case (id, v, l) => d.writeLong(id); v.foreach(d.writeFloat); d.writeInt(l) }
    out.toByteArray
  }
}
