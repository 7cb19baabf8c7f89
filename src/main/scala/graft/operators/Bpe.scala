package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic byte-pair-encoding tokenizer — the token-TRUE
  * accounting lane for budgets, quotas, shards, and recipes.
  *
  * Everything upstream denominates token budgets in whitespace tokens
  * ([[TextOps.tokenCount]]); real training budgets are BPE-token-
  * denominated, and the two diverge exactly where it matters (long rare
  * words explode into many subwords, short frequent ones fuse). This
  * module supplies: [[fit]] — merge-table training on a bounded seed
  * slice (the q119 model discipline: the artifact is fixed BEFORE the
  * accounting runs, so budgets never drift with corpus composition);
  * [[tokens]]/[[tokenCount]] — native codegen'd encode expressions any
  * quota/shard/recipe operator can be pointed at; and a SQL-portable
  * algorithm contract (below) so an ANSI oracle can re-derive the
  * encode byte-exactly.
  *
  * Algorithm contract (both engines, pinned by q143):
  *  - pre-tokenize on whitespace (`trim.split("\\s+")`, empties
  *    dropped), no cross-word merges — standard BPE pre-tokenization;
  *  - a word starts as its character sequence (no end-of-word marker);
  *  - TRAINING: `numMerges` iterations over the weighted vocab; each
  *    counts adjacent symbol pairs (overlapping, zip-adjacent, weighted
  *    by word frequency), picks the most frequent pair — ties broken by
  *    the lexicographically smallest `a + ' ' + b` — and merges every
  *    non-overlapping occurrence left-to-right in every word;
  *  - ENCODE: apply the merges to a word SEQUENTIALLY in training
  *    order, each merging all non-overlapping occurrences left-to-
  *    right. (Equivalent to the rank-based greedy encode: a merge can
  *    only create adjacencies involving its own new symbol, whose pairs
  *    all rank later, so earlier merges never become applicable again.)
  *    The sequential form is what the DuckDB oracle replays as a
  *    recursive CTE over (word, merge-index) — one leftmost occurrence
  *    per step, advancing the index when none remains.
  *
  * Scale shape: [[fit]] is one distributed word-frequency aggregation
  * (vocabulary-sized, bounded by contract — the seed slice is sampled
  * anyway) collected once, then a driver loop over the vocab (the
  * ProductQuantizer.trainOnSample precedent: m distributed passes for m
  * merges would pay m× scheduler overhead to move less data than one
  * model broadcast). Encode ships the merge table inside the expression
  * (KBs), compiles it once per executor, and memoizes per-word token
  * splits — per-row cost is a hash lookup per word for any corpus with
  * a sane type/token ratio.
  */
object Bpe {

  /** The trained artifact: merges in application order. */
  final case class BpeModel(merges: IndexedSeq[(String, String)]) {
    require(merges.nonEmpty, "BPE model needs at least one merge")
    /** Stable content key for the per-executor compiled-model cache. */
    lazy val key: String = merges.map { case (a, b) => a + "\u0000" + b }
      .mkString("\u0001")
  }

  /** A word as its code-point symbol sequence — the initial BPE state.
    * Code points, not UTF-16 units: a non-BMP character (emoji, CJK
    * extensions) must be ONE symbol, both to match the SQL oracle's
    * `word[i]` (codepoint indexing) and to never emit unpaired
    * surrogates as token strings. */
  private def codePointSyms(word: String): Array[String] = {
    val n = word.codePointCount(0, word.length)
    val out = new Array[String](n)
    var i = 0
    var off = 0
    while (i < n) {
      val cp = word.codePointAt(off)
      val w = Character.charCount(cp)
      out(i) = word.substring(off, off + w)
      off += w
      i += 1
    }
    out
  }

  /** One merge pass: fuse every non-overlapping (a, b) adjacency
    * left-to-right. */
  private def mergePass(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Driver-side training over a (word → weight) vocabulary: the
    * classic incremental-pair-count trainer. Pair counts are built
    * once, then each merge adjusts counts ONLY for the words that
    * contain the merged pair (tracked by an inverted pair → word-ids
    * index); the argmax comes from a lazy-deletion heap keyed
    * (-count, "a b") so ties break exactly like the one-pass-per-merge
    * spec form ([[trainReference]], pinned by a randomized parity
    * property). Per merge the cost is (heap pops) + (symbols of the
    * affected words) — a real 32k–50k-merge vocabulary trains in
    * seconds instead of the spec form's O(merges × total vocabulary
    * symbols). */
  private[graft] def train(vocab: Seq[(String, Long)], numMerges: Int): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val sorted = vocab.sortBy(_._1)
    val words: Array[Array[String]] = sorted.map(w => codePointSyms(w._1)).toArray
    val weights: Array[Long] = sorted.map(_._2).toArray

    def pairsOf(syms: Array[String]): scala.collection.mutable.HashMap[(String, String), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        m.update(p, m.getOrElse(p, 0L) + 1L)
        i += 1
      }
      m
    }

    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.BitSet]
    var w = 0
    while (w < words.length) {
      pairsOf(words(w)).foreach { case (p, occ) =>
        pairCount.update(p, pairCount.getOrElse(p, 0L) + occ * weights(w))
        pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += w
      }
      w += 1
    }

    // lazy-deletion heap: entries carry the count they were pushed at;
    // stale entries (count no longer current) are discarded on pop
    final case class Entry(count: Long, a: String, b: String)
    val heap = new java.util.PriorityQueue[Entry](math.max(1, pairCount.size),
      (x: Entry, y: Entry) =>
        if (x.count != y.count) java.lang.Long.compare(y.count, x.count)
        else (x.a + " " + x.b).compareTo(y.a + " " + y.b))
    pairCount.foreach { case ((a, b), c) => heap.add(Entry(c, a, b)) }

    val merges = IndexedSeq.newBuilder[(String, String)]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      var best: (String, String) = null
      while (best == null && !heap.isEmpty) {
        val e = heap.poll()
        val cur = pairCount.getOrElse((e.a, e.b), 0L)
        if (cur == e.count && cur > 0L) best = (e.a, e.b)
      }
      if (best == null) exhausted = true
      else {
        merges += best
        // iterate a snapshot: the loop body mutates pairWords sets,
        // including (on pair reappearance) the one being iterated
        val affected = pairWords.getOrElse(best, scala.collection.mutable.BitSet.empty)
          .toArray
        affected.foreach { idx =>
          val before = words(idx)
          val after = mergePass(before, best._1, best._2)
          words(idx) = after
          val oldPairs = pairsOf(before)
          val newPairs = pairsOf(after)
          (oldPairs.keySet ++ newPairs.keySet).foreach { p =>
            val delta = newPairs.getOrElse(p, 0L) - oldPairs.getOrElse(p, 0L)
            if (delta != 0L) {
              val c2 = pairCount.getOrElse(p, 0L) + delta * weights(idx)
              if (c2 <= 0L) pairCount.remove(p) else pairCount.update(p, c2)
              if (c2 > 0L) heap.add(Entry(c2, p._1, p._2))
            }
            if (newPairs.contains(p))
              pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += idx
            else if (oldPairs.contains(p))
              pairWords.get(p).foreach(_ -= idx)
          }
        }
        pairWords.remove(best)
        pairCount.remove(best)
        k += 1
      }
    }
    BpeModel(merges.result())
  }

  /** The one-pass-per-merge SPEC form of the trainer (recount all
    * pairs, pick the max, merge everywhere) — O(merges × vocabulary
    * symbols), kept as the executable specification the incremental
    * [[train]] is parity-pinned against. Semantics per the algorithm
    * contract above; ties → lexicographically smallest `a + ' ' + b`. */
  private[graft] def trainReference(vocab: Seq[(String, Long)],
                                        numMerges: Int): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    var words: Array[(Array[String], Long)] = vocab.sortBy(_._1)
      .map { case (w, c) => (codePointSyms(w), c) }.toArray
    val merges = IndexedSeq.newBuilder[(String, String)]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // most frequent pair; ties → lexicographically smallest "a b"
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a + " " + b) }._1
        merges += best
        words = words.map { case (syms, c) => (mergePass(syms, best._1, best._2), c) }
        k += 1
      }
    }
    BpeModel(merges.result())
  }

  /** Train on a corpus slice: ONE distributed word-frequency pass,
    * bounded collect (`maxVocab` guards the pull — a seed slice's
    * vocabulary, not the corpus), then the driver loop. */
  def fit(df: DataFrame, textCol: String, numMerges: Int = 24,
          maxVocab: Int = 1 << 20): BpeModel = {
    val vocabDf = df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("__bpe_w"))
      .filter(col("__bpe_w") =!= "")
      .groupBy("__bpe_w").count()
    val vocab = vocabDf.limit(maxVocab + 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    require(vocab.nonEmpty, "BPE training slice has no tokens")
    require(vocab.size <= maxVocab,
      s"seed-slice vocabulary exceeds maxVocab=$maxVocab — sample the slice down")
    train(vocab, numMerges)
  }

  /** Train on a literal seed text (weights = term frequencies). */
  def fitOnText(seed: String, numMerges: Int = 24): BpeModel = {
    val words = seed.trim.split("\\s+").filter(_.nonEmpty)
    require(words.nonEmpty, "seed text has no tokens")
    train(words.groupBy(identity).view.mapValues(_.length.toLong).toSeq, numMerges)
  }

  // ------------------------------------------------------ compiled model

  /** Per-executor compiled form: merge array + a bounded per-word memo
    * (type/token ratios make the memo hit rate ~1 after warmup; the cap
    * stops an adversarial vocabulary from growing executor state). */
  final class Compiled(val merges: Array[(String, String)]) extends Serializable {
    @transient private lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
    private val MemoCap = 1 << 16

    def encodeWord(word: String): Array[String] = {
      val hit = memo.get(word)
      if (hit != null) hit
      else {
        var syms = codePointSyms(word)
        merges.foreach { case (a, b) => syms = mergePass(syms, a, b) }
        if (memo.size < MemoCap) memo.put(word, syms)
        syms
      }
    }

    override def toString: String = s"bpe[merges=${merges.length}]"
  }

  private val compiledCache =
    new java.util.concurrent.ConcurrentHashMap[String, Compiled]()

  private[graft] def compiled(model: BpeModel): Compiled =
    compiledCache.computeIfAbsent(model.key,
      _ => new Compiled(model.merges.toArray))

  // --------------------------------------------------- kernel bodies

  /** Shared scaffolding: whitespace pre-tokenize, per-word encode. */
  private def encodeAll(model: Compiled, text: UTF8String): Iterator[Array[String]] =
    text.toString.trim.split("\\s+").iterator
      .filter(_.nonEmpty).map(model.encodeWord)

  private[operators] def runtimeTokens(text: UTF8String, m: Compiled):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    encodeAll(m, text).foreach(_.foreach(t => out += UTF8String.fromString(t)))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  private[operators] def runtimeTokenCount(text: UTF8String, m: Compiled): Long = {
    var n = 0L
    encodeAll(m, text).foreach(n += _.length)
    n
  }

  /** `bpe_tokens(text)` → array<string> of subword tokens. */
  def tokens(text: Column, model: BpeModel): Column =
    Kernel.bpeTokens(text.cast("string"), Kernel.model(compiled(model)))

  /** `bpe_token_count(text)` → BIGINT, fused (no token array built). */
  def tokenCount(text: Column, model: BpeModel): Column =
    Kernel.bpeTokenCount(text.cast("string"), Kernel.model(compiled(model)))

  // ---------------------------------------------------------- artifacts

  /** The repo's FIXED seed slice: the synthetic corpus vocabulary as a
    * literal (one occurrence each — within-word character statistics
    * drive the merges). A fixed literal keeps the merge table a
    * compile-time constant, so the q143 oracle can embed it as a
    * derived VALUES relation and replay the encode — the q103
    * stored-geometry discipline applied to tokenization. Production
    * use trains on a real sampled slice via [[fit]] and stores the
    * table through [[SnapshotStore]]. */
  val SeedText: String =
    "join hash row batch scan column customer filter small slow merge " +
    "order vector line data table agg value key stream window a spark " +
    "group part big sort query fast the dup"

  val SeedNumMerges = 24

  /** The fixed artifact q143/q146 run with. */
  lazy val SeedModel: BpeModel = fitOnText(SeedText, SeedNumMerges)

  /** [[SnapshotStore]] storage shape (the q119 model discipline: fit
    * once per corpus snapshot, ship the artifact to every accounting
    * job): one `a\tb` line per merge in application order, UTF-8.
    * Tokens are whitespace-pretokenized so they can contain neither
    * tab nor newline — the encoding is unambiguous by construction. */
  def modelToBytes(m: BpeModel): Array[Byte] =
    m.merges.map { case (a, b) => a + "\t" + b }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def modelFromBytes(bytes: Array[Byte]): BpeModel =
    BpeModel(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toIndexedSeq.map { line =>
        val t = line.split("\t", 2)
        require(t.length == 2, s"corrupt BPE model line: '$line'")
        (t(0), t(1))
      })

  /** The merge table as SQL VALUES rows `(prio, a, b)` — the derived
    * relation the oracle replays. */
  def mergesAsSqlValues(model: BpeModel): String =
    model.merges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1}, '${a.replace("'", "''")}', '${b.replace("'", "''")}')" }
      .mkString(", ")
}
