package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels of the text, dedup and vector operators. Most are
  * called through [[GraftCall]] (their call shapes are listed in
  * [[Kernel]]), the rest from the hand-written expressions that carry a
  * driver-side object into generated code. Either way generated code makes
  * one static call here, so whole-stage codegen spans stay unbroken
  * instead of falling back to interpreted expression bridges. */
object GraftRuntime {

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0B

  @inline private def rot5(a: Long): Long = (a << 5) | (a >>> 59)

  // ---- dot ----------------------------------------------------------------

  /** Double-precision dot product of two float vectors. Bit-identical to
    * the composed
    * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)), 0.0, _ + _)`
    * (same left-to-right fold order, so oracle-compared cosines don't
    * move), but one fused loop instead of two interpreted higher-order
    * passes — the pair loop of brute-force similarity search runs this
    * millions of times. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  // ---- int8Pack / int8Dot -------------------------------------------------

  /** Pack a float vector into int8 codes at `scale` (= max|v|/127):
    * round-half-away-from-zero of v/scale, clamped to ±127, one byte per
    * element — the BINARY storage form of [[Quantize]]: exactly dim bytes
    * per vector instead of parquet-encoded INT32s, the layout a 100 TB ANN
    * index actually wants on disk and through the shuffle. `scale <= 0` (the zero
    * vector) packs all-zero codes. Rounding matches Spark/DuckDB
    * `round()` (away from zero), so packed codes equal the q80-oracled
    * ARRAY<INT> lane byte-for-byte. */
  def int8Pack(v: ArrayData, scale: Double): Array[Byte] = {
    val n = v.numElements()
    val out = new Array[Byte](n)
    if (scale > 0.0) {
      var i = 0
      while (i < n) {
        val x = v.getFloat(i).toDouble / scale
        val r = if (x >= 0) Math.floor(x + 0.5) else Math.ceil(x - 0.5)
        val c = if (r > 127.0) 127L else if (r < -127.0) -127L else r.toLong
        out(i) = c.toByte
        i += 1
      }
    }
    out
  }

  /** Fused signed-byte dot product — the re-rank inner loop over packed
    * codes. Quantization scales cancel out of cosine
    * (cos(s_a·a, s_b·b) = cos(a, b)), so ranking needs only these integer
    * dots. Fits in a long: 127² × dim ≪ 2⁶³ for any real dim. */
  def int8Dot(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a(i).toLong * b(i).toLong
      i += 1
    }
    acc
  }

  // ---- simhash64 ----------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens. Semantics match the
    * composed-array-ops version ([[DedupOps.simhashArrayOps]]): token hash =
    * Spark `xxhash64` (seed 42) over the token's UTF-8 bytes; bit j of the
    * result = sign of Σ_tokens (bit j set ? +1 : -1); ties (vote 0) clear
    * the bit; empty/blank input → 0.
    *
    * Why native: the composed version materializes a 64-long vote array
    * per token per row through `aggregate`/`zip_with` codegen —
    * O(tokens·64) array writes. This keeps the 64 counters in a local
    * array across one byte-scan of the string; ~6× faster at sf0.1 and
    * the difference grows with document length, so it is the version a
    * 100 TB dedup pass would run. */
  def simhash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    val votes = new Array[Int](64)
    var i = 0
    val n = bytes.length
    var any = false
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        any = true
        val h = XxHash64Function.hash(
          UTF8String.fromBytes(bytes, start, i - start), StringType, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
    }
    if (!any) 0L
    else {
      var sig = 0L
      var j = 0
      while (j < 64) {
        if (votes(j) > 0) sig |= (1L << j)
        j += 1
      }
      sig
    }
  }

  // ---- shingleSet ---------------------------------------------------------

  /** Distinct k-shingle hash set over whitespace tokens. Semantics match
    * the composed-column formulation kept in
    * [[DedupOps.shingleSetsArrayOps]]: token hash = `xxhash64` (seed 42)
    * of the token bytes; shingle id = xor-rotate-5 fold of its k
    * consecutive token hashes; docs with fewer than k tokens produce the
    * single fold of all their tokens; result is the distinct set
    * (first-occurrence order).
    *
    * Why native: the composed version nests three higher-order functions
    * (`transform(sequence, i => aggregate(slice(...)))`) which evaluate
    * interpreted with per-element boxing — ~1.1 ms/doc at sf0.1. This is
    * a single byte-scan plus an insertion-ordered dedup table, ~20×
    * faster, and the shingle step is the front of every dedup pipeline
    * the engine runs at 100 TB. */
  def shingleSet(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var tokens = new Array[Long](16)
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        if (nTok == tokens.length) tokens = java.util.Arrays.copyOf(tokens, nTok * 2)
        tokens(nTok) = XxHash64Function.hash(
          UTF8String.fromBytes(bytes, start, i - start), StringType, 42L)
        nTok += 1
      }
    }
    val nShingles = if (nTok >= k) nTok - k + 1 else 1
    val seen = new java.util.LinkedHashSet[java.lang.Long](nShingles * 2)
    if (nTok < k) {
      var acc = 0L
      var t = 0
      while (t < nTok) { acc = rot5(acc) ^ tokens(t); t += 1 }
      seen.add(acc)
    } else {
      var p = 0
      while (p < nShingles) {
        var acc = 0L
        var t = p
        while (t < p + k) { acc = rot5(acc) ^ tokens(t); t += 1 }
        seen.add(acc)
        p += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  // ---- gramHashes ---------------------------------------------------------

  /** Positional k-gram hashes over whitespace tokens: element `p` is the
    * xor-rotate-5 fold of the xxhash64 (seed 42) token hashes at positions
    * `p..p+k-1` — the same gram identity as [[shingleSet]], but kept IN
    * POSITION ORDER with no dedup, so a consumer can detect aligned
    * duplicated runs. Documents with fewer than k tokens produce an EMPTY
    * array (a span of length ≥ k cannot start in them), unlike
    * [[shingleSet]]'s single whole-doc fold.
    *
    * This is the map-side front of the duplicated-span detector
    * ([[SpanDedup]]): one byte-scan per document, so the only thing that
    * ever leaves the document scan is (doc, position, 8-byte gram id).
    * The composed higher-order-function formulation (`transform(sequence,
    * i => aggregate(slice(...)))`, kept in
    * [[SpanDedup.gramHashesArrayOps]]) evaluates interpreted with
    * per-element boxing — the same ~20× penalty measured for
    * [[shingleSet]]. */
  def gramHashes(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var tokens = new Array[Long](16)
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        if (nTok == tokens.length) tokens = java.util.Arrays.copyOf(tokens, nTok * 2)
        tokens(nTok) = XxHash64Function.hash(
          UTF8String.fromBytes(bytes, start, i - start), StringType, 42L)
        nTok += 1
      }
    }
    if (nTok < k) new GenericArrayData(Array.emptyLongArray)
    else {
      val out = new Array[Long](nTok - k + 1)
      var p = 0
      while (p < out.length) {
        var acc = 0L
        var t = p
        while (t < p + k) { acc = rot5(acc) ^ tokens(t); t += 1 }
        out(p) = acc
        p += 1
      }
      new GenericArrayData(out)
    }
  }

  // ---- wordChunks / wordWindows -------------------------------------------
  //
  // Tokenize once, emit single-space-re-joined token groups. The composed
  // formulations (`transform(sequence(...), i => array_join(slice(
  // split(...), ...)))`) embed the split inside the lambda, so interpreted
  // evaluation re-splits the text once per emitted gram — O(len²/k) per
  // document. These read the text once and copy token bytes out of one
  // array.

  /** Byte ranges (start, end) of whitespace-separated tokens. */
  private def tokenRanges(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    val n = bytes.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val s = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > s) {
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      }
    }
    (starts, ends, nTok)
  }

  /** Single-space join of tokens `from until until` into a fresh string. */
  private def joinTokens(bytes: Array[Byte], starts: Array[Int], ends: Array[Int],
                         from: Int, until: Int): UTF8String = {
    var len = until - from - 1
    var t = from
    while (t < until) { len += ends(t) - starts(t); t += 1 }
    val out = new Array[Byte](len)
    var pos = 0
    t = from
    while (t < until) {
      if (t > from) { out(pos) = ' '; pos += 1 }
      val l = ends(t) - starts(t)
      System.arraycopy(bytes, starts(t), out, pos, l)
      pos += l
      t += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Non-overlapping k-token chunks, single-space re-joined, trailing
    * partial chunk included; blank input → empty array. Equals
    * `transform(sequence(0, ceil(n/k)-1), i => array_join(slice(
    * split(trim(s), '\s+'), i*k+1, k), ' '))` without re-splitting the
    * text once per chunk — the unit of paragraph-style dedup on corpora
    * without newline structure ([[ParagraphDedup]]). */
  def wordChunks(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends, nTok) = tokenRanges(bytes)
    if (nTok == 0) new GenericArrayData(Array.empty[Any])
    else {
      val nc = (nTok + k - 1) / k
      val out = new Array[Any](nc)
      var c = 0
      while (c < nc) {
        out(c) = joinTokens(bytes, starts, ends, c * k, math.min((c + 1) * k, nTok))
        c += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Sliding k-token windows (full windows only), single-space
    * re-joined; fewer than k tokens → empty array — textual n-grams for
    * boilerplate profiling (q67). */
  def wordWindows(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends, nTok) = tokenRanges(bytes)
    if (nTok < k) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](nTok - k + 1)
      var p = 0
      while (p < out.length) {
        out(p) = joinTokens(bytes, starts, ends, p, p + k)
        p += 1
      }
      new GenericArrayData(out)
    }
  }

  // ---- termRuns -----------------------------------------------------------

  /** Per-document (term, tf) pairs over the LOWERCASED whitespace tokens,
    * in sorted-term order — one lowercase, one tokenize, one sort, one
    * run-length scan. Equals the composed
    * `zip_with(starts, ends, ... sort_array(split(lower(trim(s)),'\s+')))`
    * formulation, whose interpreted evaluation re-sorts the token array
    * once per element comparison (O(n² log n) per document — the lambda
    * tax [[charWindows]] removed for char grams). Blank input → empty. */
  def termRuns(s: UTF8String): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val (starts, ends, nTok) = tokenRanges(bytes)
    if (nTok == 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](nTok)
    var i = 0
    while (i < nTok) {
      toks(i) = UTF8String.fromBytes(bytes, starts(i), ends(i) - starts(i))
      i += 1
    }
    java.util.Arrays.sort(toks, null) // natural order = Spark's binary string order
    val out = new Array[Any](nTok)
    var nRuns = 0
    var p = 0
    while (p < nTok) {
      var q = p + 1
      while (q < nTok && toks(q) == toks(p)) q += 1
      out(nRuns) = InternalRow(toks(p), (q - p).toLong)
      nRuns += 1
      p = q
    }
    if (nRuns == nTok) new GenericArrayData(out)
    else {
      val trimmed = new Array[Any](nRuns)
      System.arraycopy(out, 0, trimmed, 0, nRuns)
      new GenericArrayData(trimmed)
    }
  }

  // ---- charWindows --------------------------------------------------------

  /** All k-code-point windows of a string, in order: element `i` equals
    * `substr(s, i+1, k)` (code-point semantics, matching Spark/DuckDB
    * substr). Strings shorter than k code points yield an empty array.
    * One pass: code-point byte offsets are walked once and windows are
    * zero-copy-sliced out of one shared byte array. The front of the
    * char-n-gram operators (trigram LM scoring, DSIR weighting).
    *
    * Why native: the composed formulation
    * `transform(sequence(1, length(t)-k+1), i => t.substr(i, k))` embeds
    * the WHOLE argument expression `t` inside the lambda body, so an
    * interpreted lambda re-evaluates it per element — for a normalized
    * argument (`lower(regexp_replace(trim(text)))`) that is one regex pass
    * per emitted window, O(len²) regex work per document. Here the
    * argument evaluates once. */
  def charWindows(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // byte offset of each code point start, plus the end sentinel
    var offs = new Array[Int](math.max(n + 1, 8))
    var nCp = 0
    var i = 0
    while (i < n) {
      offs(nCp) = i
      nCp += 1
      val b = bytes(i) & 0xFF
      i += (if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4)
    }
    offs(nCp) = n
    if (nCp < k) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](nCp - k + 1)
      var p = 0
      while (p < out.length) {
        out(p) = UTF8String.fromBytes(bytes, offs(p), offs(p + k) - offs(p))
        p += 1
      }
      new GenericArrayData(out)
    }
  }

  // ---- minhashSig ---------------------------------------------------------

  /** MinHash signature over a shingle-hash set: element i = min over
    * shingles s of `xxhash64(s, i)`, with the exact hash composition of
    * the column form `xxhash64(col, lit(i))` (seed 42 → fold the long,
    * then fold the int) — pinned by a property test against the composed
    * `array_min(transform(...))` formulation, which evaluates `numHashes`
    * interpreted passes per row. One fused loop. */
  def minhashSig(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val base = XxHash64Function.hash(arr.getLong(j), LongType, 42L)
      var i = 0
      while (i < numHashes) {
        val h = XxHash64Function.hash(i, IntegerType, base)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  // ---- lshSignature -------------------------------------------------------

  /** Hyperplane components, lazily materialized per plane index and grown
    * to the largest dimension seen. Component (p, j) is fully determined
    * by the seed scheme `xxhash64(p * 100003 + j) / Long.MaxValue` —
    * identical on every executor and every run, so caching is just
    * memoization, never coordination. One row per plane, shared by all
    * signature widths that include that plane. */
  private val planeRows = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Double]]()

  private def planeRow(p: Int, dim: Int): Array[Double] = {
    val cur = planeRows.get(p)
    if (cur != null && cur.length >= dim) cur
    else planeRows.compute(p, (_, old) =>
      if (old != null && old.length >= dim) old
      else {
        val n = math.max(dim, if (old == null) 64 else old.length * 2)
        val arr = new Array[Double](n)
        var j = 0
        while (j < n) {
          // Same hash input type as the column form's `lit(p) * 100003 + j`
          // (INT arithmetic → xxhash64 over IntegerType, default seed 42).
          arr(j) = XxHash64Function.hash(p * 100003 + j, IntegerType, 42L)
            .toDouble / Long.MaxValue.toDouble
          j += 1
        }
        arr
      })
  }

  /** Sign-bit LSH signature: bit p set iff the dot product of `vec` with
    * pseudo-random hyperplane p is > 0. Bit-identical to the composed
    * `zip_with`/`aggregate` fold (same left-to-right summation order,
    * same per-component double arithmetic) on null-free vectors, but one
    * fused loop over a plane matrix memoized per executor. The composed
    * form runs `planes` separate folds, each re-deriving every hyperplane
    * component through an interpreted `xxhash64` lambda per element: the
    * last interpreted higher-order-function hot path, which every ANN
    * probe and LSH near-dup pass paid planes × dim times per corpus row.
    *
    * `containsNull` arrays are accepted on purpose — parquet list columns
    * read back with nullable elements even when no null exists. Two
    * DEFINED divergences from the composed fold, both pinned by tests:
    *  - whole-null vector → null signature (the call is null-intolerant)
    *    where the composed form's `when` collapsed null to 0 — a bucket-0
    *    collision artifact, not a behavior to keep;
    *  - null ELEMENT → 0.0 contribution to every plane (sparse-vector
    *    reading; explicit isNullAt so the semantics cannot depend on an
    *    ArrayData implementation's null-slot representation), where the
    *    composed fold would null-poison the plane's projection into an
    *    unconditional 0 bit. Zeroing one missing component keeps the
    *    other dims' geometry; collapsing the whole plane to bit 0 would
    *    bucket every null-containing vector together. */
  def lshSignature(vec: ArrayData, planes: Int): Long = {
    val dim = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      val row = planeRow(p, dim)
      var acc = 0.0
      var j = 0
      while (j < dim) {
        if (!vec.isNullAt(j)) acc += vec.getFloat(j).toDouble * row(j)
        j += 1
      }
      if (acc > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  // ---- tokenStats ---------------------------------------------------------

  /** One-scan token statistics for the text-analysis operators: the
    * [[TokenStats.schema]] struct `(n_tokens, n_chars, stop, en, es, de,
    * fr)`. Token semantics match `TextOps.tokens` (trim + ASCII-whitespace
    * split).
    *
    * Why native: `langId`/`qualityScore` as column compositions evaluate
    * `split` + interpreted `filter` lambdas several times per row (no
    * common-subexpression elimination across when/greatest chains). This
    * is one byte-scan. */
  def tokenStats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    var nTokens, nChars, stop, en, es, de, fr = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        nTokens += 1
        nChars += i - start
        val t = UTF8String.fromBytes(bytes, start, i - start)
        if (TokenStats.stopSet.contains(t)) stop += 1
        if (TokenStats.enSet.contains(t)) en += 1
        if (TokenStats.esSet.contains(t)) es += 1
        if (TokenStats.deSet.contains(t)) de += 1
        if (TokenStats.frSet.contains(t)) fr += 1
      }
    }
    InternalRow(nTokens, nChars, stop, en, es, de, fr)
  }

  // ---- repetitionStats ----------------------------------------------------

  private val Space = UTF8String.fromString(" ")

  /** One byte-scan repetition counters: (tokens, dup_tokens, bigrams,
    * dup_bigrams), dup_* = occurrences beyond the first. Exact set
    * semantics (UTF8String equality — no hashing shortcut), matching the
    * composed `array_distinct` formulation token-for-token; bigram
    * identity is the space-joined pair, identical to `concat_ws(" ", ...)`
    * (tokens cannot contain whitespace, so the join is injective).
    *
    * Why native: the composed form
    * ([[QualityFilters.repetitionStatsArrayOps]]) materializes the token
    * array, a transformed bigram array, and two `array_distinct` copies
    * per row — five short-lived arrays per document. This runs one byte
    * scan with two hash sets and allocates only the token slices, the same
    * discipline as [[tokenStats]]. */
  def repetitionStats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    var nTokens, nBigrams = 0
    val seenTok = new java.util.HashSet[UTF8String]()
    val seenBi = new java.util.HashSet[UTF8String]()
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        val t = UTF8String.fromBytes(bytes, start, i - start)
        nTokens += 1
        seenTok.add(t)
        if (prev != null) {
          nBigrams += 1
          seenBi.add(UTF8String.concat(prev, Space, t))
        }
        prev = t
      }
    }
    InternalRow(nTokens, nTokens - seenTok.size, nBigrams, nBigrams - seenBi.size)
  }

  // ---- PII scan / redact --------------------------------------------------
  //
  // Hand-rolled scanners exactly equivalent to the three Privacy regexes
  // (which use no lookaround or backreferences, so each has a
  // deterministic one-pass scanner): java.util.regex pays NFA
  // backtracking and per-char Matcher dispatch — the PII pass must touch
  // every byte of the corpus, and the scanner cut the end-to-end q62
  // query 2.2× (1.19 s → 0.55 s at sf0.1; the isolated scan is faster
  // still). Equivalence to the regex formulation is parity-pinned in
  // PropertiesSpec over adversarial and randomized inputs. All three
  // patterns are pure ASCII; multi-byte UTF-8 units have the high bit set
  // and never equal an ASCII byte, so scanning raw bytes is sound.

  @inline private def isDigitB(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def isAlphaB(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  @inline private def isWordB(b: Byte): Boolean =
    isAlphaB(b) || isDigitB(b) || b == '_'
  @inline private def isLocalB(b: Byte): Boolean =
    isAlphaB(b) || isDigitB(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  @inline private def isLabelB(b: Byte): Boolean =
    isAlphaB(b) || isDigitB(b) || b == '-'

  /** Leftmost non-overlapping matches of `Privacy.EmailRe`
    * (`[A-Za-z0-9._%+-]+@[domain-labels]*\.[A-Za-z]{2,}`): for each '@',
    * the local part is the maximal run of local chars before it (floored
    * at the previous match end). The greedy-with-backtracking domain
    * resolves to the final `\.TLD` landing on the LAST label whose
    * LEADING ALPHA PREFIX has length ≥ 2 (at least two labels total);
    * the match ends at that prefix — the TLD term has no trailing anchor,
    * so `a@b.cc1` legally matches as `a@b.cc`. */
  private def scanEmails(b: Array[Byte], f: (Int, Int) => Unit): Int = {
    val n = b.length
    var count = 0
    var floor = 0
    var a = 0
    while (a < n) {
      if (b(a) == '@') {
        var ls = a
        while (ls > floor && isLocalB(b(ls - 1))) ls -= 1
        if (ls < a) {
          var i = a + 1
          var labelIdx = 0
          var bestEnd = -1
          var cont = i < n && isLabelB(b(i))
          while (cont) {
            val s0 = i
            while (i < n && isLabelB(b(i))) i += 1
            var ap = s0 // end of the label's leading alpha prefix
            while (ap < i && isAlphaB(b(ap))) ap += 1
            labelIdx += 1
            if (labelIdx >= 2 && ap - s0 >= 2) bestEnd = ap
            if (i + 1 < n && b(i) == '.' && isLabelB(b(i + 1))) i += 1
            else cont = false
          }
          if (bestEnd > 0) {
            if (f != null) f(ls, bestEnd)
            count += 1
            floor = bestEnd
            a = bestEnd - 1 // outer increment re-examines from the match end
          }
        }
      }
      a += 1
    }
    count
  }

  /** Leftmost non-overlapping matches of `Privacy.Ipv4Re`
    * (`\b\d{1,3}(\.\d{1,3}){3}\b`): four dot-joined digit runs of 1–3,
    * word boundaries on both ends. A candidate can only start at a digit
    * run head (a start inside a run fails `\b`), so failed candidates
    * skip their first run — byte-for-byte what the regex backtracker
    * concludes, without the backtracking. */
  private def scanIps(b: Array[Byte], f: (Int, Int) => Unit): Int = {
    val n = b.length
    var count = 0
    var i = 0
    while (i < n) {
      if (isDigitB(b(i)) && (i == 0 || !isWordB(b(i - 1)))) {
        var j = i
        var runs = 0
        var ok = true
        var end = -1
        while (ok && runs < 4) {
          val s0 = j
          while (j < n && isDigitB(b(j))) j += 1
          val len = j - s0
          if (len < 1 || len > 3) ok = false
          else {
            runs += 1
            if (runs == 4) end = j
            else if (j + 1 < n && b(j) == '.' && isDigitB(b(j + 1))) j += 1
            else ok = false
          }
        }
        if (ok && (end == n || !isWordB(b(end)))) {
          if (f != null) f(i, end)
          count += 1
          i = end
        } else {
          var k = i
          while (k < n && isDigitB(b(k))) k += 1
          i = k
        }
      } else i += 1
    }
    count
  }

  /** Leftmost non-overlapping matches of `Privacy.PhoneRe` (`\+\d{7,15}`,
    * greedy, no trailing boundary). */
  private def scanPhones(b: Array[Byte], f: (Int, Int) => Unit): Int = {
    val n = b.length
    var count = 0
    var i = 0
    while (i < n) {
      if (b(i) == '+') {
        var j = i + 1
        val s0 = j
        while (j < n && isDigitB(b(j)) && j - s0 < 15) j += 1
        if (j - s0 >= 7) {
          if (f != null) f(i, j)
          count += 1
          i = j
        } else i += 1
      } else i += 1
    }
    count
  }

  /** (emails, ips, phones) hit counts — three byte scans, no regex (see
    * [[Privacy.piiCounts]]). */
  def piiStats(s: UTF8String): InternalRow = {
    val b = s.getBytes
    InternalRow(scanEmails(b, null), scanIps(b, null), scanPhones(b, null))
  }

  private def replaceAll(b: Array[Byte],
                         scan: (Array[Byte], (Int, Int) => Unit) => Int,
                         placeholder: Array[Byte]): Array[Byte] = {
    val spans = new java.util.ArrayList[Integer]()
    scan(b, (s, e) => { spans.add(s); spans.add(e); () })
    if (spans.isEmpty) return b
    val out = new java.io.ByteArrayOutputStream(b.length)
    var prev = 0
    var k = 0
    while (k < spans.size) {
      val s = spans.get(k).intValue()
      val e = spans.get(k + 1).intValue()
      out.write(b, prev, s - prev)
      out.write(placeholder, 0, placeholder.length)
      prev = e
      k += 2
    }
    out.write(b, prev, b.length - prev)
    out.toByteArray
  }

  private val EmailTag = "<EMAIL>".getBytes("UTF-8")
  private val IpTag = "<IP>".getBytes("UTF-8")
  private val PhoneTag = "<PHONE>".getBytes("UTF-8")

  /** Sequential-pass redaction, same order and placeholders as the
    * regexp_replace chain: emails, then IPs, then phones — each pass
    * scans the previous pass's output, exactly like the Column version
    * (see [[Privacy.redact]]). */
  def piiRedact(s: UTF8String): UTF8String = {
    var b = s.getBytes
    b = replaceAll(b, scanEmails, EmailTag)
    b = replaceAll(b, scanIps, IpTag)
    b = replaceAll(b, scanPhones, PhoneTag)
    UTF8String.fromBytes(b)
  }

  // ---- nearest centroid ---------------------------------------------------

  /** Index of the centroid minimizing squared Euclidean distance to `v` —
    * the inner loop of Lloyd's k-means and of IVF-style coarse
    * quantization.
    *
    * The centroid matrix is a model argument ([[Kernel.model]]) because it
    * is data-dependent, unlike [[lshSignature]]'s derivable plane matrix;
    * the per-row cost is one fused k·dim multiply-accumulate pass with no
    * per-row allocation, and whole-stage codegen spans stay unbroken.
    * `flat` is the row-major k×dim centroid matrix, `cc` the per-centroid
    * self-inner-products (left-to-right fold, the same order DuckDB's
    * `list_inner_product(cv, cv)` uses). Distance is compared through
    * `cc(j) - 2·(v·c_j)` — the `v·v` term is constant across j, so it
    * never moves the argmin. Strict `<` keeps the LOWEST index on an
    * exact tie (mirroring the oracle's `ORDER BY dist, cl`). Null vector
    * elements contribute 0.0 (the [[lshSignature]] sparse-null
    * convention); a vector shorter than dim treats missing dims as 0. */
  def nearestCentroid(v: ArrayData, c: KMeansOps.Centroids, dim: Int): Int = {
    val flat = c.flat
    val cc = c.cc
    val k = cc.length
    val n = math.min(dim, v.numElements())
    var best = 0
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < k) {
      val off = j * dim
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) s += v.getFloat(i).toDouble * flat(off + i)
        i += 1
      }
      val d = cc(j) - 2.0 * s
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** The `n` nearest centroid indices in ascending distance order (the
    * IVF multi-probe list). Same distance contract as [[nearestCentroid]]
    * — `cc(j) − 2·(v·c_j)`, null elements 0, strict `<` selection so an
    * exact distance tie yields the LOWER index first. `n ≥ k` returns all
    * k, still distance-ordered. */
  def nearestCentroidsN(v: ArrayData, c: KMeansOps.Centroids, dim: Int, n: Int): ArrayData = {
    val flat = c.flat
    val cc = c.cc
    val k = cc.length
    val vd = math.min(dim, v.numElements())
    val d = new Array[Double](k)
    var j = 0
    while (j < k) {
      val off = j * dim
      var s = 0.0
      var i = 0
      while (i < vd) {
        if (!v.isNullAt(i)) s += v.getFloat(i).toDouble * flat(off + i)
        i += 1
      }
      d(j) = cc(j) - 2.0 * s
      j += 1
    }
    val m = math.min(n, k)
    val out = new Array[Int](m)
    val used = new Array[Boolean](k)
    var t = 0
    while (t < m) {
      var best = -1
      var bd = Double.PositiveInfinity
      var jj = 0
      while (jj < k) {
        if (!used(jj) && d(jj) < bd) { bd = d(jj); best = jj }
        jj += 1
      }
      if (best < 0) { // all-NaN distances (NaN vector): lowest unused index
        var p = 0
        while (used(p)) p += 1
        best = p
      }
      used(best) = true
      out(t) = best
      t += 1
    }
    new GenericArrayData(out)
  }

  // ---- product quantization (PQ) -----------------------------------------
  // Codebook layout: flat(((mi*ksub)+j)*dsub + d) = codebooks[mi][j][d];
  // cc(mi*ksub+j) = |c_mij|² (left-to-right fold). Vectors are float
  // arrays; null elements contribute 0.0 (the sparse-null convention of
  // nearestCentroid/dot above). The codebooks are a model argument
  // ([[Kernel.model]]), as nearestCentroid's centroid matrix is.

  /** Encode a vector into m one-byte codes: per subvector mi, the argmin-
    * distance codebook entry via the cc − 2·dot trick (strict `<` keeps
    * the lowest index on ties — the nearestCentroid contract). */
  def pqEncode(v: ArrayData, model: ProductQuantizer.PqModel,
               m: Int, dsub: Int, ksub: Int): Array[Byte] = {
    val flat = model.flat
    val cc = model.cc
    val out = new Array[Byte](m)
    val vn = v.numElements()
    var mi = 0
    while (mi < m) {
      val base = mi * dsub
      var best = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < ksub) {
        val off = ((mi * ksub) + j) * dsub
        var s = 0.0
        var d = 0
        while (d < dsub) {
          val idx = base + d
          if (idx < vn && !v.isNullAt(idx)) s += v.getFloat(idx).toDouble * flat(off + d)
          d += 1
        }
        val dist = cc(mi * ksub + j) - 2.0 * s
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      out(mi) = best.toByte
      mi += 1
    }
    out
  }

  /** ADC lookup table for one query vector: lut(mi*ksub + j) = q_mi · c_mij.
    * Computed once per query; every candidate's approximate dot is then
    * m table lookups ([[pqAdc]]) instead of a dim-length float loop. */
  def pqLut(v: ArrayData, model: ProductQuantizer.PqModel,
            m: Int, dsub: Int, ksub: Int): ArrayData = {
    val flat = model.flat
    val out = new Array[Double](m * ksub)
    val vn = v.numElements()
    var mi = 0
    while (mi < m) {
      val base = mi * dsub
      var j = 0
      while (j < ksub) {
        val off = ((mi * ksub) + j) * dsub
        var s = 0.0
        var d = 0
        while (d < dsub) {
          val idx = base + d
          if (idx < vn && !v.isNullAt(idx)) s += v.getFloat(idx).toDouble * flat(off + d)
          d += 1
        }
        out(mi * ksub + j) = s
        j += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric distance computation: approximate q·x from the query's
    * LUT and the candidate's codes — Σ_mi lut(mi*ksub + code_mi), m table
    * lookups per candidate: the PQ scan inner loop. */
  def pqAdc(lut: ArrayData, codes: Array[Byte], ksub: Int): Double = {
    var s = 0.0
    var mi = 0
    while (mi < codes.length) {
      s += lut.getDouble(mi * ksub + (codes(mi) & 0xff))
      mi += 1
    }
    s
  }

  /** Spread dimension `dim`'s value across the Morton key: bit j of `v`
    * lands at key bit j*dims + dim. Out-of-range v throws — a silent
    * clamp would corrupt z-locality invisibly (ZOrder.quantize clamps
    * upstream, where clamping is the documented contract). */
  def zorderSpread(v: Long, bits: Int, dims: Int, dim: Int): Long = {
    if (v < 0L || v >= (1L << bits))
      throw new IllegalArgumentException(
        s"graft_zorder: dimension $dim value $v out of [0, ${1L << bits}) — " +
          "quantize inputs to the declared bit width first")
    var key = 0L
    var j = 0
    while (j < bits) {
      key |= ((v >>> j) & 1L) << (j * dims + dim)
      j += 1
    }
    key
  }

  /** BPE encode of a whitespace-pretokenized text: flat subword array /
    * fused count (no token array built). The compiled model (merge table
    * + per-word memo) is a model argument ([[Kernel.model]]); bodies live
    * in [[Bpe]] next to the training loop they must mirror. */
  def bpeTokens(text: org.apache.spark.unsafe.types.UTF8String,
                m: Bpe.Compiled): org.apache.spark.sql.catalyst.util.GenericArrayData =
    Bpe.runtimeTokens(text, m)

  def bpeTokenCount(text: org.apache.spark.unsafe.types.UTF8String,
                    m: Bpe.Compiled): Long =
    Bpe.runtimeTokenCount(text, m)

  /** Fused NB document score: (n_feat, nb_score_u) as one struct row —
    * the whole `explode(wordFeatures) → md5 bucket → broadcast-join lr
    * table → groupBy(doc) integer sum` plan collapsed to ONE per-row call.
    *
    * Bit-identical to the composed formulation (parity-pinned in the
    * spec: same normalization (trim → `\s+`→' ' → UTF8String lowercase),
    * same uni+bigram features, same md5-prefix bucket, same µ-quantized
    * integer sum) — but the composed plan materialized ~2·tokens rows per
    * document through explode, probed a broadcast HashedRelation per
    * feature, and paid a hash aggregate to reassemble per-doc sums. At
    * scoring scale that row machinery dominated the actual work (the
    * q119 sf0.1 watch: 1.5 s for ~5M feature rows); here the model is a
    * `buckets`-sized long array passed as a model argument
    * ([[Kernel.model]]), the lookup is an array index, and the scoring
    * pass has ZERO exchanges. */
  def nbDocScore(text: org.apache.spark.unsafe.types.UTF8String,
                 m: NbDocScore.Compiled): org.apache.spark.sql.catalyst.InternalRow = {
    val (n, s) = m.score(text)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, s))
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** featBucket's definition on digest bytes: first 8 md5 hex digits =
    * first 4 digest bytes as an unsigned 32-bit value, mod `buckets`
    * (exactly [[NbDocScore.Compiled]]'s lookup and the composed plan's
    * `conv(substring(md5(g), 1, 8), 16, 10) % buckets`). */
  @inline private def md5Bucket(feature: String, buckets: Int): Long = {
    val d = md5Local.get()
    d.reset()
    val b = d.digest(feature.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((b(0) & 0xFFL) << 24) | ((b(1) & 0xFFL) << 16) |
      ((b(2) & 0xFFL) << 8) | (b(3) & 0xFFL)
    v % buckets
  }

  /** The NB FIT side's feature stream, fused: md5-prefix bucket ids of
    * every uni+bigram word feature of the normalized text — replaces
    * `explode(wordFeatures) → md5 → conv → %` whose higher-order
    * transform/element_at lambdas run INTERPRETED and dominated the
    * q119/q122 fit pass (parity-pinned against the composed form in the
    * spec and end-to-end by the q119/q122/q123 oracles). Normalization replicates normText exactly (Spark trim →
    * java-regex whitespace squeeze → UTF8String lowercase — the
    * [[NbDocScore.Compiled.score]] path, parity-pinned). Blank text →
    * empty array. */
  def nbFeatBuckets(text: org.apache.spark.unsafe.types.UTF8String,
                    buckets: Int): ArrayData = {
    val squeezed = text.trim().toString.replaceAll("\\s+", " ")
    val norm = org.apache.spark.unsafe.types.UTF8String
      .fromString(squeezed).toLowerCase.toString
    if (norm.isEmpty) new GenericArrayData(Array.emptyLongArray)
    else {
      val toks = norm.split(" ", -1)
      val n = toks.length
      val out = new Array[Long](2 * n - 1)
      var i = 0
      var j = 0
      while (i < n) {
        out(j) = md5Bucket(toks(i), buckets)
        j += 1
        if (i + 1 < n) {
          out(j) = md5Bucket(toks(i) + " " + toks(i + 1), buckets)
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Char-TRIGRAM bucket stream — [[nbFeatBuckets]]'s orthographic twin
    * for the multiclass lang-id fit/predict passes: md5-prefix bucket of
    * every 3-code-point window of the normalized text (the charWindows
    * slicing, the featBucket hash), fused for the same reason. Texts
    * under 3 code points → empty. */
  def triBuckets(text: org.apache.spark.unsafe.types.UTF8String,
                 buckets: Int): ArrayData = {
    val squeezed = text.trim().toString.replaceAll("\\s+", " ")
    val norm = org.apache.spark.unsafe.types.UTF8String
      .fromString(squeezed).toLowerCase.toString
    val nCp = norm.codePointCount(0, norm.length)
    if (nCp < 3) new GenericArrayData(Array.emptyLongArray)
    else {
      val out = new Array[Long](nCp - 2)
      var start = 0
      var end = norm.offsetByCodePoints(0, 3)
      var k = 0
      while (k < out.length) {
        out(k) = md5Bucket(norm.substring(start, end), buckets)
        start = norm.offsetByCodePoints(start, 1)
        if (k + 1 < out.length) end = norm.offsetByCodePoints(end, 1)
        k += 1
      }
      new GenericArrayData(out)
    }
  }

  // ---- ruleStats (Gopher/C4 heuristic gate) -------------------------------

  private val LoremNeedle = UTF8String.fromString("lorem ipsum")

  /** One-pass counters for [[QualityFilters.ruleStats]], exactly
    * equivalent to the composed built-in formulation
    * ([[QualityFilters.ruleStatsArrayOps]], the parity pin):
    *  - token machine = [[tokenStats]]' whitespace split; n_chars counts
    *    CODE POINTS per token (`length()` semantics, not bytes);
    *  - alpha = token carries ≥1 ASCII letter (multibyte UTF-8 bytes are
    *    ≥ 0x80, so the byte probe can't false-positive);
    *  - stop hits = DISTINCT Gopher stopwords, tracked as a bitmask;
    *  - symbols: '#' chars + '…' chars + LEFT-TO-RIGHT NON-OVERLAPPING
    *    "..." runs (the `replace(s,'...','')` length-delta semantics);
    *    the three patterns are byte-disjoint so one fused scan is exact;
    *  - lines split on 0x0A, trimmed of 0x20 only (Spark `trim`), blank
    *    dropped; bullet = first code point in {'-','*','•'}, terminal =
    *    last BYTE in {'.','!','?','"'} (ASCII — a multibyte tail byte is
    *    ≥ 0x80 and can't collide), ellipsis = byte suffix "..." or '…',
    *    dup = occurrences beyond first of the trimmed line;
    *  - lorem probe = full Unicode toLowerCase then byte search, the
    *    `lower(text).contains(...)` semantics (NOT an ASCII-folded scan:
    *    exotic case mappings must behave identically to the pin). */
  def ruleStats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    // token pass, mirroring `split(trim(text), '\s+')` EXACTLY: trim
    // strips 0x20 only, and a regex split keeps ONE empty leading/
    // trailing field when the trimmed string starts/ends with non-space
    // whitespace (\t, \n, \v, \f, \r) — a phantom zero-char token that
    // the composed pin (and the DuckDB oracle) count toward n_tokens
    var a0 = 0
    var z0 = n
    while (a0 < z0 && bytes(a0) == ' ') a0 += 1
    while (z0 > a0 && bytes(z0 - 1) == ' ') z0 -= 1
    var nTokens, nAlpha, nChars, stopMask = 0
    if (a0 < z0 && isWs(bytes(a0))) nTokens += 1
    if (a0 < z0 && isWs(bytes(z0 - 1))) nTokens += 1
    var i = a0
    while (i < z0) {
      while (i < z0 && isWs(bytes(i))) i += 1
      val start = i
      var alpha = false
      while (i < z0 && !isWs(bytes(i))) {
        val b = bytes(i)
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) alpha = true
        i += 1
      }
      if (i > start) {
        nTokens += 1
        if (alpha) nAlpha += 1
        val t = UTF8String.fromBytes(bytes, start, i - start)
        nChars += t.numChars()
        val gi = QualityFilters.gopherIndex(t)
        if (gi >= 0) stopMask |= 1 << gi
      }
    }
    // symbol pass ('#', '…', non-overlapping "..."; byte-disjoint)
    var hashes, ellChars, dotRuns = 0
    var hasBrace = false
    i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == '#') { hashes += 1; i += 1 }
      else if (b == '{') { hasBrace = true; i += 1 }
      else if (b == '.' && i + 2 < n && bytes(i + 1) == '.' && bytes(i + 2) == '.') {
        dotRuns += 1; i += 3
      } else if (b == 0xE2.toByte && i + 2 < n &&
          bytes(i + 1) == 0x80.toByte && bytes(i + 2) == 0xA6.toByte) {
        ellChars += 1; i += 3
      } else i += 1
    }
    // line pass
    var nLines, nBullet, nEll, nTerm = 0
    val seen = new java.util.HashSet[UTF8String]()
    var dups = 0
    var lineStart = 0
    var p = 0
    while (p <= n) {
      if (p == n || bytes(p) == '\n') {
        var a = lineStart
        var z = p
        while (a < z && bytes(a) == ' ') a += 1
        while (z > a && bytes(z - 1) == ' ') z -= 1
        if (z > a) {
          nLines += 1
          val first = bytes(a)
          if (first == '-' || first == '*' ||
              (first == 0xE2.toByte && a + 2 < z &&
               bytes(a + 1) == 0x80.toByte && bytes(a + 2) == 0xA2.toByte))
            nBullet += 1
          val last = bytes(z - 1)
          if (last == '.' || last == '!' || last == '?' || last == '"') nTerm += 1
          if ((z - a >= 3 && bytes(z - 3) == '.' && bytes(z - 2) == '.' && last == '.') ||
              (z - a >= 3 && bytes(z - 3) == 0xE2.toByte &&
               bytes(z - 2) == 0x80.toByte && last == 0xA6.toByte))
            nEll += 1
          if (!seen.add(UTF8String.fromBytes(bytes, a, z - a))) dups += 1
        }
        lineStart = p + 1
      }
      p += 1
    }
    val hasLorem = s.toLowerCase.contains(LoremNeedle)
    InternalRow(nTokens, nChars, nAlpha, Integer.bitCount(stopMask),
      (hashes + ellChars + dotRuns).toDouble, nLines, nBullet, nEll, nTerm,
      dups, hasLorem, hasBrace)
  }

  /** One-call gate verdict: [[ruleStats]] (+ [[repFractions]] when the
    * params enable the repetition tier) + the threshold conjunctions —
    * see [[QualityFilters.rulePass]] for why the pipeline filter needs a
    * single-expression boolean. */
  def rulePass(s: UTF8String, p: QualityFilters.RuleParams): Boolean =
    QualityFilters.passes(ruleStats(s), p) &&
      (!p.checkRepetition || QualityFilters.repPasses(repFractions(s), p))

  /** Gopher §A1.1 repetition fractions in one tokenize pass (9 doubles):
    *  - n ∈ {2,3,4}: TOP n-gram character fraction = max over distinct
    *    n-grams g of occurrences(g) × gramChars(g), over total token
    *    chars — deterministic by construction (a max of products; the
    *    paper's "most frequent n-gram" is tie-ambiguous, so we take the
    *    gram covering the most characters — documented deviation),
    *  - n ∈ {5..10}: DUPLICATE n-gram character fraction = chars of
    *    token positions covered by ≥1 n-gram occurring ≥2 times, over
    *    total token chars (position-union — overlaps counted once).
    * Gram identity = the space-joined token window (tokens carry no
    * whitespace, so the join is injective — the [[repetitionStats]]
    * bigram convention); char counts are CODE POINTS. Fewer than n
    * tokens (or an empty doc) ⇒ 0.0 for that n. */
  def repFractions(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    val toks = new java.util.ArrayList[UTF8String](64)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) toks.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    val m = toks.size()
    val charLen = new Array[Int](m)
    var totalChars = 0L
    i = 0
    while (i < m) { charLen(i) = toks.get(i).numChars(); totalChars += charLen(i); i += 1 }
    val out = new Array[Double](9)
    if (totalChars > 0L) {
      val Space = UTF8String.fromString(" ")
      var g = 2
      while (g <= 10) {
        if (m >= g) {
          // count occurrences per distinct gram (space-joined window)
          val counts = new java.util.HashMap[UTF8String, Array[Int]]()
          var p = 0
          while (p <= m - g) {
            var key = toks.get(p)
            var j = 1
            while (j < g) { key = UTF8String.concat(key, Space, toks.get(p + j)); j += 1 }
            val c = counts.get(key)
            if (c == null) counts.put(key, Array(1)) else c(0) += 1
            p += 1
          }
          if (g <= 4) {
            var best = 0L
            val it = counts.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              val gramChars = e.getKey.numChars().toLong - (g - 1)
              val prod = e.getValue()(0).toLong * gramChars
              if (prod > best) best = prod
            }
            out(g - 2) = best.toDouble / totalChars.toDouble
          } else {
            val covered = new Array[Boolean](m)
            p = 0
            while (p <= m - g) {
              var key = toks.get(p)
              var j = 1
              while (j < g) { key = UTF8String.concat(key, Space, toks.get(p + j)); j += 1 }
              if (counts.get(key)(0) >= 2) {
                j = 0
                while (j < g) { covered(p + j) = true; j += 1 }
              }
              p += 1
            }
            var covChars = 0L
            i = 0
            while (i < m) { if (covered(i)) covChars += charLen(i); i += 1 }
            out(g - 2) = covChars.toDouble / totalChars.toDouble
          }
        }
        g += 1
      }
    }
    InternalRow(out(0), out(1), out(2), out(3), out(4), out(5), out(6),
      out(7), out(8))
  }
}
