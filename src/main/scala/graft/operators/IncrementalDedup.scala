package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (cross-batch) exact dedup — the ingest-time shape.
  *
  * A production corpus is not deduplicated once; every new crawl batch
  * must be checked against ALL history. Re-joining each batch against the
  * full historical fingerprint table shuffles the history every day. The
  * incremental pattern: keep a bloom filter over historical fingerprints
  * (KBs–MBs, mergeable, persisted next to the corpus — the
  * `datasketch_bloom` / `datasketch_bloom_union` aggregates), probe the
  * new batch against it AT THE SCAN (codegen'd `might_contain` literal,
  * same mechanics as [[BloomPrune]]), and exact-verify only the
  * candidates. Because bloom filters have no false negatives, the result
  * is EXACTLY the anti-join of the batch against history; false positives
  * only cost fpp·|batch| rows of residual verify traffic.
  *
  * At 100 TB: the history side of the verify join is pruned by a second
  * filter, built over the candidates' fingerprints (a history row the
  * candidate filter rejects can't be a candidate's partner), so the daily
  * cost is O(|batch| + matches), not O(|history|).
  *
  * Filter sizing: unless the caller passes a capacity (or, for history, a
  * persisted `historyBlob`), each filter is sized from a row count — the
  * history's for the history filter, the batch's (an upper bound on the
  * candidates) for the candidate filter — under the shared
  * [[sizedMaxDistinct]] headroom policy, clamped to [1024, 2^20]
  * ([[callCapacity]]). Both blobs are planted in the plans as literals
  * and shipped with every task that probes them, so a filter sized for a
  * million keys (1.26 MB at fpp 0.01) taxes a 250-doc history on every
  * call. Past 2^20 history keys the supported path is the persisted
  * filter (`historyBlob`); the cap only degrades the history filter's
  * fpp, never the result.
  */
object IncrementalDedup {

  /** The history-side filter blob: one aggregate job over history's
    * fingerprints. In production this is built once per corpus snapshot,
    * persisted in the metadata store, `datasketch_bloom_union`-merged as
    * batches are admitted, and READ BACK per batch — not recomputed.
    * Callers with that lifecycle pass it to [[dedupAgainstHistory]] via
    * `historyBlob`. `maxDistinct` left at -1 sizes the filter from
    * history's row count ([[callCapacity]], one count job, 1024 keys at
    * least). The empty filter when history is empty. */
  def buildHistoryFilter(history: DataFrame, textCol: String,
                         maxDistinct: Long = -1L,
                         fpp: Double = 0.01): Array[Byte] = {
    val cap =
      if (maxDistinct > 0) maxDistinct
      else callCapacity(math.max(1L, history.count()))
    history.agg(
        call_function("datasketch_bloom", lit(cap), lit(fpp),
          TextOps.fingerprint(col(textCol))).as("f"))
      .head().getAs[Array[Byte]](0)
  }

  /** Filter capacity for an expected key count, with the shared
    * [[graft.streaming.StreamingDedup.CapacityHeadroom]] policy (the
    * sharded streaming geometry and this single-blob shape must not
    * drift apart on sizing). Floored at 1024 — below that the filter is
    * a few hundred bytes and further shrinking buys nothing. */
  def sizedMaxDistinct(expectedKeys: Long): Long = {
    require(expectedKeys > 0, s"expectedKeys must be positive, got $expectedKeys")
    math.max(1024L,
      math.ceil(expectedKeys * graft.streaming.StreamingDedup.CapacityHeadroom).toLong)
  }

  /** Capacity of a filter built inside one [[dedupAgainstHistory]] call
    * over `keys` rows: the shared headroom policy, capped at 2^20 — the
    * fixed size every call used before the filters were sized from their
    * inputs (1.26 MB at fpp 0.01). */
  private[graft] def callCapacity(keys: Long): Long =
    math.min(1L << 20, sizedMaxDistinct(keys))

  /** Rows of `batch` whose text fingerprint does not occur in `history` —
    * the docs a pipeline would admit. Output schema = `batch` schema.
    * `historyBlob` supplies a prebuilt/persisted history filter (None →
    * build it here with one extra job). `maxDistinct` and
    * `candMaxDistinct` fix the capacities of the history and candidate
    * filters (see sketch.Bloom); left at -1, each is sized from a row
    * count ([[callCapacity]]) — history's, and the batch's as the bound
    * on the candidates — at the cost of one count job each. Filter
    * bytes are a per-aggregation-buffer cost (each partial-agg task
    * heapifies, merges and serializes the full filter) and a per-task
    * one (the blob ships in the plan): the r11 measurement put the 2^20
    * default at ~6× the right-sized build time on a 10k-key corpus. An
    * undersized filter doesn't break correctness — it degrades fpp, i.e.
    * more residual verify traffic, never wrong output. */
  def dedupAgainstHistory(batch: DataFrame, history: DataFrame,
                          idCol: String, textCol: String,
                          maxDistinct: Long = -1L,
                          fpp: Double = 0.01,
                          historyBlob: Option[Array[Byte]] = None,
                          candMaxDistinct: Long = -1L): DataFrame = {
    val fp = TextOps.fingerprint(col(textCol))
    val blob = historyBlob match {
      case Some(b) => b
      case None if maxDistinct > 0 =>
        buildHistoryFilter(history, textCol, maxDistinct, fpp)
      case None =>
        val n = history.count()
        if (n == 0) return batch // empty history: everything is new
        buildHistoryFilter(history, textCol, callCapacity(n), fpp)
    }
    if (blob == null) return batch // no filter: everything is new
    val probe = call_function("datasketch_bloom_might_contain", lit(blob), fp)
    // candidates: true dups + ~fpp·|batch| false positives
    val cand = batch.filter(probe)
      .select(col(idCol).as("__inc_id"), fp.as("__inc_fp"))
    // Verify join. The history side is pruned with a SECOND bloom, built
    // over the (small) candidate set — pruning history with its own
    // filter would be a no-op (every history row passes). No false
    // negatives on the candidate filter means no real partner is
    // dropped, so the result is still exact; both join inputs now carry
    // (id, 16 B fingerprint) rows bounded by candidates + fpp·|history|.
    // (In production the history scan reads a persisted narrow
    // fingerprint table, not the raw text.) The candidates are a subset
    // of the batch, so the batch's row count bounds them.
    val candCap = if (candMaxDistinct > 0) candMaxDistinct else {
      val n = batch.count()
      if (n == 0) return batch
      callCapacity(n)
    }
    val candBlob = cand.agg(
        call_function("datasketch_bloom", lit(candCap), lit(fpp),
          col("__inc_fp")).as("f"))
      .head().getAs[Array[Byte]](0)
    val histFp = history
      .filter(call_function("datasketch_bloom_might_contain", lit(candBlob), fp))
      .select(fp.as("__hist_fp")).distinct()
    val confirmed = cand.join(histFp, col("__inc_fp") === col("__hist_fp"), "left_semi")
      .select(col("__inc_id"))
    batch.join(confirmed, batch(idCol) === col("__inc_id"), "left_anti")
  }
}
