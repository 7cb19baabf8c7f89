package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget shard packing for training-data pipelines: assign each
  * document to the shard whose running token total (in a deterministic
  * global document order) its first token falls into —
  * `shard = floor(prefix_tokens_before_doc / budget)`.
  *
  * The naive formulation is a single global running-sum window, which
  * Spark executes as ONE task over the whole corpus — the canonical
  * 100 TB scale-killer. This operator computes the same prefix sum with
  * the classic two-level distributed scan:
  *
  *   1. range-partition by the order key (so partition index order IS
  *      global key order),
  *   2. partition-local cumulative sums via a window PARTITIONED BY the
  *      partition id (parallelism = partition count),
  *   3. per-partition totals (one row per partition) prefix-summed on a
  *      P-row relation, broadcast back as offsets.
  *
  * Only step 3 is single-task, over P rows (KB-sized at any scale).
  * The result is byte-identical to the global window — pinned by a
  * parity test and the DuckDB oracle (q58).
  */
object Sharding {

  /** Per-document shard assignment: (doc, ntok, shard).
    *
    * Eager: the call itself runs Spark jobs (the range-bound sample and
    * the `localCheckpoint(eager = true)` of the ranged relation), not
    * the first action on the result. The checkpoint blocks stay in
    * executor storage until the ContextCleaner frees them, after the
    * returned DataFrame is garbage-collected on the driver. */
  def tokenShards(df: DataFrame, idCol: String, textCol: String,
                  budget: Long,
                  tokenCounter: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                    TextOps.tokenCount): DataFrame = {
    // tokenCounter: whitespace tokens by default, Bpe.tokenCount for
    // token-TRUE shard budgets — packing is denomination-agnostic
    require(budget > 0, s"shard token budget must be positive, got $budget")
    val toks = df.select(col(idCol).as("doc"),
      tokenCounter(col(textCol)).cast("long").as("ntok"))
    // step 1: range partitioning makes partition-id order = global order.
    // Materialized ONCE (r22): `ranged` feeds BOTH the local-scan path and
    // the offsets aggregation below — unmaterialized, Catalyst planned the
    // whole upstream subtree (scan + tokenize + range exchange) twice, one
    // copy per branch (q58's plan carried the doubled tree; q140's epoch
    // explode was the worst case at 42 Exchanges). The checkpoint also
    // PINS the sampled range bounds, so both branches provably read the
    // same pid layout instead of two independently-sampled executions.
    // (doc, ntok, pid) rows only — corpus-bounded, never text.
    // pid is projected AFTER the checkpoint (which preserves the
    // partition layout, so the values are identical): both branches then
    // carry the spark_partition_id provenance in their own plans — the
    // offsets aggregate is P-row bounded and the scale-killer sweep can
    // see why.
    val ranged = toks.repartitionByRange(col("doc"))
      .localCheckpoint(eager = true)
      .withColumn("pid", spark_partition_id())
    // step 2: local scan, parallel across partitions
    val local = ranged.withColumn("cum",
      sum("ntok").over(Window.partitionBy("pid").orderBy("doc")))
    // step 3: P-row prefix of partition totals → per-partition offset
    val offsets = local.groupBy("pid").agg(sum("ntok").as("ptotal"))
      .withColumn("offset", coalesce(
        sum("ptotal").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid") // bounded: one row per partition
      .withColumn("shard", floor((col("cum") + col("offset") - col("ntok")) / budget))
      .select(col("doc"), col("ntok"), col("shard"))
  }

  /** CURRICULUM shard packing (r16): [[tokenShards]] with the global
    * order a QUALITY score instead of the id — shard 0 holds the most
    * reference-like documents (ascending `scoreCol`, id on ties), the
    * last shard the least, so a training run that consumes shards in
    * order implements a quality curriculum (the CCNet head→tail
    * discipline at shard grain). Docs without a score row are excluded
    * (the scorer's own domain rule — e.g. blank docs under the trigram
    * LM); same two-level distributed scan, same byte-identical-to-
    * global-window contract, just a different range key. Output:
    * (doc, scoreCol, ntok, shard).
    *
    * Eager, as [[tokenShards]] is: the call runs its jobs and holds its
    * checkpoint blocks until the ContextCleaner frees them. */
  def curriculumShards(df: DataFrame, idCol: String, textCol: String,
                       scores: DataFrame, budget: Long,
                       scoreCol: String = "lm_score_u"): DataFrame = {
    require(budget > 0, s"shard token budget must be positive, got $budget")
    val toks = df.select(col(idCol).as("doc"),
        TextOps.tokenCount(col(textCol)).cast("long").as("ntok"))
      .join(scores.select(col(idCol).as("doc"),
        col(scoreCol).cast("long").as("__cu_s")), Seq("doc"))
    // materialized once — the tokenShards rationale (both branches, pinned
    // range bounds)
    val ranged = toks.repartitionByRange(col("__cu_s"), col("doc"))
      .localCheckpoint(eager = true)
      .withColumn("pid", spark_partition_id())
    val local = ranged.withColumn("cum",
      sum("ntok").over(Window.partitionBy("pid").orderBy(col("__cu_s"), col("doc"))))
    val offsets = local.groupBy("pid").agg(sum("ntok").as("ptotal"))
      .withColumn("offset", coalesce(
        sum("ptotal").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .withColumn("shard", floor((col("cum") + col("offset") - col("ntok")) / budget))
      .select(col("doc"), col("__cu_s").as(scoreCol), col("ntok"), col("shard"))
  }

  /** INCREMENTAL leakage-free split — [[leakageFreeSplit]]'s ingest
    * twin: batch docs are assigned splits CONSISTENT with the immutable
    * history assignment, so a batch doc near-dup-connected (through any
    * chain of pair evidence) to history INHERITS the history split —
    * its 0.9-Jaccard twin in `test` pulls it into `test`, never into
    * `train`. History splits are never reassigned (reassignment would
    * flip already-published eval membership); a batch component with no
    * history link gets the fresh md5-bucket rule over its own min-id
    * key, exactly [[leakageFreeSplit]].
    *
    * Inheritance is deterministic: the split of the component's MIN-ID
    * history doc. A component touching history docs in SEVERAL splits
    * is flagged `bridged = true` — that leakage cannot be repaired
    * post-hoc (history is immutable), so a deployment drops or
    * quarantines bridged batch docs; the flag makes the decision
    * auditable instead of silent.
    *
    * `pairs` is the full pair evidence over history ∪ batch (the
    * q35/q60 snapshot artifact — within-history edges are free and
    * harmless: they only deepen components whose history members
    * already share a split by [[leakageFreeSplit]]'s own guarantee).
    * Scale shape: the components' equi-joins + two id-keyed left joins
    * + one per-cluster aggregation over history members — no text, no
    * corpus-sized window.
    *
    * @param historySplits (idCol, split) — the stored assignment.
    * @return one row per BATCH doc: (idCol, split_key, split, bridged). */
  def incrementalSplit(historySplits: DataFrame, batch: DataFrame,
                       pairs: DataFrame, idCol: String,
                       trainPct: Int = 80, valPct: Int = 10,
                       aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"percentages must satisfy 0 < train, 0 <= val, train + val < 100; " +
        s"got ($trainPct, $valPct)")
    val id = col(idCol)
    val comp = Components.connectedComponents(pairs, aCol, bCol)
    // per component: the min-id history member's split + the bridge flag
    val histInComp = comp.join(
      historySplits.select(col(idCol).as("doc"), col("split").as("__is_hs")),
      Seq("doc"))
    val clusterHist = histInComp.groupBy("cluster")
      .agg(min(struct(col("doc"), col("__is_hs"))).getField("__is_hs")
          .as("__is_inherit"),
        (countDistinct(col("__is_hs")) > 1).as("bridged"))
    batch.select(id)
      .join(comp.select(col("doc").as("__is_cid"), col("cluster")),
        id === col("__is_cid"), "left")
      .withColumn("split_key", coalesce(col("cluster"), id))
      .join(clusterHist, Seq("cluster"), "left")
      .withColumn("__is_bucket",
        conv(substring(md5(col("split_key").cast("string").cast("binary")), 1, 8),
          16, 10).cast("long") % 100)
      .withColumn("split", coalesce(col("__is_inherit"),
        when(col("__is_bucket") < trainPct, "train")
          .when(col("__is_bucket") < trainPct + valPct, "validation")
          .otherwise("test")))
      .withColumn("bridged", coalesce(col("bridged"), lit(false)))
      .select(id, col("split_key"), col("split"), col("bridged"))
  }

  /** TRAINING-ORDER materialization — the recipe's END artifact: the
    * [[QuotaSample.epochRepetition]] epoch counts exploded into actual
    * copies (one row per (doc, copy_idx)), laid out in a deterministic
    * pseudo-random global order (md5 over `doc:copy`, so the repeated
    * copies of an up-sampled doc SPREAD across the run instead of
    * clumping — what optimization actually wants), and packed into
    * token-budget shards with the same two-level prefix scan. A shard
    * writer materializes rows in (shard, order) and a training run
    * reads shards sequentially; the whole order is reproducible
    * metadata (same corpus + recipe = same order on any engine).
    *
    * Scale shape: the explode multiplies rows by the per-doc epoch
    * count — bounded by the token BUDGET by construction (total
    * emitted tokens ≤ totalBudget + one doc per source), so the
    * exploded relation is budget-sized, not corpus×epochs-sized;
    * everything else is the [[curriculumShards]] scan on the md5 key.
    * Output: (doc, copy_idx, ntok, shard).
    *
    * Eager, as [[tokenShards]] is: the call runs its jobs (the
    * per-source token-mass collect among them) and holds its checkpoint
    * blocks until the ContextCleaner frees them. */
  def trainingOrder(df: DataFrame, sourceCol: String, idCol: String,
                    textCol: String, weights: Seq[(String, Double)],
                    totalBudget: Long, shardBudget: Long): DataFrame = {
    require(shardBudget > 0, s"shard token budget must be positive, got $shardBudget")
    val epochs = QuotaSample.epochRepetition(df, sourceCol, idCol, textCol,
      weights, totalBudget)
    val copies = epochs.filter(col("epochs") >= 1L)
      .select(col(idCol).as("doc"), col("n_tokens").as("ntok"),
        explode(sequence(lit(1L), col("epochs"))).as("copy_idx"))
      .withColumn("__to_key",
        md5(concat(col("doc").cast("string"), lit(":"),
          col("copy_idx").cast("string")).cast("binary")))
    // materialized once — the tokenShards rationale; here the shared
    // subtree is the whole epoch-mixture explode, the q140 plan's
    // doubled half (42 Exchanges → half the tree planned once)
    val ranged = copies.repartitionByRange(col("__to_key"), col("doc"), col("copy_idx"))
      .localCheckpoint(eager = true)
      .withColumn("pid", spark_partition_id())
    val local = ranged.withColumn("cum",
      sum("ntok").over(Window.partitionBy("pid")
        .orderBy(col("__to_key"), col("doc"), col("copy_idx"))))
    val offsets = local.groupBy("pid").agg(sum("ntok").as("ptotal"))
      .withColumn("offset", coalesce(
        sum("ptotal").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .withColumn("shard",
        floor((col("cum") + col("offset") - col("ntok")) / shardBudget))
      .select(col("doc"), col("copy_idx"), col("ntok"), col("shard"))
  }

  /** Shard MANIFEST — the artifact a training data-loader consumes:
    * one row per shard with its document count, token total, id range,
    * and a content fingerprint (md5 over the comma-joined ascending id
    * list), so a loader can verify shard integrity and a rebuild can
    * prove byte-identity without re-reading text. Works over any
    * (doc, ntok, shard) assignment ([[tokenShards]] or
    * [[curriculumShards]] output).
    *
    * Scale shape: one groupBy(shard) aggregation; the per-shard
    * collect_list is bounded by construction — a shard holds at most
    * `budget` tokens ⇒ at most `budget` docs — never corpus-sized. */
  def shardManifest(assignments: DataFrame): DataFrame =
    assignments.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        min("doc").as("min_doc"),
        max("doc").as("max_doc"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(col("doc"))), _.cast("string")))
          .cast("binary")).as("ids_md5"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("min_doc"), col("max_doc"), col("ids_md5"))

  /** Reference formulation: one global window (single task — correctness
    * baseline for the parity test, never the production path). */
  private[graft] def tokenShardsGlobal(df: DataFrame, idCol: String,
                                       textCol: String, budget: Long): DataFrame =
    df.select(col(idCol).as("doc"),
        TextOps.tokenCount(col(textCol)).cast("long").as("ntok"))
      .withColumn("shard", floor(
        (sum("ntok").over(Window.orderBy("doc")) - col("ntok")) / budget))
      .select(col("doc"), col("ntok"), col("shard"))

  /** Leakage-free train/validation/test split: every document in one
    * near-dup COMPONENT lands in the same split, so no near-duplicate
    * pair ever straddles a split boundary — the eval-leakage bug class
    * a plain per-doc hash split cannot rule out (doc A in train, its
    * 0.95-Jaccard twin B in test = a leaked answer). Components come
    * from the verified pair evidence ([[Components.connectedComponents]]
    * over the q35/q60 lifecycle's pairs — a corpus-snapshot artifact);
    * singletons are their own component. The split key is the
    * component's min-id label, assigned by the engine-portable
    * md5-prefix bucket (the q87/q119 convention), so the SAME corpus +
    * pair evidence yields the SAME split on any engine and any run —
    * splits are reproducible metadata, not state.
    *
    * Scale shape: one id-keyed left join of docs against the component
    * relation (bounded by docs WITH a near-dup, AQE-broadcastable on
    * mostly-clean corpora), plus per-row hash arithmetic — no text,
    * no shuffle beyond the components' own equi-joins.
    *
    * @return one row per doc: (idCol, split_key, split ∈ {train,
    *         validation, test}); buckets 0–99 cut at `trainPct` and
    *         `trainPct + valPct`. */
  def leakageFreeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
                       trainPct: Int = 80, valPct: Int = 10,
                       aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"percentages must satisfy 0 < train, 0 <= val, train + val < 100; " +
        s"got ($trainPct, $valPct)")
    val id = col(idCol)
    val comp = Components.connectedComponents(pairs, aCol, bCol)
    docs.select(id)
      .join(comp.select(col("doc").as("__cid"), col("cluster")),
        id === col("__cid"), "left")
      .withColumn("split_key", coalesce(col("cluster"), id))
      .withColumn("__bucket",
        conv(substring(md5(col("split_key").cast("string").cast("binary")), 1, 8),
          16, 10).cast("long") % 100)
      .withColumn("split",
        when(col("__bucket") < trainPct, "train")
          .when(col("__bucket") < trainPct + valPct, "validation")
          .otherwise("test"))
      .select(id, col("split_key"), col("split"))
  }
}
