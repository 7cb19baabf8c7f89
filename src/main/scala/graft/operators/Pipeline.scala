package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the canonical training-data flow composed
  * from the engine's operators, one annotated DataFrame out:
  *
  *   1. exact dedup (md5 fingerprint; keep the lowest id per group),
  *   2. near dedup (MinHash+LSH candidates, exact-Jaccard verified; drop
  *      the higher id of every qualifying pair),
  *   3. quality floor ([[TextOps.qualityScore]]),
  *   4. language annotation ([[TextOps.langId]]).
  *
  * Every row is kept with a `decision` ∈ {kept, exact_dup, near_dup,
  * low_quality} rather than filtered away, so the curation run is
  * auditable and each reason's volume is one `GROUP BY` away. Shapes are
  * the scale-safe ones throughout: fingerprint window, banded LSH
  * equi-join, no text in any shuffle after tokenization.
  */
object Pipeline {

  /** Fixed curation parameters, one value each, shared by [[curate]],
    * [[curateFull]] and [[curateIncremental]]: near dedup's shingle width
    * and hot-shingle document-frequency cap; span removal's gram width,
    * minimum span and hot-gram occurrence cap; the media gate's
    * mean-luminance band; the perceptual-hash Hamming radius of the image
    * and audio dup arms; the aligned-frame run that pairs two videos; and
    * the k-means iterations of `sem_dup`. */
  private val ShingleK = 3
  private val MaxShingleDF = 1000
  private val SpanK = 8
  private val MinSpan = 20
  private val MaxGramOccurrences = 1000
  private val MinMeanLum = 5.0
  private val MaxMeanLum = 250.0
  private val MediaDupMaxDist = 2
  private val VideoDupMinFrames = 6
  private val SemIters = 2

  /** Evaluate independent stage computations CONCURRENTLY (guide §2.6:
    * Spark's scheduler runs several jobs at once inside one application;
    * actions are only sequential because driver code calls them
    * sequentially). The thunks here are the arms of one [[armStage]] and
    * the history/batch embedding slices of the incremental `sem_dup`
    * stage; each depends only on an already-materialized upstream leaf.
    * An arm's own internal leaves (the image arm's hashes and pairs, the
    * batch hash and frame leaves) run their jobs while it builds, so
    * running the thunks from a small thread pool lets each job's tail
    * back-fill the executors the others free, instead of paying the
    * arms' job latencies end to end. Results are identical — only the
    * submission order changes. Exceptions propagate unwrapped. */
  private def parEval[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.lengthCompare(2) < 0) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val futs = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            override def call(): T = t()
          })
        }
        futs.map { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** One curation stage: the decision its drops carry, and its DROP
    * relation — one id column, O(duplicates) rows, built lazily by the
    * body from the stage's input survivors and materialized by
    * [[runStages]]. A stage whose option is off is `None` in its core's
    * list and adds no relation at all.
    *
    * Why the runner makes every drop relation an eager localCheckpoint
    * (the Components precedent): each stage both feeds the next stage AND
    * the final assembly, and several stages iterate (k-means) or self-join
    * (near-dup) over the previous one, so an unbroken lineage makes the
    * final plan tree grow EXPONENTIALLY in stage count (measured: the
    * composed query spent ~18 s in Catalyst analysis/optimization alone
    * at sf0.1 with all data cached — 4× the actual compute).
    * Checkpointing makes each stage a leaf: compute runs exactly once,
    * downstream plans stay O(stage). Blocks free with the session (or an
    * explicit unpersist sweep); a deployment persists stage outputs as
    * tables — same lifecycle, durable. */
  private final case class Stage(decision: String, drops: DataFrame => DataFrame)

  /** A one-column drop leaf re-labeled to the shared `__dropped` name so
    * drop sets from different stages can union (r21). */
  private def dropCol(df: DataFrame): DataFrame =
    df.select(col(df.columns.head).as("__dropped"))

  /** Survivors of `base` against a cumulative drop-id union (r21): ONE
    * left-anti join per stage input instead of a CHAIN of k anti-joins.
    * The chained shape paid O(k²) broadcast builds per curate run —
    * every stage's lazy input plan re-executed every upstream stage's
    * anti-join inside each of its own jobs (stage k's checkpoint job
    * rebuilt k−1 broadcasts; measured across q132's 15 stage jobs the
    * rebuild latency dominated the sub-second stages). The union of
    * drop leaves is the same O(duplicates) id mass the individual sets
    * were — AQE broadcasts it when small, shuffles when not (never
    * forced, the drop-set discipline) — and at scale one anti-join
    * against the union shuffles the corpus ONCE per stage instead of k
    * times. */
  private def minusDrops(base: DataFrame, id: Column, drops: DataFrame): DataFrame =
    base.join(drops, id === col("__dropped"), "left_anti")

  /** The one runner of both curation cores: `gates`, then the span-removal
    * rewrite, then the `pairwise` stages, then the assembly over `rows`.
    *
    * Stage inputs: each stage reads `base` minus the cumulative union of
    * the drops before it ([[minusDrops]]); the first stage reads `base`
    * itself. `spanRemoval` maps the gate survivors to the CLEANED
    * relation (`idCol`, kept_tokens, removed_tokens, cleaned_text); its
    * non-empty rows are the new base of the pairwise stages, whose drop
    * union starts over (a doc cleaned down to nothing is `empty`, never
    * judged by a pairwise stage).
    *
    * Materialization is the runner's: it makes each stage's drop
    * relation and the cleaned relation an eager localCheckpoint, once
    * each ([[Stage]] says why). A stage body builds a lazy relation and
    * keeps a leaf of its own only where two consumers inside it read the
    * same input. Loss: a leaf's blocks are held only by the executors
    * that computed them, so when one is lost, the query's next job that
    * reads it fails, with no recompute, because localCheckpoint truncated
    * the lineage that could rebuild it.
    *
    * Assembly: ONE drop-verdict join (r21) — each drop leaf is tagged
    * with its stage's PRIORITY, its position in `gates ++ pairwise`; the
    * union aggregates to the min priority per id (a doc in several sets
    * reads its earliest stage); and `rows` joins that single relation
    * plus the cleaned leaf, so a run builds two broadcast relations (and
    * at scale shuffles the doc relation at most twice) whatever the
    * stage count. `empty` sits between the gates and the
    * pairwise stages: a doc a gate dropped never reached span removal
    * (no cleaned row), so the gate test must fire before the
    * cleaned-null test, and every pairwise drop carries a kept_tokens > 0
    * row. Returns `rows` plus `decision`, kept_tokens, removed_tokens and
    * cleaned_text. */
  private def runStages(rows: DataFrame, base: DataFrame, idCol: String,
                        gates: Seq[Stage], spanRemoval: DataFrame => DataFrame,
                        pairwise: Seq[Stage]): DataFrame = {
    val id = col(idCol)
    def survivors(from: DataFrame, drops: Seq[DataFrame]): DataFrame =
      if (drops.isEmpty) from else minusDrops(from, id, drops.map(dropCol).reduce(_ union _))
    def run(from: DataFrame, stages: Seq[Stage]): Seq[DataFrame] =
      stages.foldLeft(Vector.empty[DataFrame])((done, s) =>
        done :+ s.drops(survivors(from, done)).localCheckpoint(eager = true))
    val gateDrops = run(base, gates)
    val cleaned = spanRemoval(survivors(base, gateDrops)).localCheckpoint(eager = true)
    val drops = gateDrops ++ run(cleaned.filter(col("kept_tokens") > 0), pairwise)
    val verdict = drops.zipWithIndex.map { case (d, p) =>
        d.select(col(d.columns.head).as("__d_id"), lit(p).as("__d_p"))
      }.reduce(_ union _)
      .groupBy("__d_id").agg(min("__d_p").as("__d_p"))
    val name = element_at(typedLit((gates ++ pairwise).map(_.decision)), col("__d_p") + 1)
    rows.join(verdict, id === col("__d_id"), "left")
      .join(cleaned.select(id, col("kept_tokens"), col("removed_tokens"),
        col("cleaned_text")), Seq(idCol), "left")
      .withColumn("decision",
        when(col("__d_p") < gates.size, name)
          .when(col("cleaned_text").isNull || col("kept_tokens") === 0L, "empty")
          .when(col("__d_p").isNotNull, name)
          .otherwise("kept"))
  }

  /** The audit columns after `decision` on a [[runStages]] result:
    * removed_tokens, and for kept rows only n_tokens and final_md5 (of
    * the released text — see [[outputText]]). */
  private def releasedCols(piiRedact: Boolean): Seq[Column] = Seq(
    coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
    when(col("decision") === "kept", col("kept_tokens")).as("n_tokens"),
    when(col("decision") === "kept",
      md5(outputText(col("cleaned_text"), piiRedact).cast("binary"))).as("final_md5"))

  /** The released text of a kept document: identity, or PII-redacted
    * ([[Privacy.redact]] — email → IPv4 → phone, the q62 pattern tier)
    * when the caller opts in. Redaction is an OUTPUT transform only:
    * every stage judges the original text (a masked token must not
    * change dedup/gram statistics), and counts stay pre-redaction. */
  private def outputText(cleaned: Column, piiRedact: Boolean): Column =
    if (piiRedact) Privacy.redact(cleaned) else cleaned

  /** `assets` (idCol, content) narrowed to the docs still in `survivors`,
    * as (doc_id, content): only docs in play get their assets decoded. */
  private def inPlay(assets: DataFrame, survivors: DataFrame, idCol: String): DataFrame =
    assets.select(col(idCol).as("doc_id"), col("content"))
      .join(survivors.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")

  /** A stage made of independent modality ARMS, each an optional drop
    * relation over the same input survivors. Modalities are independent
    * evidence, so the present arms are built concurrently ([[parEval]]:
    * the jobs of their internal leaves overlap) and their drops union
    * DISTINCT (a doc may fail in several) into the stage's one output,
    * which the runner materializes once; a single arm keeps its
    * exchange-free drop relation. All arms off → no stage. */
  private def armStage(decision: String,
                       arms: Seq[Option[DataFrame => DataFrame]]): Option[Stage] = {
    val present = arms.flatten
    if (present.isEmpty) None
    else Some(Stage(decision, in => parEval(present.map(arm => () => arm(in))) match {
      case Seq(one) => one
      case several => several.reduce(_ union _).distinct()
    }))
  }

  /** `bad_media` — the media-integrity gate's three modality arms, each
    * one partition-parallel decode pass over its in-play assets, failures
    * kept as status rows (no second scan of the binary column):
    *  - image ([[MediaOps.decodeStatus]]): decode-fail / out-of-band
    *    mean luminance / uniform raster,
    *  - video ([[VideoOps.decodeStatus]]): demux-fail / zero decodable
    *    frames (dead payloads) / out-of-band luminance / every-frame-
    *    uniform (blank stream),
    *  - audio ([[MediaOps.audioStatus]]): decode-fail / zero samples /
    *    silent (every sample equal).
    * Runs BEFORE the text stages — a bad asset's text must not feed gram
    * statistics any more than its pixels feed training. Docs without an
    * asset row pass untouched. Shared by [[curateFull]] and
    * [[curateIncremental]] (which judges batch docs only; history was
    * gated at its own admission). */
  private def mediaGate(idCol: String, media: Option[DataFrame],
      video: Option[DataFrame], videoContainer: VideoOps.VideoContainer,
      audio: Option[DataFrame]): Option[Stage] = armStage("bad_media", Seq(
    media.map { m => (in: DataFrame) =>
      val mean = col("checksum").cast("double") / (col("width") * col("height"))
      MediaOps.decodeStatus(inPlay(m, in, idCol)).toDF()
        .filter(!col("ok") || mean < MinMeanLum || mean > MaxMeanLum || col("uniform"))
        .select(col("doc_id"))
    },
    video.map { v => (in: DataFrame) =>
      val vMean = col("pix_sum").cast("double") / col("pix_cnt")
      VideoOps.decodeStatus(inPlay(v, in, idCol), videoContainer).toDF()
        .filter(!col("ok") || col("n_decoded") === 0 ||
          vMean < MinMeanLum || vMean > MaxMeanLum || col("uniform"))
        .select(col("doc_id"))
    },
    audio.map { a => (in: DataFrame) =>
      MediaOps.audioStatus(inPlay(a, in, idCol)).toDF()
        .filter(!col("ok") || col("n_samples") === 0 || col("silent"))
        .select(col("doc_id"))
    }))

  /** `wrong_lang` — the trained LANGUAGE gate, the CCNet discipline:
    * lang-id runs FIRST among the text-reading stages, so a monolingual
    * curation lane never lets other languages feed its gram/span/near-dup
    * statistics. `model` is the per-snapshot multiclass char-trigram NB
    * artifact ([[TextOps.langNbFit]], stored/loaded through
    * [[SnapshotStore]] as (lang, k, v) rows — fit on the admitted corpus's
    * labels for the incremental core, so admission language never drifts
    * with batch composition); survivors whose argmax language falls
    * outside `allow` drop. Scoring is one trigram pass + a broadcast join
    * on C·buckets integer rows — per-row scan work, no text in any
    * exchange. A doc with no trigram carries no evidence and passes
    * through (it dies as `empty` downstream). */
  private def langGate(model: Option[TextOps.LangNbModel], allow: Seq[String],
                       idCol: String, textCol: String): Option[Stage] = model.map { lm =>
    Stage("wrong_lang", in =>
      TextOps.langNbPredict(lm, in.select(col(idCol), col(textCol)), idCol, textCol)
        .filter(!col("pred_lang").isin(allow: _*))
        .select(col(idCol)))
  }

  /** `rule_filtered` — the Gopher/C4 heuristic RULE gate
    * ([[QualityFilters.ruleReport]]): the cheapest text stage — a per-row
    * scan over raw text, no model, no shuffle — so it runs right after
    * the language gate to shrink every pairwise stage's candidate set.
    * Judged on RAW text (the published rule sets are page-level filters
    * over the crawl, not over span-cleaned output), with thresholds that
    * travel with the deployment, not the data — so incremental admission
    * can't drift with batch composition. Each rule's verdict is one audit
    * `GROUP BY` away via the standalone report. The verdict is the
    * single expression [[QualityFilters.rulePass]]: the pushed filter
    * evaluates the byte scan ONCE per row, where filtering the report's
    * rule_pass would inline graft_rule_stats per rule conjunct
    * (FilterExec has no subexpression elimination). */
  private def ruleGate(params: Option[QualityFilters.RuleParams],
                       idCol: String, textCol: String): Option[Stage] = params.map { rp =>
    Stage("rule_filtered", in =>
      in.select(col(idCol), col(textCol))
        .filter(!QualityFilters.rulePass(col(textCol), rp))
        .select(col(idCol)))
  }

  /** `contaminated` — eval-suite decontamination: survivors sharing a
    * k-gram shingle with `benchmark` ([[Decontaminate.contaminatedIds]] —
    * membership implies every span hit too, a ≥ 20-token verbatim run
    * shares its k-grams) OR whose embedding reaches `cosTau` cosine
    * against any `benchmarkEmb` vector (the paraphrase grain) drop BEFORE
    * span removal — eval-suite text must not feed gram statistics or
    * survive into training data. The benchmark is fixed and small, so
    * the cosine scan is benchmark-bounded map-side work (the
    * [[Decontaminate.report]] contract).
    *
    * ONE materialized survivor leaf feeds both grains (r22): the stage
    * input is a lazy anti-join over the docs scan, which the two grains
    * would otherwise each execute. `widenIfNarrow`: the k-gram shingle
    * pass (a hash per window) is a hashing-scale scan, and the leaf's
    * own partition count is the honest probe (it IS materialized); the
    * identity once the leaf has `defaultParallelism` partitions. */
  private def decontaminate(benchmark: Option[DataFrame], benchmarkEmb: Option[DataFrame],
      ngramK: Int, cosTau: Double, embeddings: DataFrame,
      idCol: String, textCol: String, vecIdCol: String, vecCol: String): Option[Stage] =
    benchmark.map { b => Stage("contaminated", in => {
      val id = col(idCol)
      val leaf = in.select(id, col(textCol)).localCheckpoint(eager = true)
      val ng = Decontaminate.contaminatedIds(widenIfNarrow(leaf),
          b.select(id, col(textCol)), idCol, textCol, ngramK)
        .select(col("doc"))
      val bEmb = benchmarkEmb.getOrElse(sys.error(
        "benchmark decontamination needs benchmarkEmb for the semantic grain"))
      val sem = embeddings
        .join(leaf.select(id.as("__cid")), col(vecIdCol) === col("__cid"), "left_semi")
        .select(col(vecIdCol).as("doc"), col(vecCol).as("__cvec"),
          SimilarityOps.norm(col(vecCol)).as("__cnrm"))
        .crossJoin(bEmb.select(col(vecCol).as("__bvec"),
          SimilarityOps.norm(col(vecCol)).as("__bnrm")))
        .withColumn("__cos", SimilarityOps.dot(col("__cvec"), col("__bvec")) /
          (col("__cnrm") * col("__bnrm")))
        .groupBy("doc").agg(max(col("__cos")).as("__mc"))
        .filter(col("__mc") >= cosTau)
        .select(col("doc"))
      ng.union(sem).distinct()
    }) }

  /** The relation re-spread to cluster parallelism when its materialized
    * source sits below it. AQE's size-based post-shuffle coalesce is
    * tuned for IO-bound work, so at small corpus sizes a checkpointed
    * stage like span removal lands on 1–2 partitions; a downstream scan
    * whose per-row cost is HASHING-scale (the NB feature pass: md5 per
    * uni/bigram) then runs on 1–2 of N cores (measured: 4.1 s over a
    * 2-partition checkpoint vs 0.9 s at 32 — the same starvation
    * `EntryInfra.widenedIfHeavy` fixes for narrow source files). Only
    * such consumers get this wrapper — for the cheap-per-row scans
    * (shingling, token counts) the extra exchange costs more than the
    * imbalance (measured: blanket-widening every stage checkpoint cost
    * q112 +1.2 s for zero downstream win).
    *
    * `df` must be a narrow chain over an already-materialized
    * (checkpointed) leaf, so the partition probe triggers no job. At
    * production scale stage outputs exceed parallelism and this is the
    * identity. */
  private[graft] def widenIfNarrow(df: DataFrame): DataFrame =
    widenIfNarrow(df, df)

  /** [[widenIfNarrow]] probing `leaf`'s partition count instead of
    * `df`'s own — for consumers that derive from the materialized `leaf`
    * through a join or other exchange-bearing step: `df.rdd` on an AQE
    * plan EXECUTES its shuffles (the documented trap), so probing the
    * join plan itself would run the join twice. The leaf's count is the
    * right signal anyway: AQE coalescing the checkpoint to 1–2
    * partitions is what starves the downstream hashing-scale scan. */
  private[graft] def widenIfNarrow(df: DataFrame, leaf: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (leaf.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** @param knownNearDupPairs pre-mined verified near-dup pair evidence
    *        with (doc_a, doc_b) columns — the same corpus-snapshot memo
    *        lifecycle as `knownHot`: a production pipeline materializes
    *        the pair set when a snapshot is admitted, and every consumer
    *        (clustering, removal, curation) reads the persisted evidence
    *        instead of re-mining the corpus. Must come from the same
    *        corpus and `nearDupThreshold`, at shingle k 3; when None,
    *        the pairs are mined inline. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             nearDupThreshold: Double = 0.9, minQuality: Double = 0.2,
             knownHot: Option[Array[Long]] = None,
             knownNearDupPairs: Option[DataFrame] = None): DataFrame = {
    val id = col(idCol)

    // 1. exact-dup drop set: the ranking window sees only (fp, id) pairs,
    //    so full document rows never enter an exchange (the drop sets
    //    join back against the scan; AQE broadcasts them when small)
    val dropExact = DedupOps.dupIds(docs, idCol, textCol)
      .select(col("__dup_id").as("__exact_drop"))

    // 2. near-dup drop set: higher id of every verified pair (hot-shingle
    //    cap threaded through — boilerplate must not go quadratic here)
    val dropNear = knownNearDupPairs
      .getOrElse(DedupOps.minhashLshPairs(docs, idCol, textCol, ShingleK, nearDupThreshold,
        maxShingleDF = MaxShingleDF, knownHot = knownHot))
      .select(col("doc_b").as("__near_drop")).distinct()

    // NO forced broadcast on the drop sets: their size is O(duplicates),
    // which on a web-scale corpus can be 30–50% of the input — far past
    // any driver/executor broadcast budget. AQE broadcasts them at
    // runtime when they really are small; when they are not, the plain
    // shuffle join is the only plan that completes.
    docs
      .join(dropExact, id === col("__exact_drop"), "left")
      .join(dropNear, id === col("__near_drop"), "left")
      .withColumn("quality", TextOps.qualityScore(col(textCol)))
      .withColumn("lang", TextOps.langId(col(textCol)))
      .withColumn("decision",
        when(col("__exact_drop").isNotNull, "exact_dup")
          .when(col("__near_drop").isNotNull, "near_dup")
          .when(col("quality") < minQuality, "low_quality")
          .otherwise("kept"))
      .drop("__exact_drop", "__near_drop")
  }

  /** Stages [[curateFromHtml]] runs AHEAD of [[curateFull]]'s own list
    * (its per-domain gate), set on the calling thread for the duration of
    * its curateFull call, so curateFull's public signature carries no
    * internal knob. Not inheritable: no thread started during the call
    * keeps the page relation reachable. */
  private val leadingStages = ThreadLocal.withInitial[Seq[Stage]](() => Nil)

  /** [[curateFull]] with [[HtmlExtract]] as STAGE 0 — the pipeline a
    * web crawl actually runs: `pages` carries raw markup in `htmlCol`;
    * block segmentation + jusText-class content rules produce the
    * clean-text column every later stage consumes. One mapPartitions,
    * eagerly checkpointed ONCE (r19): every stage input reads the
    * extraction, so an unmaterialized chain re-parses every page per
    * stage (measured 2× on the q149 floor). A page whose markup yields no
    * content text flows through as an empty doc (its fingerprint groups
    * with other empties — the exact stage's documented behavior). The
    * extraction runs at [[HtmlExtract]]'s default thresholds into a
    * `text` column. Passthrough knobs stay at [[curateFull]] defaults;
    * deployments needing the full surface call `extract` + `curateFull`
    * directly.
    *
    * Per-DOMAIN curation (optional, r19) — when `urlCol` names the pages'
    * raw-URL column, each page's canonical domain ([[UrlOps.canonicalize]]
    * → [[UrlOps.domain]], codegen'd built-ins) drives two stages put
    * AHEAD of curateFull's list, before any cross-document statistics:
    *  - `blocked_domain` — `domainBlocklist` (a (domain) relation,
    *    broadcast semi-join),
    *  - `over_domain_quota` — `domainTokenBudget` > 0: the deterministic
    *    per-domain token cap ([[QuotaSample.tokenQuota]] with domain as
    *    the group — the 4096-bucket two-level scan, no per-domain
    *    straggler window).
    * One crawl host can neither dominate the mix nor feed the dedup/gram
    * statistics past its cap. Dropped pages keep their one output row
    * (removed_tokens 0, null n_tokens/final_md5); both knobs off →
    * curateFull's output over the extraction. */
  def curateFromHtml(pages: DataFrame, embeddings: DataFrame,
                     idCol: String, htmlCol: String, sourceCol: String,
                     urlCol: Option[String] = None,
                     domainBlocklist: Option[DataFrame] = None,
                     domainTokenBudget: Long = 0L,
                     langModel: Option[TextOps.LangNbModel] = None,
                     langAllow: Seq[String] = Seq("en"),
                     ruleParams: Option[QualityFilters.RuleParams] = None,
                     piiRedactOutput: Boolean = false): DataFrame = {
    val id = col(idCol)
    val textCol = "text"
    val extracted = HtmlExtract.extract(pages, idCol, htmlCol)
      .select(col(idCol), col("extracted_text").as(textCol))
      .join(pages.select(col(idCol), col(sourceCol)), Seq(idCol))
      .localCheckpoint(eager = true)
    val domainStages = urlCol.toSeq.flatMap { url =>
      require(domainBlocklist.nonEmpty || domainTokenBudget > 0,
        "urlCol given but neither domainBlocklist nor domainTokenBudget is set")
      val domains = pages.select(id,
        UrlOps.domain(UrlOps.canonicalize(col(url))).as("__domain"))
      def withDomain(in: DataFrame) = in.join(domains, Seq(idCol))
      Seq(
        domainBlocklist.map { bl => Stage("blocked_domain", in =>
          withDomain(in).join(broadcast(bl.select(col("domain").as("__domain"))),
              Seq("__domain"), "left_semi")
            .select(id)) },
        Option.when(domainTokenBudget > 0)(Stage("over_domain_quota", in =>
          QuotaSample.tokenQuota(withDomain(in), "__domain", idCol, textCol,
              domainTokenBudget)
            .filter(!col("kept")).select(id)))).flatten
    }
    leadingStages.set(domainStages)
    try curateFull(extracted, embeddings, idCol, textCol, sourceCol,
      langModel = langModel, langAllow = langAllow,
      ruleParams = ruleParams, piiRedactOutput = piiRedactOutput)
    finally leadingStages.remove()
  }

  /** The FULL curation pipeline at the r14 operator grain: one stage list
    * run by [[runStages]], each stage judging the survivors of every
    * stage before it. In execution order, with the decision each drop
    * gets:
    *
    *   1. `exact_dup` — exact dedup (normalized fingerprint; the lowest
    *      id of each group survives);
    *   2. `bad_media` (optional, `media`/`video`/`audio`) — the
    *      media-integrity gate ([[mediaGate]]);
    *   3. `media_dup` (optional, `mediaDup`/`audioDup`/`videoDup`) —
    *      perceptual media near-dup, run before the text stages (a
    *      duplicate asset's caption must not feed gram statistics twice);
    *      each arm judges the same survivors ([[armStage]]):
    *       - image: aHash through the banded Hamming join
    *         ([[MediaOps.perceptualChecksums]] — one decode pass feeds
    *         both the band join and the keep rule); each perceptual
    *         cluster keeps its brightest member (luminance-checksum
    *         argmax via [[DedupOps.qualityKeepClusters]], ties → min id),
    *       - audio: envelope hash through the same band core
    *         ([[MediaOps.audioDupPairs]]); the higher id of a pair drops,
    *       - video: per-frame perceptual hashes through the
    *         exact-substring core ([[VideoOps.videoDupSegments]]); clips
    *         sharing ≥ 6 aligned frames pair, higher id drops;
    *   4. `wrong_lang` (optional, `langModel`) — [[langGate]];
    *   5. `rule_filtered` (optional, `ruleParams`) — [[ruleGate]];
    *   6. `contaminated` (optional, `benchmark`) — [[decontaminate]];
    *   7. `empty` — duplicated-SPAN removal: survivor text is REWRITTEN
    *      (cleaned); a blank doc, or one cleaned down to nothing, is
    *      `empty`. The later stages judge the CLEANED text;
    *   8. `low_quality` (optional, `seedFilter`) — the trained NB
    *      seed-vs-crawl quality gate over the cleaned text;
    *   9. `near_dup` — near dedup (exact n-gram Jaccard ≥
    *      `nearDupThreshold`; higher id of each pair drops);
    *  10. `sem_dup` — semantic dedup over the survivors' embeddings
    *      (k-means bucketed, SemDeDup keep rule at cosine 0.35);
    *  11. `over_quota` — per-source token quota over cleaned token counts;
    *
    * and `kept` for the survivors. One row out per input document: (id,
    * source, decision, removed_tokens, n_tokens, final_md5); n_tokens and
    * final_md5 are non-null for kept rows only, so the result IS the
    * survivor corpus fingerprint and the per-stage decision counts in one
    * relation.
    *
    * Scale shape: every stage emits a DROP SET (O(duplicates) id rows,
    * AQE-broadcastable when small, shuffle-joinable when not — never
    * forced), and each stage input is one left-anti join against the
    * union of the drops before it; text crosses an exchange only inside
    * span removal's bounded reassembly join. Centroids are k×dim driver
    * values (the [[KMeansOps.fit]] contract). The final assembly is the
    * docs scan plus two id-keyed left joins. */
  def curateFull(docs: DataFrame, embeddings: DataFrame,
                 idCol: String, textCol: String, sourceCol: String,
                 vecIdCol: String = "vec_id", vecCol: String = "embedding",
                 nearDupThreshold: Double = 0.9, semK: Int = 8,
                 tokenBudget: Long = 700L,
                 seedFilter: Option[Column] = None,
                 crawlFilter: Option[Column] = None,
                 minNbScoreU: Long = 0L,
                 lowQualityFraction: Double = 0.0,
                 media: Option[DataFrame] = None,
                 mediaDup: Option[DataFrame] = None,
                 audioDup: Option[DataFrame] = None,
                 videoDup: Option[DataFrame] = None,
                 video: Option[DataFrame] = None,
                 videoContainer: VideoOps.VideoContainer = VideoOps.GvidContainer,
                 audio: Option[DataFrame] = None,
                 benchmark: Option[DataFrame] = None,
                 benchmarkEmb: Option[DataFrame] = None,
                 contamNgramK: Int = 3, contamCosTau: Double = 0.3,
                 langModel: Option[TextOps.LangNbModel] = None,
                 langAllow: Seq[String] = Seq("en"),
                 ruleParams: Option[QualityFilters.RuleParams] = None,
                 piiRedactOutput: Boolean = false): DataFrame = {
    val id = col(idCol)
    val gates = leadingStages.get ++ Seq(
      Some(Stage("exact_dup", in => DedupOps.dupIds(in, idCol, textCol)
        .select(col("__dup_id")))),
      mediaGate(idCol, media, video, videoContainer, audio),
      armStage("media_dup", Seq(
        mediaDup.map { md => (in: DataFrame) =>
          val assets = inPlay(md, in, idCol)
          val hx = MediaOps.perceptualChecksums(assets).toDF()
            .filter(col("ok")).localCheckpoint(eager = true)
          val pairs = DedupOps.simhashPairsFromSigs(
              hx.select(col("doc_id").as("doc"), col("ahash").as("sig")),
              MediaDupMaxDist)
            .localCheckpoint(eager = true)
          DedupOps.qualityKeepClusters(assets.select(col("doc_id")), pairs,
              hx.select(col("doc_id"), col("checksum")), "doc_id", scoreCol = "checksum")
            .filter(!col("kept"))
            .select(col("doc_id"))
        },
        audioDup.map { ad => (in: DataFrame) =>
          MediaOps.audioDupPairs(inPlay(ad, in, idCol), MediaDupMaxDist)
            .select(col("doc_b")).distinct()
        },
        videoDup.map { vd => (in: DataFrame) =>
          VideoOps.videoDupSegments(inPlay(vd, in, idCol), videoContainer,
              minFrames = VideoDupMinFrames)
            .select(col("doc_b")).distinct()
        })),
      langGate(langModel, langAllow, idCol, textCol),
      ruleGate(ruleParams, idCol, textCol),
      decontaminate(benchmark, benchmarkEmb, contamNgramK, contamCosTau, embeddings,
        idCol, textCol, vecIdCol, vecCol)).flatten

    val pairwise = Seq(
      // the NB seed-vs-crawl classifier ([[TextOps.seedCrawlNbScores]])
      // trained on raw doc slices, scoring the CLEANED text; a per-row
      // scan + broadcast-join cut, so it runs first among the pairwise
      // stages to shrink their candidate sets. `lowQualityFraction > 0`
      // drops the WORST fraction by score (rank-based budgeting, the
      // CCNet-style cut — robust to the score distribution shifting with
      // corpus size); otherwise `minNbScoreU` is an absolute class-log-odds
      // floor (score > 0 = "more seed-like than crawl-like"). The rank is
      // a two-level prefix scan (the Sharding.tokenShards shape) — never
      // a global single-task window.
      seedFilter.map { sf => Stage("low_quality", in => {
        // checkpointed so the rank path's count() and its rank plan read
        // one materialized leaf instead of re-running the scoring pass;
        // widenIfNarrow: the NB feature pass (md5 per uni/bigram) is the
        // one hashing-scale scan of this stage's text
        val scored = TextOps.seedCrawlNbScores(docs.filter(sf),
            docs.filter(crawlFilter.getOrElse(!sf)),
            widenIfNarrow(in.select(id, col("cleaned_text").as(textCol))),
            idCol, textCol, buckets = 4096)
          .select(id, col("nb_score_u")).localCheckpoint(eager = true)
        if (lowQualityFraction > 0.0) {
          val k = math.floor(lowQualityFraction * scored.count()).toLong
          if (k <= 0L) scored.limit(0).select(id)
          else TextOps.rankByScore(scored, col("nb_score_u"), id)
            .filter(col("__grk") <= k).select(id)
        } else scored.filter(col("nb_score_u") < minNbScoreU).select(id)
      }) },
      Some(Stage("near_dup", in => DedupOps.jaccardPairs(in, idCol, "cleaned_text",
          ShingleK, nearDupThreshold, MaxShingleDF)
        .select(col("doc_b")).distinct())),
      Some(Stage("sem_dup", in => {
        // centroids fit on the survivor slice — the corpus the stage
        // actually sees. Checkpointed: fit's init + per-iteration passes
        // and semDedup's self-join sides otherwise re-run the survivor
        // semi-join 5×
        val emb = embeddings.join(in.select(id.as("__sid")),
            col(vecIdCol) === col("__sid"), "left_semi")
          .localCheckpoint(eager = true)
        // graceful degradation when the gate cascade shrinks the embedded
        // survivor set below semK (a heavy rule/lang/quota configuration
        // can legally do this): fit on min(k, survivors) clusters, or skip
        // the stage when nothing embedded survives — a crash here would
        // take a 100 TB run down at its LAST stage. The count is a
        // metadata read on the checkpointed leaf; min() is the identity
        // whenever survivors >= semK (every pinned oracle).
        val n = emb.count()
        if (n == 0L) emb.select(col(vecIdCol).as("id"))
        else KMeansOps.semDedup(emb, vecIdCol, vecCol,
            KMeansOps.fit(emb, vecIdCol, vecCol, math.min(semK.toLong, n).toInt, SemIters),
            tau = 0.35)
          .filter(!col("kept")).select(col("id"))
      })),
      Some(Stage("over_quota", in =>
        QuotaSample.tokenQuota(in.join(docs.select(id, col(sourceCol)), Seq(idCol)),
            sourceCol, idCol, "cleaned_text", tokenBudget)
          .filter(!col("kept")).select(id)))).flatten

    runStages(docs.select(id, col(sourceCol)), docs, idCol, gates,
        in => SpanDedup.removeDuplicatedSpans(in, idCol, textCol,
          SpanK, MinSpan, MaxGramOccurrences),
        pairwise)
      .select(Seq(id, col(sourceCol), col("decision")) ++ releasedCols(piiRedactOutput): _*)
  }

  /** Both sides of an incremental media-dup arm, or neither. */
  private def bothSides(arm: String, history: Option[DataFrame],
                        batch: Option[DataFrame]): Option[(DataFrame, DataFrame)] =
    (history, batch) match {
      case (Some(h), Some(b)) => Some((h, b))
      case (None, None) => None
      case _ => sys.error(
        s"incremental $arm dedup needs BOTH ${arm}DupHistory and ${arm}DupBatch")
    }

  /** An incremental perceptual-hash arm (image aHash or audio envelope
    * hash, by `hash`): a batch doc drops when its hash sits within
    * Hamming distance 2 of ANY history hash
    * ([[DedupOps.simhashCrossPairsFromSigs]] — the history band relation
    * is snapshot-persistable, so per-batch cost is the batch's bands
    * only) or of a SMALLER-id batch mate's. The batch hashes are
    * materialized once; they feed both joins. */
  private def hashDupArm(history: DataFrame, batchAssets: DataFrame,
                         idCol: String)(hash: DataFrame => DataFrame): DataFrame = {
    def sigs(assets: DataFrame) = hash(assets).filter(col("ok"))
      .select(col("doc_id").as("doc"), col("ahash").as("sig"))
    val hb = sigs(batchAssets).localCheckpoint(eager = true)
    val hh = sigs(history.select(col(idCol).as("doc_id"), col("content")))
    val cross = DedupOps.simhashCrossPairsFromSigs(hb, hh, MediaDupMaxDist)
      .select(col("doc_a"))
    val mates = DedupOps.simhashPairsFromSigs(hb, MediaDupMaxDist)
      .select(col("doc_b").as("doc_a"))
    cross.union(mates).distinct()
  }

  /** INCREMENTAL curation — [[curateFull]]'s ingest-time twin: a new
    * crawl batch judged against the ADMITTED corpus with the
    * cross/incremental operator variants (history is immutable — only
    * batch rows are decided). One stage list run by [[runStages]] over
    * the admitted batch; in execution order, with decision names:
    *
    *   1. `exact_dup` — exact vs history
    *      ([[IncrementalDedup.dedupAgainstHistory]]: bloom-probe + exact
    *      verify — exactly the anti-join); read from the admitted leaf,
    *      which is the base of every later stage;
    *   2. `bad_media` (optional, `media`/`video`/`audio`) — the
    *      media-integrity gate ([[mediaGate]]) over batch docs only;
    *   3. `media_dup` (optional, a `*DupHistory`/`*DupBatch` pair per
    *      arm — both or neither) — a batch doc whose asset is a perceptual
    *      duplicate of ANY history asset (whose copy survives) or of a
    *      smaller-id batch mate's; the arms judge the same batch
    *      survivors ([[armStage]]):
    *       - image: aHash bands ([[hashDupArm]]),
    *       - audio: envelope hash ([[MediaOps.audioHashes]],
    *         [[hashDupArm]]),
    *       - video: per-frame hashes through the exact-substring core's
    *         cross twin ([[SpanDedup.crossSpansFromGrams]], k = 1) for
    *         history segments and its self form for batch mates —
    *         ≥ 6 aligned shared frames drop the batch copy;
    *   4. `wrong_lang` (optional, `langModel`) — [[langGate]] with the
    *      per-snapshot model;
    *   5. `rule_filtered` (optional, `ruleParams`) — [[ruleGate]];
    *   6. `contaminated` (optional, `benchmark`) — [[decontaminate]]
    *      against the SAME fixed eval suite (history contamination is
    *      stage 7's job);
    *   7. `empty` — cross-span CONTAMINATION removal
    *      ([[SpanDedup.removeCrossSpans]]: batch copies of ≥ 20-token
    *      verbatim history runs are cut; a batch doc cleaned to nothing
    *      is `empty`);
    *   8. `low_quality` (optional, `nbModel`) — the trained quality gate
    *      against the snapshot's stored NB model on the CLEANED text;
    *   9. `near_dup` — cross near-dup of the cleaned batch text vs
    *      history ([[DedupOps.crossMinhashPairs]]);
    *  10. `sem_dup` — cross semantic dedup
    *      ([[KMeansOps.incrementalSemDedup]] against centroids fit on —
    *      or passed in from — the history snapshot);
    *
    * and `kept` for the survivors. One row per BATCH document: (id,
    * decision, removed_tokens, n_tokens, final_md5), plus the released
    * text when `keepCleanedText`. Intra-batch dedup and quotas are
    * deliberately out of scope — run [[curateFull]] over the admitted
    * batch for those; this operator is the contamination gate against
    * history.
    *
    * Snapshot artifacts: `historyBloom` (the q64 lifecycle) and
    * `centroids` (the q101/q103 lifecycle) are per-snapshot builds a
    * deployment loads from [[SnapshotStore]]; None builds them inline.
    * Per-batch cost = batch passes + equi-joins into history relations —
    * never batch × history. [[runStages]] materializes each stage's
    * output and the cleaned batch once (the [[Stage]] plan-growth
    * rationale). */
  def curateIncremental(history: DataFrame, batch: DataFrame,
                        embeddings: DataFrame,
                        idCol: String, textCol: String,
                        vecIdCol: String = "vec_id", vecCol: String = "embedding",
                        nearDupThreshold: Double = 0.9,
                        semK: Int = 8, semTau: Double = 0.35,
                        historyBloom: Option[Array[Byte]] = None,
                        centroids: Option[Array[Array[Double]]] = None,
                        keepCleanedText: Boolean = false,
                        nbModel: Option[TextOps.NbModel] = None,
                        minNbScoreU: Long = 0L,
                        benchmark: Option[DataFrame] = None,
                        benchmarkEmb: Option[DataFrame] = None,
                        contamNgramK: Int = 13,
                        contamCosTau: Double = 0.4,
                        media: Option[DataFrame] = None,
                        mediaDupHistory: Option[DataFrame] = None,
                        mediaDupBatch: Option[DataFrame] = None,
                        audioDupHistory: Option[DataFrame] = None,
                        audioDupBatch: Option[DataFrame] = None,
                        videoDupHistory: Option[DataFrame] = None,
                        videoDupBatch: Option[DataFrame] = None,
                        video: Option[DataFrame] = None,
                        videoContainer: VideoOps.VideoContainer = VideoOps.GvidContainer,
                        audio: Option[DataFrame] = None,
                        langModel: Option[TextOps.LangNbModel] = None,
                        langAllow: Seq[String] = Seq("en"),
                        ruleParams: Option[QualityFilters.RuleParams] = None,
                        piiRedactOutput: Boolean = false,
                        historyFps: Option[DataFrame] = None): DataFrame = {
    val id = col(idCol)

    // exact vs history. `historyFps` (one column `fp`) extends the drop
    // set with PRE-redaction fingerprints of admitted docs whose persisted
    // text is PII-masked (r19 advice): a re-ingested duplicate of an
    // admitted PII-bearing doc must still read exact_dup even though the
    // store's released text no longer equals it. The relation is bounded
    // by the admitted-history row count (16 B digests, no text), so the
    // join broadcasts at typical history sizes and shuffles digests, never
    // documents, beyond that.
    val s1base = IncrementalDedup.dedupAgainstHistory(batch, history, idCol,
      textCol, historyBlob = historyBloom)
    val s1 = historyFps.fold(s1base) { fps =>
        s1base.join(fps.select(col("fp").as("__hist_ufp")),
          TextOps.fingerprint(col(textCol)) === col("__hist_ufp"), "left_anti")
      }
      .localCheckpoint(eager = true)

    // both-or-neither arm validation runs here, on the calling thread,
    // before any stage job
    val gates = Seq(
      mediaGate(idCol, media, video, videoContainer, audio),
      armStage("media_dup", Seq(
        bothSides("media", mediaDupHistory, mediaDupBatch).map { case (h, b) =>
          (in: DataFrame) => hashDupArm(h, inPlay(b, in, idCol), idCol)(
            MediaOps.perceptualHashes(_).toDF())
        },
        bothSides("audio", audioDupHistory, audioDupBatch).map { case (h, b) =>
          (in: DataFrame) => hashDupArm(h, inPlay(b, in, idCol), idCol)(
            MediaOps.audioHashes(_).toDF())
        },
        bothSides("video", videoDupHistory, videoDupBatch).map { case (h, b) =>
          (in: DataFrame) =>
            // batch frames hashed ONCE (they feed both the cross and the
            // mate join); history as its own relation — a snapshot-
            // persistable artifact, like the image band relation
            val bg = VideoOps.frameHashes(inPlay(b, in, idCol), videoContainer)
              .localCheckpoint(eager = true)
            val hg = VideoOps.frameHashes(h.select(col(idCol).as("doc_id"), col("content")),
              videoContainer)
            val cross = SpanDedup.crossSpansFromGrams(hg, bg, k = 1,
                minSpan = VideoDupMinFrames, maxGramOccurrences = 1000)
              .select(col("right_id").as("doc_a"))
            val mates = SpanDedup.duplicatedSpansFromGrams(bg, k = 1,
                minSpan = VideoDupMinFrames, maxGramOccurrences = 1000)
              .select(col("doc_b").as("doc_a"))
            cross.union(mates).distinct()
        })),
      langGate(langModel, langAllow, idCol, textCol),
      ruleGate(ruleParams, idCol, textCol),
      decontaminate(benchmark, benchmarkEmb, contamNgramK, contamCosTau, embeddings,
        idCol, textCol, vecIdCol, vecCol)).flatten

    val pairwise = Seq(
      // `nbModel` is the per-snapshot artifact (fit on the admitted
      // corpus's seed/crawl slices via [[TextOps.seedCrawlNbFit]],
      // stored/loaded through [[SnapshotStore]] as long pairs): every
      // batch is scored against the SAME fixed model, so admission
      // decisions never drift with batch composition. Absolute threshold
      // (not the rank cut): a per-batch quantile would admit a different
      // quality floor per batch.
      nbModel.map { m => Stage("low_quality", in =>
        TextOps.nbScore(m, widenIfNarrow(in.select(id, col("cleaned_text").as(textCol))),
            idCol, textCol)
          .filter(col("nb_score_u") < minNbScoreU)
          .select(id)) },
      // history's raw text vs the batch's CLEANED text (both sides under
      // crossMinhashPairs' shared union hot list)
      Some(Stage("near_dup", in => DedupOps.crossMinhashPairs(
          history.select(id, col(textCol)),
          in.select(id, col("cleaned_text").as(textCol)),
          idCol, textCol, ShingleK, nearDupThreshold, maxShingleDF = MaxShingleDF)
        .select(col("doc_b")).distinct())),
      Some(Stage("sem_dup", in => {
        // two independent embedding slices — materialize concurrently
        val Seq(embHist, embBatch) = parEval(Seq(
          () => embeddings.join(history.select(id.as("__hid")),
              col(vecIdCol) === col("__hid"), "left_semi")
            .localCheckpoint(eager = true),
          () => embeddings.join(in.select(id.as("__sid")),
              col(vecIdCol) === col("__sid"), "left_semi")
            .localCheckpoint(eager = true)))
        // inline-fit clamp: the curateFull sem stage's graceful
        // degradation — a small admitted history must not crash the
        // ingest gate. A provided snapshot artifact (the production path)
        // skips the count.
        val cent = centroids.getOrElse {
          val nHist = embHist.count()
          if (nHist == 0L) Array.empty[Array[Double]]
          else KMeansOps.fit(embHist, vecIdCol, vecCol,
            math.min(semK.toLong, nHist).toInt, SemIters)
        }
        // empty history (no centroids, nothing admitted yet) => nothing
        // to dup against: the drop set is EMPTY
        if (cent.isEmpty) embBatch.limit(0).select(col(vecIdCol).as("id"))
        else KMeansOps.incrementalSemDedup(embHist, embBatch,
            vecIdCol, vecCol, cent, semTau)
          .filter(!col("kept")).select(col("id"))
      }))).flatten

    // `keepCleanedText` adds the survivor text itself (kept rows only) —
    // what an ingest sink APPENDS to the corpus store
    // ([[graft.streaming.StreamingDedup.curateSink]]); the q115 oracle
    // shape carries only its md5. A batch doc missing from the admitted
    // leaf is `exact_dup`, ahead of every stage decision.
    val ann = runStages(
        batch.select(id).join(s1.select(id.as("__adm")), id === col("__adm"), "left"),
        s1, idCol, gates,
        in => SpanDedup.removeCrossSpans(history, in, idCol, textCol,
          SpanK, MinSpan, MaxGramOccurrences),
        pairwise)
      .withColumn("decision", when(col("__adm").isNull, "exact_dup").otherwise(col("decision")))
    val baseCols = Seq(id, col("decision")) ++ releasedCols(piiRedactOutput)
    if (!keepCleanedText) ann.select(baseCols: _*)
    else {
      // The kept docs' text columns are a PROJECTION of `ann`, not a join
      // (r22): the former base ⟕ kept-slice self-join re-executed the whole
      // assembly subtree (batch scan + drop-verdict aggregation + three
      // joins) once per side — per TRIGGER in the streaming curation sink.
      // `when(decision = 'kept', …)` gives the identical columns (NULL for
      // every non-kept row, exactly what the left join produced; batch ids
      // are unique so the join never fanned out) in the same single pass
      // that computes the verdict columns.
      //
      // Under redaction the released text is masked, so the kept slice
      // also carries `unredacted_fp` — the canonical fingerprint of the
      // PRE-redaction cleaned text — which is what a store feeds back as
      // `historyFps` so cross-batch exact dedup stays mask-invariant
      // (redaction is an output transform, never a dedup input).
      val kept = col("decision") === "kept"
      val extraCols =
        if (piiRedactOutput)
          Seq(when(kept, outputText(col("cleaned_text"), piiRedactOutput))
              .as("cleaned_text"),
            when(kept, TextOps.fingerprint(col("cleaned_text")))
              .as("unredacted_fp"))
        else Seq(when(kept, col("cleaned_text")).as("cleaned_text"))
      ann.select(baseCols ++ extraCols: _*)
    }
  }
}
