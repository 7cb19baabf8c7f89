package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Curation-PIPELINE compositions: the end-to-end batch pipeline
  * (exact → span → near-dup → semantic → quota), its incremental
  * ingest twin, and temperature-mixture sampling — the queries that
  * prove the dedup/quality/quota operators compose as a product, not
  * just pass in isolation. Split from TextEntries (r15 size budget). */
private[graft] trait PipelineEntries extends EntryInfra {

  protected def pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- the END-TO-END curation pipeline: exact → span → near-dup →
    //    semantic → quota, stages chained on survivors; one decision row
    //    per input doc with the survivor text fingerprint, so the oracle
    //    gate covers stage composition (counts AND final corpus), not
    //    just each operator in isolation ------------------------------
    "q112_curate_full" -> qd { spark =>
      operators.Pipeline.curateFull(spark.table("documents"),
          spark.table("embeddings"), "doc_id", "text", "source")
        .orderBy("doc_id")
    },

    // -- MEDIA-DEDUP curation (r17): q112 + the perceptual image
    //    near-dup stage (1.6) — docs with id<40 carry the closed-form
    //    pattern-class assets; each perceptual cluster keeps its
    //    brightest member (the ±1-perturbed class-2 copies outshine
    //    class 0 by exactly +512), the rest drop as `media_dup` before
    //    the text stages. --------------------------------------------
    "q150_curate_media_dup" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val assets = operators.MediaOps.perceptualTable(docs.filter(col("doc_id") < 40))
      operators.Pipeline.curateFull(docs, spark.table("embeddings"),
          "doc_id", "text", "source", mediaDup = Some(assets))
        .orderBy("doc_id")
    },

    // -- INCREMENTAL media-dedup curation (r17): curateFull's stage 1.6
    //    at ingest grain under the incremental keep rule — a batch doc
    //    drops as media_dup when its asset is perceptually within τ of
    //    ANY history asset (history is immutable) or of a smaller-id
    //    batch mate's. History assets carry pattern class 1 only
    //    (idShift=1 over ids ≡ 0 mod 4), batch assets classes 1 and 3 —
    //    so the class-1 arm exercises the cross join and the class-3
    //    arm the batch-mate rule, closed-form. ------------------------
    "q155_curate_incremental_media_dup" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val histAssets = operators.MediaOps.perceptualTable(
        docs.filter(col("doc_id") % 4 === 0 && col("doc_id") < 24), idShift = 1L)
      val batchAssets = operators.MediaOps.perceptualTable(
        docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 40))
      operators.Pipeline.curateIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          spark.table("embeddings"), "doc_id", "text",
          historyBloom = sharedHistoryBloom(spark, dir),
          centroids = sharedHistoryCentroids(spark, dir),
          mediaDupHistory = Some(histAssets),
          mediaDupBatch = Some(batchAssets))
        .orderBy("doc_id")
    },

    // -- TRI-MODAL perceptual-dedup curation (r19): q112 + ALL THREE
    //    arms of stage 1.6 on disjoint asset slices — images (id<40,
    //    q144's pattern classes, brightest keeper), audio clips
    //    (40≤id<80, q152's envelope classes, min-id keeper), scene
    //    videos (80≤id<108, q153's (id+f)%7 sequences; at minFrames=6
    //    only identical sequences pair, so classes are id%7, min-id
    //    keeper). Drops union-DISTINCT as `media_dup` before the text
    //    stages. --------------------------------------------------------
    "q158_curate_multimodal_dup" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val images = operators.MediaOps.perceptualTable(docs.filter(col("doc_id") < 40))
      val clips = operators.MediaOps.audioDupTable(
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 80))
      val vids = operators.VideoOps.sceneVideoTable(
        docs.filter(col("doc_id") >= 80 && col("doc_id") < 108))
      operators.Pipeline.curateFull(docs, spark.table("embeddings"),
          "doc_id", "text", "source",
          mediaDup = Some(images), audioDup = Some(clips),
          videoDup = Some(vids), videoContainer = operators.Mp4Container)
        .orderBy("doc_id")
    },

    // -- TRI-MODAL incremental perceptual dedup (r19): q155's image
    //    fixture + the audio and video arms at ingest grain. History
    //    assets: images/audio idShift=1 (pattern class 1) on id%4==0
    //    slices, scene videos on {80,84,88,92} (residues {3,0,4,1}
    //    mod 7). Batch (odd ids): class-1 assets drop via the CROSS
    //    join (history's copy survives), class-3 via the batch-mate
    //    rule (min in-play id keeps); batch videos drop when their
    //    residue matches history or a smaller odd mate. ---------------
    "q159_curate_incremental_multimodal_dup" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val histImg = operators.MediaOps.perceptualTable(
        docs.filter(col("doc_id") % 4 === 0 && col("doc_id") < 24), idShift = 1L)
      val batImg = operators.MediaOps.perceptualTable(
        docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 40))
      val histAud = operators.MediaOps.audioDupTable(
        docs.filter(col("doc_id") % 4 === 0 &&
          col("doc_id") >= 40 && col("doc_id") < 64), idShift = 1L)
      val batAud = operators.MediaOps.audioDupTable(
        docs.filter(col("doc_id") % 2 === 1 &&
          col("doc_id") >= 40 && col("doc_id") < 80))
      val histVid = operators.VideoOps.sceneVideoTable(
        docs.filter(col("doc_id") % 4 === 0 &&
          col("doc_id") >= 80 && col("doc_id") < 96))
      val batVid = operators.VideoOps.sceneVideoTable(
        docs.filter(col("doc_id") % 2 === 1 &&
          col("doc_id") >= 80 && col("doc_id") < 108))
      operators.Pipeline.curateIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          spark.table("embeddings"), "doc_id", "text",
          historyBloom = sharedHistoryBloom(spark, dir),
          centroids = sharedHistoryCentroids(spark, dir),
          mediaDupHistory = Some(histImg), mediaDupBatch = Some(batImg),
          audioDupHistory = Some(histAud), audioDupBatch = Some(batAud),
          videoDupHistory = Some(histVid), videoDupBatch = Some(batVid),
          videoContainer = operators.Mp4Container)
        .orderBy("doc_id")
    },

    // -- the WEB pipeline (r17): q112 with HtmlExtract as stage 0 — the
    //    corpus arrives as real markup (chrome, scripts, link-dense
    //    asides around the article), extraction recovers the text, and
    //    every curation stage runs downstream of it. The oracle is
    //    q112's VERBATIM: on this fixture extraction is exactly
    //    text-recovering, so any extraction defect breaks the hash. ----
    // page fixtures ride the corpus-snapshot memo (sharedHtmlPages): a
    // crawl corpus reads its markup from storage, it never re-muxes it
    // per query — the floor measures extraction + curation, which is
    // what recurs
    "q149_curate_from_html" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val pages = sharedHtmlPages(spark, dir)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
      operators.Pipeline.curateFromHtml(pages, spark.table("embeddings"),
          "doc_id", "html", "source")
        .orderBy("doc_id")
    },

    // -- WEB pipeline with per-DOMAIN curation (r19): q149's chain +
    //    stage 0.5 — each page's canonical domain (the q145 closed-form
    //    URL fixture) drives a blocklist anti-join (host3 banned) and a
    //    900-token per-domain cap (q145's budget) BETWEEN extraction
    //    and exact dedup, so one crawl host can neither dominate the
    //    mix nor feed the dedup/gram statistics past its cap. Dropped
    //    pages keep their audit row. -----------------------------------
    "q161_curate_web_domains" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val docs = spark.table("documents")
      val pages = sharedHtmlPages(spark, dir)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .join(operators.UrlOps.urlTable(docs), Seq("doc_id"))
      operators.Pipeline.curateFromHtml(pages, spark.table("embeddings"),
          "doc_id", "html", "source",
          urlCol = Some("url"),
          domainBlocklist = Some(Seq("host3.example.com").toDF("domain")),
          domainTokenBudget = 900L)
        .orderBy("doc_id")
    },

    // -- FULL web lane (r19): q161's chain + the Gopher/C4 rule gate —
    //    the composition a crawl pipeline actually runs (the rule sets
    //    were designed for web pages): extraction → domain curation →
    //    exact dedup → heuristic rules → the text stages. Rules judge
    //    the EXTRACTED text of domain survivors; on this fixture
    //    extraction is exactly text-recovering, so the oracle rules run
    //    on the document text verbatim (the q149 equivalence). ---------
    "q167_curate_web_rules" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val docs = spark.table("documents")
      val pages = sharedHtmlPages(spark, dir)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .join(operators.UrlOps.urlTable(docs), Seq("doc_id"))
      operators.Pipeline.curateFromHtml(pages, spark.table("embeddings"),
          "doc_id", "html", "source",
          urlCol = Some("url"),
          domainBlocklist = Some(Seq("host3.example.com").toDF("domain")),
          domainTokenBudget = 900L,
          ruleParams = Some(operators.QualityFilters.RuleParams(
            minStopHits = 1, minTermLines = 0)))
        .orderBy("doc_id")
    },

    // -- the INCREMENTAL curation pipeline (q112's ingest-time twin):
    //    batch (odd ids) judged against the admitted corpus (even ids)
    //    with the cross/incremental operator variants — exact-vs-history
    //    bloom+verify, cross-span contamination removal, cross near-dup
    //    on CLEANED batch text, incremental semantic dedup against
    //    history-fit centroids. One decision row per batch doc. --------
    "q115_curate_incremental" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      // the per-snapshot artifacts (history bloom, history centroids)
      // come from the shared memos — the q64/q101 build-once lifecycle;
      // the bench times the per-batch work, which is what recurs
      operators.Pipeline.curateIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          spark.table("embeddings"), "doc_id", "text",
          historyBloom = sharedHistoryBloom(spark, dir),
          centroids = sharedHistoryCentroids(spark, dir))
        .orderBy("doc_id")
    },

    // -- temperature-weighted mixture sampling (the LLM data-recipe
    //    operator): per-source budgets = B·mass^α/Σ mass^α (α=0.5 via
    //    sqrt — correctly rounded, engine-portable; weights summed
    //    left-to-right over name-sorted sources), then the deterministic
    //    per-source token quota ------------------------------------------
    "q116_temperature_mixture" -> qd { spark =>
      operators.QuotaSample.temperatureMixture(spark.table("documents"),
          "source", "doc_id", "text", alpha = 0.5, totalBudget = 3000L)
        .orderBy("doc_id")
    },

    // -- trained seed-vs-crawl quality classifier (CCNet/fastText-style
    //    discriminative curation stage): multinomial NB over hashed word
    //    uni+bigram features (4096 md5-prefix buckets), seed = curated
    //    en slice (doc_id%4=0), crawl sample = doc_id%4=1, scored over
    //    the FULL corpus. The model's per-bucket LLRs are µ-quantized
    //    BIGINTs, so doc scores are exact integer sums — hash-identical
    //    across engines regardless of summation order. ------------------
    "q119_seed_classifier" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.TextOps.seedCrawlNbScores(
          docs.filter(col("lang") === "en" && col("doc_id") % 4 === 0),
          docs.filter(col("doc_id") % 4 === 1),
          docs, buckets = 4096)
        .orderBy("doc_id")
    },

    // -- TRAINED language ID (r19): the q119 NB machinery over hashed
    //    CHAR-TRIGRAM buckets, multiclass — per-language models fit on
    //    the labeled doc_id%4==0 slice (add-one smoothing, µ-quantized
    //    per-bucket log-probs + doc-count priors), every document scored
    //    by exact integer sums and assigned the argmax language (ties →
    //    lexicographically smaller). The CCNet-style lang-id-FIRST
    //    primitive the per-language curation lanes build on. ----------
    "q156_lang_classifier" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val model = operators.TextOps.langNbFit(
        docs.filter(col("doc_id") % 4 === 0), buckets = 1024)
      operators.TextOps.langNbPredict(model, docs)
        .orderBy("doc_id")
    },

    // -- TOKENIZER QA (r20, verdict #6): the per-language fertility /
    //    compression audit a multilingual pipeline runs before
    //    committing a vocab — chars-per-BPE-token and BPE-tokens-per-
    //    word, grouped by the TRAINED lang-ID's prediction (the q156
    //    model) with counts from the SEED BPE vocab (the q143 model).
    //    One scoring pass + one grouped aggregation; the per-group
    //    ratios are a single double divide+multiply over integer sums
    //    (µ-floored), so both engines emit identical BIGINTs. ----------
    "q169_tokenizer_qa" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val lang = operators.TextOps.langNbFit(
        docs.filter(col("doc_id") % 4 === 0), buckets = 1024)
      val pred = operators.TextOps.langNbPredict(lang, docs)
        .select(col("doc_id"), col("pred_lang"))
      val m = operators.Bpe.SeedModel
      docs.join(pred, Seq("doc_id"))
        .select(col("pred_lang"),
          operators.Bpe.tokenCount(col("text"), m).as("nb"),
          size(operators.TextOps.tokens(col("text"))).cast("long").as("nw"),
          length(regexp_replace(trim(col("text")), "\\s+", "")).cast("long").as("nc"))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nb").as("bpe_tokens"),
          sum("nw").as("words"),
          sum("nc").as("chars"),
          floor(sum("nc").cast("double") / sum("nb") * lit(1000000))
            .as("chars_per_token_u"),
          floor(sum("nb").cast("double") / sum("nw") * lit(1000000))
            .as("fertility_u"))
        .orderBy("pred_lang")
    },

    // -- LANGUAGE-GATED curation (r19): q112 + the trained lang-id gate
    //    as stage 1.7 — the q156 model (fit on the labeled doc_id%4==0
    //    slice) predicts every exact-dedup survivor's language on RAW
    //    text; predictions outside the allow-list drop as `wrong_lang`
    //    BEFORE the text stages (CCNet curates per language — a
    //    monolingual lane must not let other languages feed its gram
    //    statistics). --------------------------------------------------
    "q157_curate_lang" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val model = operators.TextOps.langNbFit(
        docs.filter(col("doc_id") % 4 === 0), buckets = 1024)
      operators.Pipeline.curateFull(docs, spark.table("embeddings"),
          "doc_id", "text", "source",
          langModel = Some(model), langAllow = Seq("en"))
        .orderBy("doc_id")
    },

    // -- LANGUAGE-GATED incremental curation (r19): q115 + the stored
    //    lang model at ingest grain — the model is a per-snapshot
    //    artifact fit on the HISTORY slice's labels, so admission
    //    language decisions never drift with batch composition (the
    //    centroid/NB-model discipline). Batch docs predicted outside
    //    the allow-list drop as `wrong_lang` before the history
    //    stages. --------------------------------------------------------
    "q160_curate_incremental_lang" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val model = operators.TextOps.langNbFit(
        docs.filter(col("doc_id") % 2 === 0), buckets = 1024)
      operators.Pipeline.curateIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          spark.table("embeddings"), "doc_id", "text",
          historyBloom = sharedHistoryBloom(spark, dir),
          centroids = sharedHistoryCentroids(spark, dir),
          langModel = Some(model), langAllow = Seq("en"))
        .orderBy("doc_id")
    },

    // -- RULE-GATED curation (r19): q112 + the Gopher/C4 heuristic gate
    //    as stage 1.8 — the full 11-rule page filter on RAW exact-dedup
    //    survivors; failures drop as `rule_filtered` before every
    //    pairwise stage. minStopHits=1 (the corpus vocabulary carries
    //    one Gopher stopword) and minTermLines=0 (single-line corpus —
    //    no sentence structure to probe); everything else the published
    //    defaults, so the word floor and the stopword probe do the
    //    discriminating here while q162 pins the full rule surface. ---
    "q163_curate_rules" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.Pipeline.curateFull(spark.table("documents"),
          spark.table("embeddings"), "doc_id", "text", "source",
          ruleParams = Some(operators.QualityFilters.RuleParams(
            minStopHits = 1, minTermLines = 0)))
        .orderBy("doc_id")
    },

    // -- REPETITION-TIER rule-gated curation (r20, verdict #4): q163's
    //    lane with the FULL 20-rule Gopher gate — the nine §A1.1
    //    repetition char-fraction signals enabled on top of the 11 core
    //    rules, still ONE fused graft_rule_gate call per row (stage 1.8,
    //    before every pairwise stage). q163/q167 stay tier-off, so this
    //    pins the tier's pipeline composition independently. The corpus
    //    text never trips the tier (natural prose), so the entry injects
    //    closed-form repetition (the q166 PII-injection pattern): every
    //    id%13==0 doc gets a 30× " buy now" tail — 3-char alpha words
    //    with no lines/symbols/lorem/braces, so the tail passes all 11
    //    core rules while tripping the top-2/3/4-gram char fractions
    //    (dilution is dose-dependent in principle, but every corpus doc
    //    is short enough that all 39/385 injected docs trip at
    //    sf0.01/sf0.1 — pinned, with the downstream quota/sem cascades,
    //    by the hash-exact oracle at both SFs).
    "q168_curate_rep_rules" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents").withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" buy now" * 30)))
          .otherwise(col("text")))
      operators.Pipeline.curateFull(docs,
          spark.table("embeddings"), "doc_id", "text", "source",
          ruleParams = Some(operators.QualityFilters.RuleParams(
            minStopHits = 1, minTermLines = 0, checkRepetition = true)))
        .orderBy("doc_id")
    },

    // -- RULE-GATED incremental curation (r19): q115 + the same fixed
    //    rule contract at ingest grain — thresholds travel with the
    //    deployment, so admission never drifts with batch composition.
    "q164_curate_incremental_rules" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.Pipeline.curateIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          spark.table("embeddings"), "doc_id", "text",
          historyBloom = sharedHistoryBloom(spark, dir),
          centroids = sharedHistoryCentroids(spark, dir),
          ruleParams = Some(operators.QualityFilters.RuleParams(
            minStopHits = 1, minTermLines = 0)))
        .orderBy("doc_id")
    },

    // -- PII-REDACTED curation (r19): q112 over a corpus with closed-
    //    form PII tails (email id%9 / IPv4 id%15 / E.164 phone id%21
    //    appended to the raw text) with `piiRedactOutput` on — every
    //    stage judges the ORIGINAL text (a masked token must not change
    //    dedup or gram statistics), and only the released text is
    //    scrubbed, pinned end-to-end by final_md5 over the redacted
    //    cleaned text. -------------------------------------------------
    "q166_curate_pii" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents").withColumn("text", concat(col("text"),
        when(col("doc_id") % 9 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 15 === 0,
          concat(lit(" server 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.1"))).otherwise(lit("")),
        when(col("doc_id") % 21 === 0,
          concat(lit(" call +1415555"),
            (lit(1000L) + col("doc_id") % 1000).cast("string")))
          .otherwise(lit(""))))
      operators.Pipeline.curateFull(docs, spark.table("embeddings"),
          "doc_id", "text", "source", piiRedactOutput = true)
        .orderBy("doc_id")
    },

    // -- MULTIMODAL curation (q112 + the media-integrity gate): even-id
    //    docs carry a deterministic image asset; id%7∈{3,5,6} assets are
    //    corrupt / black / uniform by construction, so those docs drop
    //    as bad_media after exact dedup and BEFORE the text stages
    //    (their text must not feed gram statistics). One REAL decode
    //    pass (failures kept as ok=false rows), closed-form oracle. ----
    // asset fixtures ride the corpus-snapshot memo (EntryInfra
    // sharedCurated*): a production corpus READS its binary columns,
    // it never re-synthesizes them per query - the bench floor measures
    // the gate's demux+decode, which is what recurs
    "q121_curate_multimodal" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.Pipeline.curateFull(docs, spark.table("embeddings"),
          "doc_id", "text", "source",
          media = Some(sharedCuratedMedia(spark, dir)))
        .orderBy("doc_id")
    },

    // -- FULL multimodal curation (r16, q121 + the VIDEO arm): even-id
    //    docs carry the image fixture, odd-id docs carry REAL MP4
    //    containers (the ISO BMFF leg) with closed-form bad classes -
    //    corrupt container / dead payloads (demuxes but zero frames
    //    decode, a class only a video gate can see) / blank stream
    //    (every frame uniform) - all dropping as `bad_media` before the
    //    text stages. The composition a 100 TB multimodal pipeline
    //    actually runs: one demux+decode pass per modality, no shuffle
    //    in either gate. --------------------------------------------
    "q131_curate_multimodal_video" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.Pipeline.curateFull(docs, spark.table("embeddings"),
          "doc_id", "text", "source",
          media = Some(sharedCuratedMedia(spark, dir)),
          video = Some(sharedCuratedVideo(spark, dir)),
          videoContainer = operators.Mp4Container)
        .orderBy("doc_id")
    },

    // -- FULL tri-modal curation (r16, q131 + the AUDIO arm): image
    //    fixture on even ids, real MP4 video on odd ids, real WAV audio
    //    on id%3==0 ids (modalities OVERLAP - a doc can carry several;
    //    the drop union is distinct'd). Audio bad classes by id%11:
    //    corrupt (4) / silent DC line (7) / zero-sample chunk (9), all
    //    dropping as `bad_media` before the text stages. -------------
    "q132_curate_trimodal" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.Pipeline.curateFull(docs, spark.table("embeddings"),
          "doc_id", "text", "source",
          media = Some(sharedCuratedMedia(spark, dir)),
          video = Some(sharedCuratedVideo(spark, dir)),
          videoContainer = operators.Mp4Container,
          audio = Some(sharedCuratedAudio(spark, dir)))
        .orderBy("doc_id")
    },

    // -- MULTIMODAL incremental curation (r16, q115 + the media gate at
    //    ingest grain): each batch doc's assets are decoded ONCE and
    //    judged before any text stage - corrupt/dead/blank video (real
    //    MP4 containers on the odd-id batch) and corrupt/silent/empty
    //    audio (real WAV on id%3==0) drop as `bad_media`; history was
    //    gated at its own admission, so per-batch media cost = batch
    //    assets only. The ingest twin of q132. ----------------------
    "q133_curate_incremental_media" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.Pipeline.curateIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          spark.table("embeddings"), "doc_id", "text",
          historyBloom = sharedHistoryBloom(spark, dir),
          centroids = sharedHistoryCentroids(spark, dir),
          video = Some(sharedCuratedVideo(spark, dir)),
          videoContainer = operators.Mp4Container,
          audio = Some(sharedCuratedAudio(spark, dir)))
        .orderBy("doc_id")
    },

    // -- DECONTAMINATED curation (r16, q112 + benchmark decontamination
    //    as stage 1.75): the corpus (doc_id >= 75) is curated with the
    //    fixed eval slice (doc_id < 75) as the benchmark - exact
    //    survivors sharing a 13-gram with it (the GPT-3-style membership
    //    grain; span hits are implied) or reaching 0.4 embedding cosine
    //    against any eval vector (the paraphrase grain) drop as
    //    `contaminated` before their text can feed gram statistics.
    //    Proves q125's grains compose into the pipeline. --------------
    "q126_curate_decontaminated" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val emb = spark.table("embeddings")
      operators.Pipeline.curateFull(
          docs.filter(col("doc_id") >= 75), emb.filter(col("vec_id") >= 75),
          "doc_id", "text", "source",
          benchmark = Some(docs.filter(col("doc_id") < 75)),
          benchmarkEmb = Some(emb.filter(col("vec_id") < 75)),
          contamNgramK = 13, contamCosTau = 0.4)
        .orderBy("doc_id")
    },

    // -- DECONTAMINATED incremental curation (r16, q115 + eval-suite
    //    decontamination as stage 1.9 - q126's ingest twin): each batch
    //    is judged against the SAME fixed benchmark (13-gram membership
    //    + 0.4-cosine paraphrase grain) before the history stages, so
    //    eval text never enters the corpus store at any grain. --------
    "q127_curate_incremental_decontaminated" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val emb = spark.table("embeddings")
      val corpus = docs.filter(col("doc_id") >= 75)
      operators.Pipeline.curateIncremental(
          corpus.filter(col("doc_id") % 2 === 0),
          corpus.filter(col("doc_id") % 2 === 1),
          emb.filter(col("vec_id") >= 75), "doc_id", "text",
          benchmark = Some(docs.filter(col("doc_id") < 75)),
          benchmarkEmb = Some(emb.filter(col("vec_id") < 75)))
        .orderBy("doc_id")
    },

    // -- QUALITY-GATED curation (q112 + the trained NB classifier as
    //    stage 2.5): the q119 model (seed = en doc_id%4=0, crawl =
    //    doc_id%4=1, trained on RAW text) scores each span survivor's
    //    CLEANED text; the WORST 20% by score drop as low_quality (rank
    //    cut via two-level prefix scan - robust to the score
    //    distribution shifting with corpus size), and the pairwise
    //    stages run on the quality survivors. Proves the classifier
    //    composes into the pipeline, not just in isolation. -----------
    "q122_curate_quality" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.Pipeline.curateFull(docs, spark.table("embeddings"),
          "doc_id", "text", "source",
          seedFilter = Some(col("lang") === "en" && col("doc_id") % 4 === 0),
          crawlFilter = Some(col("doc_id") % 4 === 1),
          lowQualityFraction = 0.2)
        .orderBy("doc_id")
    },

    // -- QUALITY-GATED incremental curation (q115 + the stored NB model
    //    as stage 2.5): model fit on the HISTORY slice (seed = en, crawl
    //    = the rest), admission threshold = the 0.2-quantile of the
    //    HISTORY corpus's own scores - both per-snapshot artifacts
    //    (sharedNbArtifacts memo), so every batch is judged against the
    //    SAME fixed bar and admission quality cannot drift with batch
    //    composition. -----------------------------------------------
    "q123_curate_incremental_quality" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val (model, thr) = sharedNbArtifacts(spark, dir)
      operators.Pipeline.curateIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          spark.table("embeddings"), "doc_id", "text",
          historyBloom = sharedHistoryBloom(spark, dir),
          centroids = sharedHistoryCentroids(spark, dir),
          nbModel = Some(model), minNbScoreU = thr)
        .orderBy("doc_id")
    },

    // -- CCNet-style perplexity buckets: trigram-LM scores (the q83
    //    model, en reference) partitioned head/middle/tail by EXACT
    //    score terciles (two-level-rank k-th smallest, value-based
    //    assignment so ties are engine-portable) - the bucketed-sampling
    //    recipe (keep head+middle, resample the tail). ----------------
    "q124_perplexity_buckets" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.TextOps.perplexityBuckets(
          docs.filter(col("lang") === "en"), docs)
        .orderBy("doc_id")
    },
  )

  protected def pipelineOracle: Map[String, String] = {
  val base = Map(
    // the five stage oracles chained as CTEs on each other's
    // survivors: q34's fingerprint dedup, q86's span removal, q35's
    // exact-Jaccard pairs (threshold 0.9, over CLEANED text), q101's
    // Lloyd's-replay SemDeDup (fit on the survivor slice), q104's
    // per-source token quota — proving the operators compose, not
    // just pass in isolation. Short-doc rule: a doc span-cleaned below k
    // tokens shingles to the single fold of ALL its tokens (shingleSet's
    // documented semantics), replicated here as the whole-text 1-shingle
    // CASE so identical span-remnants still pair at J=1.
    //
    // r20: the near-dup stage is the EXACT inverted-index formulation
    // (unnest shingles -> equi-join -> per-pair intersection count ->
    // Jaccard from set sizes), replacing the all-pairs list_intersect
    // cross join that made DuckDB DNF at sf0.1 (BASELINE.md r11 anchor:
    // 1.73 s vs >180 s). Exactness is a formulation property, not an
    // approximation: every shingle set here is non-empty (the <3-token
    // CASE emits a whole-text singleton), so J >= t > 0 implies a shared
    // shingle and the equi-join enumerates exactly the J > 0 pairs with
    // identical IEEE operands (inter, |A|, |B| are the same integers).
    "q112_curate_full" ->
      """WITH norm AS (
        |  SELECT doc_id, source, text,
        |         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |exact_drop AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM norm) WHERE rn > 1),
        |s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |         FROM s1 WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |cutset AS (SELECT DISTINCT doc_id,
        |                  unnest(range(b_start, b_start + span_tokens)) AS cut
        |           FROM spans WHERE span_tokens >= 20),
        |tok AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM toks),
        |keptt AS (SELECT tok.doc_id, tok.pos, tok.w
        |          FROM tok LEFT JOIN cutset
        |            ON tok.doc_id = cutset.doc_id AND tok.pos = cutset.cut
        |          WHERE cutset.cut IS NULL),
        |cleaned AS (SELECT toks.doc_id,
        |                   CAST(count(keptt.pos) AS BIGINT) AS kept_tokens,
        |                   CAST(len(any_value(toks.t)) - count(keptt.pos) AS BIGINT) AS removed_tokens,
        |                   coalesce(string_agg(keptt.w, ' ' ORDER BY keptt.pos), '') AS cleaned_text
        |            FROM toks LEFT JOIN keptt ON toks.doc_id = keptt.doc_id
        |            GROUP BY toks.doc_id),
        |s2 AS (SELECT * FROM cleaned WHERE kept_tokens > 0),
        |ctoks AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2),
        |csh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM ctoks),
        |csz AS (SELECT doc_id, len(s) AS n FROM csh),
        |cun AS (SELECT doc_id, unnest(s) AS g FROM csh),
        |ncand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |          FROM cun a JOIN cun b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |npairs AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) AS j
        |  FROM ncand c JOIN csz sa ON sa.doc_id = c.doc_a
        |               JOIN csz sb ON sb.doc_id = c.doc_b),
        |near_drop AS (SELECT DISTINCT doc_b AS doc_id FROM npairs WHERE j >= 0.9),
        |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE vec_id IN (SELECT doc_id FROM s3)),
        |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM e ORDER BY vec_id LIMIT 8),
        |ka1 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, k0 c),
        |ks1 AS (SELECT vec_id, v, cl FROM ka1 WHERE rn = 1),
        |kc1 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks1, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka2 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc1 c),
        |ks2 AS (SELECT vec_id, v, cl FROM ka2 WHERE rn = 1),
        |kc2 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks2, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka3 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc2 c),
        |ks3 AS (SELECT vec_id, v, cl FROM ka3 WHERE rn = 1),
        |sem_drop AS (SELECT s.vec_id AS doc_id FROM ks3 s
        |             WHERE EXISTS (SELECT 1 FROM ks3 a
        |                           WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                             AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)),
        |qt AS (SELECT s4.doc_id, d.source, s4.kept_tokens AS n_tokens,
        |              md5(CAST(s4.doc_id AS VARCHAR)) AS key
        |       FROM s4 JOIN documents d USING (doc_id)),
        |qw AS (SELECT doc_id, n_tokens,
        |              sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS cum,
        |              row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
        |       FROM qt),
        |quota_drop AS (SELECT doc_id FROM qw WHERE NOT (cum <= 700 OR rn = 1)),
        |ann AS (
        |  SELECT d.doc_id, d.source, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN d.doc_id IN (SELECT doc_id FROM near_drop) THEN 'near_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM sem_drop) THEN 'sem_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM quota_drop) THEN 'over_quota'
        |              ELSE 'kept' END AS decision
        |  FROM documents d LEFT JOIN cleaned c USING (doc_id))
        |SELECT doc_id, source, decision, removed_tokens,
        |       CASE WHEN decision = 'kept' THEN kept_tokens END AS n_tokens,
        |       CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5
        |FROM ann ORDER BY doc_id""".stripMargin,

    // the cross-stage oracles chained on each other's survivors:
    // q64's history-membership dedup, q88's cross-span detection +
    // q86's reassembly (batch side only), q97's cross jaccard (over
    // CLEANED batch text, shingleSet short-doc rule), q103's
    // incremental-semdedup Lloyd's replay (fit on history)

    // the cross-stage oracles chained on each other's survivors:
    // q64's history-membership dedup, q88's cross-span detection +
    // q86's reassembly (batch side only), q97's cross jaccard (over
    // CLEANED batch text, shingleSet short-doc rule), q103's
    // incremental-semdedup Lloyd's replay (fit on history)
    "q115_curate_incremental" ->
      """WITH norm AS (
        |  SELECT doc_id, text,
        |         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |hist AS (SELECT * FROM norm WHERE doc_id % 2 = 0),
        |bat  AS (SELECT * FROM norm WHERE doc_id % 2 = 1),
        |exact_drop AS (SELECT doc_id FROM bat WHERE fp IN (SELECT fp FROM hist)),
        |s1 AS (SELECT * FROM bat WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |         FROM (SELECT doc_id, text FROM hist UNION ALL SELECT doc_id, text FROM s1)
        |         WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr
        |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |cutset AS (SELECT DISTINCT doc_id,
        |                  unnest(range(b_start, b_start + span_tokens)) AS cut
        |           FROM spans WHERE span_tokens >= 20),
        |btoks AS (SELECT doc_id, t FROM toks WHERE doc_id % 2 = 1),
        |btok AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM btoks),
        |keptt AS (SELECT btok.doc_id, btok.pos, btok.w
        |          FROM btok LEFT JOIN cutset
        |            ON btok.doc_id = cutset.doc_id AND btok.pos = cutset.cut
        |          WHERE cutset.cut IS NULL),
        |cleaned AS (SELECT btoks.doc_id,
        |                   CAST(count(keptt.pos) AS BIGINT) AS kept_tokens,
        |                   CAST(len(any_value(btoks.t)) - count(keptt.pos) AS BIGINT) AS removed_tokens,
        |                   coalesce(string_agg(keptt.w, ' ' ORDER BY keptt.pos), '') AS cleaned_text
        |            FROM btoks LEFT JOIN keptt ON btoks.doc_id = keptt.doc_id
        |            GROUP BY btoks.doc_id),
        |s2 AS (SELECT * FROM cleaned WHERE kept_tokens > 0),
        |hct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ct
        |        FROM hist WHERE trim(text) <> ''),
        |bct AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2),
        |hsh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM hct),
        |bsh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM bct),
        |hsz AS (SELECT doc_id, len(s) AS n FROM hsh),
        |bsz AS (SELECT doc_id, len(s) AS n FROM bsh),
        |hun AS (SELECT doc_id, unnest(s) AS g FROM hsh),
        |bun AS (SELECT doc_id, unnest(s) AS g FROM bsh),
        |ncand AS (SELECT a.doc_id AS ha, b.doc_id AS bb, count(*) AS inter
        |          FROM hun a JOIN bun b ON a.g = b.g
        |          GROUP BY 1, 2),
        |near_drop AS (
        |  SELECT DISTINCT c.bb AS doc_id
        |  FROM ncand c JOIN hsz ON hsz.doc_id = c.ha
        |               JOIN bsz ON bsz.doc_id = c.bb
        |  WHERE CAST(c.inter AS DOUBLE) / (hsz.n + bsz.n - c.inter) >= 0.9),
        |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id % 2 = 0),
        |bt AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |       WHERE vec_id IN (SELECT doc_id FROM s3)),
        |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM e ORDER BY vec_id LIMIT 8),
        |ka1 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, k0 c),
        |ks1 AS (SELECT vec_id, v, cl FROM ka1 WHERE rn = 1),
        |kc1 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks1, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka2 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc1 c),
        |ks2 AS (SELECT vec_id, v, cl FROM ka2 WHERE rn = 1),
        |kc2 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks2, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |khs AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc2 c),
        |kh AS (SELECT vec_id, v, cl FROM khs WHERE rn = 1),
        |kbs AS (SELECT bt.vec_id, bt.v, c.cl,
        |               row_number() OVER (PARTITION BY bt.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(bt.v, c.cv), c.cl) AS rn
        |        FROM bt, kc2 c),
        |kb AS (SELECT vec_id, v, cl FROM kbs WHERE rn = 1),
        |sem_drop AS (
        |  SELECT s.vec_id AS doc_id FROM kb s
        |  WHERE EXISTS (SELECT 1 FROM kh a
        |                WHERE a.cl = s.cl AND list_cosine_similarity(a.v, s.v) >= 0.35)
        |     OR EXISTS (SELECT 1 FROM kb a
        |                WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                  AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |ann AS (
        |  SELECT b.doc_id, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN b.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN b.doc_id IN (SELECT doc_id FROM near_drop) THEN 'near_dup'
        |              WHEN b.doc_id IN (SELECT doc_id FROM sem_drop) THEN 'sem_dup'
        |              ELSE 'kept' END AS decision
        |  FROM bat b LEFT JOIN cleaned c USING (doc_id))
        |SELECT doc_id, decision, removed_tokens,
        |       CASE WHEN decision = 'kept' THEN kept_tokens END AS n_tokens,
        |       CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5
        |FROM ann ORDER BY doc_id""".stripMargin,

    // q115's cross-stage oracle + the stored NB model as stage 2.5:
    // model fit on the HISTORY slice (en vs rest), threshold = the
    // 0.2-quantile of the history corpus's own scores (rank over
    // (score, doc_id) - exactly nbScoreQuantile's contract), batch
    // span survivors scored on CLEANED text
    "q123_curate_incremental_quality" ->
      """WITH norm AS (
        |  SELECT doc_id, lang, text,
        |         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |hist AS (SELECT * FROM norm WHERE doc_id % 2 = 0),
        |bat  AS (SELECT * FROM norm WHERE doc_id % 2 = 1),
        |exact_drop AS (SELECT doc_id FROM bat WHERE fp IN (SELECT fp FROM hist)),
        |s1 AS (SELECT * FROM bat WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |         FROM (SELECT doc_id, text FROM hist UNION ALL SELECT doc_id, text FROM s1)
        |         WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr
        |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |cutset AS (SELECT DISTINCT doc_id,
        |                  unnest(range(b_start, b_start + span_tokens)) AS cut
        |           FROM spans WHERE span_tokens >= 20),
        |btoks AS (SELECT doc_id, t FROM toks WHERE doc_id % 2 = 1),
        |btok AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM btoks),
        |keptt AS (SELECT btok.doc_id, btok.pos, btok.w
        |          FROM btok LEFT JOIN cutset
        |            ON btok.doc_id = cutset.doc_id AND btok.pos = cutset.cut
        |          WHERE cutset.cut IS NULL),
        |cleaned AS (SELECT btoks.doc_id,
        |                   CAST(count(keptt.pos) AS BIGINT) AS kept_tokens,
        |                   CAST(len(any_value(btoks.t)) - count(keptt.pos) AS BIGINT) AS removed_tokens,
        |                   coalesce(string_agg(keptt.w, ' ' ORDER BY keptt.pos), '') AS cleaned_text
        |            FROM btoks LEFT JOIN keptt ON btoks.doc_id = keptt.doc_id
        |            GROUP BY btoks.doc_id),
        |s2 AS (SELECT * FROM cleaned WHERE kept_tokens > 0),
        |tnorm AS (SELECT doc_id, lang,
        |                 lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |          FROM hist WHERE trim(text) <> ''),
        |ttok AS (SELECT doc_id, lang, string_split(t, ' ') AS w FROM tnorm),
        |tfe AS (SELECT doc_id, lang, unnest(w) AS g FROM ttok
        |        UNION ALL
        |        SELECT doc_id, lang,
        |               unnest(list_transform(range(len(w) - 1),
        |                      i -> w[i + 1] || ' ' || w[i + 2])) AS g
        |        FROM ttok WHERE len(w) >= 2),
        |tbk AS (SELECT doc_id, lang,
        |               ('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096 AS b FROM tfe),
        |sc AS (SELECT b, count(*) AS c FROM tbk WHERE lang = 'en' GROUP BY b),
        |rc AS (SELECT b, count(*) AS c FROM tbk WHERE lang <> 'en' GROUP BY b),
        |sdn AS (SELECT CAST(coalesce(sum(c), 0) + 4096 AS DOUBLE) AS d FROM sc),
        |rdn AS (SELECT CAST(coalesce(sum(c), 0) + 4096 AS DOUBLE) AS d FROM rc),
        |pri AS (SELECT CAST(floor(ln(
        |          CAST((SELECT count(*) FROM tnorm WHERE lang = 'en') AS DOUBLE) /
        |          (SELECT count(*) FROM tnorm WHERE lang <> 'en')) * 1000000) AS BIGINT) AS p),
        |cw AS (SELECT doc_id,
        |              string_split(lower(regexp_replace(trim(cleaned_text), '\s+', ' ', 'g')), ' ') AS w
        |       FROM s2),
        |cfe AS (SELECT doc_id, unnest(w) AS g FROM cw
        |        UNION ALL
        |        SELECT doc_id,
        |               unnest(list_transform(range(len(w) - 1),
        |                      i -> w[i + 1] || ' ' || w[i + 2])) AS g
        |        FROM cw WHERE len(w) >= 2),
        |cbk AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096 AS b FROM cfe),
        |lrm AS (SELECT ab.b,
        |               CAST(floor((ln((coalesce(sc.c, 0) + 1.0) / sdn.d) -
        |                           ln((coalesce(rc.c, 0) + 1.0) / rdn.d)) * 1000000) AS BIGINT) AS lr_u
        |        FROM (SELECT b FROM tbk UNION SELECT b FROM cbk) ab
        |        CROSS JOIN sdn CROSS JOIN rdn
        |        LEFT JOIN sc ON ab.b = sc.b LEFT JOIN rc ON ab.b = rc.b),
        |hsc AS (SELECT tbk.doc_id, pri.p + sum(lrm.lr_u) AS sc2
        |        FROM tbk JOIN lrm ON tbk.b = lrm.b CROSS JOIN pri
        |        GROUP BY tbk.doc_id, pri.p),
        |thr AS (SELECT sc2 AS v FROM (
        |    SELECT sc2, doc_id, row_number() OVER (ORDER BY sc2, doc_id) AS rn,
        |           count(*) OVER () AS nh FROM hsc)
        |    WHERE rn = greatest(1, CAST(floor(0.2 * nh) AS BIGINT))),
        |qsc AS (SELECT cbk.doc_id, pri.p + sum(lrm.lr_u) AS sc2
        |        FROM cbk JOIN lrm ON cbk.b = lrm.b CROSS JOIN pri
        |        GROUP BY cbk.doc_id, pri.p),
        |qual_drop AS (SELECT doc_id FROM qsc CROSS JOIN thr WHERE qsc.sc2 < thr.v),
        |s2q AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM qual_drop)),
        |hct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ct
        |        FROM hist WHERE trim(text) <> ''),
        |bct AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2q),
        |hsh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM hct),
        |bsh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM bct),
        |hsz AS (SELECT doc_id, len(s) AS n FROM hsh),
        |bsz AS (SELECT doc_id, len(s) AS n FROM bsh),
        |hun AS (SELECT doc_id, unnest(s) AS g FROM hsh),
        |bun AS (SELECT doc_id, unnest(s) AS g FROM bsh),
        |ncand AS (SELECT a.doc_id AS ha, b.doc_id AS bb, count(*) AS inter
        |          FROM hun a JOIN bun b ON a.g = b.g
        |          GROUP BY 1, 2),
        |near_drop AS (
        |  SELECT DISTINCT c.bb AS doc_id
        |  FROM ncand c JOIN hsz ON hsz.doc_id = c.ha
        |               JOIN bsz ON bsz.doc_id = c.bb
        |  WHERE CAST(c.inter AS DOUBLE) / (hsz.n + bsz.n - c.inter) >= 0.9),
        |s3 AS (SELECT * FROM s2q WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id % 2 = 0),
        |bt AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |       WHERE vec_id IN (SELECT doc_id FROM s3)),
        |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM e ORDER BY vec_id LIMIT 8),
        |ka1 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, k0 c),
        |ks1 AS (SELECT vec_id, v, cl FROM ka1 WHERE rn = 1),
        |kc1 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks1, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka2 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc1 c),
        |ks2 AS (SELECT vec_id, v, cl FROM ka2 WHERE rn = 1),
        |kc2 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks2, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |khs AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc2 c),
        |kh AS (SELECT vec_id, v, cl FROM khs WHERE rn = 1),
        |kbs AS (SELECT bt.vec_id, bt.v, c.cl,
        |               row_number() OVER (PARTITION BY bt.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(bt.v, c.cv), c.cl) AS rn
        |        FROM bt, kc2 c),
        |kb AS (SELECT vec_id, v, cl FROM kbs WHERE rn = 1),
        |sem_drop AS (
        |  SELECT s.vec_id AS doc_id FROM kb s
        |  WHERE EXISTS (SELECT 1 FROM kh a
        |                WHERE a.cl = s.cl AND list_cosine_similarity(a.v, s.v) >= 0.35)
        |     OR EXISTS (SELECT 1 FROM kb a
        |                WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                  AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |ann AS (
        |  SELECT b.doc_id, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN b.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN b.doc_id IN (SELECT doc_id FROM qual_drop) THEN 'low_quality'
        |              WHEN b.doc_id IN (SELECT doc_id FROM near_drop) THEN 'near_dup'
        |              WHEN b.doc_id IN (SELECT doc_id FROM sem_drop) THEN 'sem_dup'
        |              ELSE 'kept' END AS decision
        |  FROM bat b LEFT JOIN cleaned c USING (doc_id))
        |SELECT doc_id, decision, removed_tokens,
        |       CASE WHEN decision = 'kept' THEN kept_tokens END AS n_tokens,
        |       CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5
        |FROM ann ORDER BY doc_id""".stripMargin,

    // same budgets re-derived in SQL: sqrt weights accumulated in
    // name-sorted list order (list_sum fixes the fold order), floored
    // per-source budgets, then the q104 quota selection
    "q116_temperature_mixture" ->
      """WITH t AS (SELECT doc_id, source,
        |                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |                  md5(CAST(doc_id AS VARCHAR)) AS key
        |           FROM documents),
        |f AS (SELECT * FROM t WHERE n_tokens >= 1),
        |mass AS (SELECT source, sum(n_tokens) AS mass FROM t GROUP BY source),
        |wsum AS (SELECT list_sum(list(sqrt(CAST(mass AS DOUBLE)) ORDER BY source)) AS s
        |         FROM mass),
        |bud AS (SELECT source,
        |               greatest(1, CAST(floor(3000 * sqrt(CAST(mass AS DOUBLE)) / (SELECT s FROM wsum)) AS BIGINT)) AS budget
        |        FROM mass),
        |w AS (SELECT doc_id, source, n_tokens,
        |             sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS cum,
        |             row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
        |      FROM f)
        |SELECT w.doc_id, w.source, w.n_tokens, b.budget,
        |       (w.cum <= b.budget OR w.rn = 1) AS kept
        |FROM w JOIN bud b ON w.source = b.source ORDER BY w.doc_id""".stripMargin,

    // same NB model re-derived in SQL: identical normalization/uni+bigram
    // features, md5-prefix buckets, add-one LLRs µ-quantized PER BUCKET
    // (so doc scores are exact integer sums — engine-portable), doc-count
    // prior. lrm derives every bucket the corpus produces; training-unseen
    // buckets fall to the c=0 formula = Spark's coalesce default.
    "q119_seed_classifier" ->
      """WITH norm AS (SELECT doc_id, lang,
        |                     lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |              FROM documents WHERE trim(text) <> ''),
        |toks AS (SELECT doc_id, lang, string_split(t, ' ') AS w FROM norm),
        |feats AS (SELECT doc_id, lang, unnest(w) AS g FROM toks
        |          UNION ALL
        |          SELECT doc_id, lang,
        |                 unnest(list_transform(range(len(w) - 1),
        |                        i -> w[i + 1] || ' ' || w[i + 2])) AS g
        |          FROM toks WHERE len(w) >= 2),
        |bk AS (SELECT doc_id, lang,
        |              ('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096 AS b
        |       FROM feats),
        |sc AS (SELECT b, count(*) AS c FROM bk
        |       WHERE lang = 'en' AND doc_id % 4 = 0 GROUP BY b),
        |rc AS (SELECT b, count(*) AS c FROM bk WHERE doc_id % 4 = 1 GROUP BY b),
        |sd AS (SELECT CAST(coalesce(sum(c), 0) + 4096 AS DOUBLE) AS d FROM sc),
        |rd AS (SELECT CAST(coalesce(sum(c), 0) + 4096 AS DOUBLE) AS d FROM rc),
        |pri AS (SELECT CAST(floor(ln(
        |                 CAST((SELECT count(*) FROM norm WHERE lang = 'en' AND doc_id % 4 = 0) AS DOUBLE) /
        |                 (SELECT count(*) FROM norm WHERE doc_id % 4 = 1)) * 1000000) AS BIGINT) AS p),
        |lrm AS (SELECT ab.b,
        |               CAST(floor((ln((coalesce(sc.c, 0) + 1.0) / sd.d) -
        |                           ln((coalesce(rc.c, 0) + 1.0) / rd.d)) * 1000000) AS BIGINT) AS lr_u
        |        FROM (SELECT DISTINCT b FROM bk) ab
        |        CROSS JOIN sd CROSS JOIN rd
        |        LEFT JOIN sc ON ab.b = sc.b LEFT JOIN rc ON ab.b = rc.b)
        |SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
        |       CAST(pri.p + sum(lrm.lr_u) AS BIGINT) AS nb_score_u,
        |       (pri.p + sum(lrm.lr_u)) > 0 AS seed_like
        |FROM bk JOIN lrm ON bk.b = lrm.b CROSS JOIN pri
        |GROUP BY bk.doc_id, pri.p ORDER BY bk.doc_id""".stripMargin,

    // the q119 model discipline generalized to MULTICLASS over char
    // trigrams: per-language add-one bucket log-probs + doc-count priors
    // (both µ-quantized BIGINTs, so per-class doc scores are exact
    // integer sums), argmax with ties toward the lexicographically
    // smaller language. llrm derives every bucket the corpus produces;
    // training-unseen buckets fall to the c=0 formula = the model's
    // materialized default.
    "q156_lang_classifier" ->
      """WITH lnorm AS (SELECT doc_id, lang,
        |                      lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS lt
        |               FROM documents),
        |ltri AS (SELECT doc_id, lang, substr(lt, CAST(i AS INT), 3) AS tri
        |         FROM lnorm, UNNEST(range(1, greatest(length(lt) - 1, 1))) AS u(i)),
        |lbk AS (SELECT doc_id, lang,
        |               ('0x' || substr(md5(tri), 1, 8))::UBIGINT % 1024 AS b
        |        FROM ltri),
        |ltr AS (SELECT * FROM lbk WHERE doc_id % 4 = 0),
        |lcc AS (SELECT lang, b, count(*) AS c FROM ltr GROUP BY lang, b),
        |ldn AS (SELECT lang, CAST(sum(c) + 1024 AS DOUBLE) AS d FROM lcc GROUP BY lang),
        |lnd AS (SELECT lang, count(DISTINCT doc_id) AS n FROM ltr GROUP BY lang),
        |lnt AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM lnd),
        |lpr AS (SELECT lnd.lang,
        |               CAST(floor(ln(CAST(lnd.n AS DOUBLE) / lnt.tot) * 1000000) AS BIGINT) AS p
        |        FROM lnd CROSS JOIN lnt),
        |llrm AS (SELECT l.lang, ab.b,
        |                CAST(floor(ln((coalesce(lcc.c, 0) + 1.0) / ldn.d) * 1000000) AS BIGINT) AS lp
        |         FROM (SELECT DISTINCT b FROM lbk) ab
        |         CROSS JOIN (SELECT lang FROM lnd) l
        |         JOIN ldn ON ldn.lang = l.lang
        |         LEFT JOIN lcc ON lcc.lang = l.lang AND lcc.b = ab.b),
        |lsc AS (SELECT lbk.doc_id, llrm.lang, count(*) AS n_tri,
        |               lpr.p + sum(llrm.lp) AS s
        |        FROM lbk JOIN llrm ON lbk.b = llrm.b
        |        JOIN lpr ON lpr.lang = llrm.lang
        |        GROUP BY lbk.doc_id, llrm.lang, lpr.p),
        |lpick AS (SELECT doc_id, n_tri, lang, s,
        |                 row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS rn
        |          FROM lsc)
        |SELECT doc_id, CAST(n_tri AS BIGINT) AS n_tri, lang AS pred_lang,
        |       CAST(s AS BIGINT) AS score_u
        |FROM lpick WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // q112's chained stage oracle + the q119 NB model as stage 2.5:
    // model trained on RAW documents slices, span survivors scored on
    // CLEANED text (bucket union covers cleaned-only bigrams), integer
    // log-odds < 0 drop as low_quality before the pairwise stages
    "q127_curate_incremental_decontaminated" ->
      """WITH norm AS (
        |  SELECT doc_id, text,
        |         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id >= 75),
        |hist AS (SELECT * FROM norm WHERE doc_id % 2 = 0),
        |bat  AS (SELECT * FROM norm WHERE doc_id % 2 = 1),
        |exact_drop AS (SELECT doc_id FROM bat WHERE fp IN (SELECT fp FROM hist)),
        |s1 AS (SELECT * FROM bat WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
        |contam_sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 11),
        |                i -> array_to_string(t[i:i+12], ' '))) s
        |              FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM s1)
        |              WHERE len(t) >= 13),
        |bench_sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 11),
        |               i -> array_to_string(t[i:i+12], ' '))) s
        |             FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') t
        |                   FROM documents WHERE doc_id < 75)
        |             WHERE len(t) >= 13),
        |bench_g AS (SELECT DISTINCT unnest(s) AS g FROM bench_sh),
        |contam_ng AS (SELECT DISTINCT c.doc_id
        |              FROM (SELECT doc_id, unnest(s) AS g FROM contam_sh) c
        |              JOIN bench_g USING (g)),
        |contam_sem AS (SELECT c.vec_id AS doc_id
        |               FROM embeddings c, embeddings b
        |               WHERE b.vec_id < 75 AND c.vec_id IN (SELECT doc_id FROM s1)
        |               GROUP BY c.vec_id
        |               HAVING max(list_cosine_similarity(c.embedding::DOUBLE[],
        |                                                 b.embedding::DOUBLE[])) >= 0.4),
        |contam_drop AS (SELECT doc_id FROM contam_ng UNION SELECT doc_id FROM contam_sem),
        |s1c AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM contam_drop)),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |         FROM (SELECT doc_id, text FROM hist UNION ALL SELECT doc_id, text FROM s1c)
        |         WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr
        |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |cutset AS (SELECT DISTINCT doc_id,
        |                  unnest(range(b_start, b_start + span_tokens)) AS cut
        |           FROM spans WHERE span_tokens >= 20),
        |btoks AS (SELECT doc_id, t FROM toks WHERE doc_id % 2 = 1),
        |btok AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM btoks),
        |keptt AS (SELECT btok.doc_id, btok.pos, btok.w
        |          FROM btok LEFT JOIN cutset
        |            ON btok.doc_id = cutset.doc_id AND btok.pos = cutset.cut
        |          WHERE cutset.cut IS NULL),
        |cleaned AS (SELECT btoks.doc_id,
        |                   CAST(count(keptt.pos) AS BIGINT) AS kept_tokens,
        |                   CAST(len(any_value(btoks.t)) - count(keptt.pos) AS BIGINT) AS removed_tokens,
        |                   coalesce(string_agg(keptt.w, ' ' ORDER BY keptt.pos), '') AS cleaned_text
        |            FROM btoks LEFT JOIN keptt ON btoks.doc_id = keptt.doc_id
        |            GROUP BY btoks.doc_id),
        |s2 AS (SELECT * FROM cleaned WHERE kept_tokens > 0),
        |hct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ct
        |        FROM hist WHERE trim(text) <> ''),
        |bct AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2),
        |hsh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM hct),
        |bsh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM bct),
        |hsz AS (SELECT doc_id, len(s) AS n FROM hsh),
        |bsz AS (SELECT doc_id, len(s) AS n FROM bsh),
        |hun AS (SELECT doc_id, unnest(s) AS g FROM hsh),
        |bun AS (SELECT doc_id, unnest(s) AS g FROM bsh),
        |ncand AS (SELECT a.doc_id AS ha, b.doc_id AS bb, count(*) AS inter
        |          FROM hun a JOIN bun b ON a.g = b.g
        |          GROUP BY 1, 2),
        |near_drop AS (
        |  SELECT DISTINCT c.bb AS doc_id
        |  FROM ncand c JOIN hsz ON hsz.doc_id = c.ha
        |               JOIN bsz ON bsz.doc_id = c.bb
        |  WHERE CAST(c.inter AS DOUBLE) / (hsz.n + bsz.n - c.inter) >= 0.9),
        |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |     WHERE vec_id % 2 = 0 AND vec_id >= 75),
        |bt AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |       WHERE vec_id IN (SELECT doc_id FROM s3)),
        |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM e ORDER BY vec_id LIMIT 8),
        |ka1 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, k0 c),
        |ks1 AS (SELECT vec_id, v, cl FROM ka1 WHERE rn = 1),
        |kc1 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks1, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka2 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc1 c),
        |ks2 AS (SELECT vec_id, v, cl FROM ka2 WHERE rn = 1),
        |kc2 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks2, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |khs AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc2 c),
        |kh AS (SELECT vec_id, v, cl FROM khs WHERE rn = 1),
        |kbs AS (SELECT bt.vec_id, bt.v, c.cl,
        |               row_number() OVER (PARTITION BY bt.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(bt.v, c.cv), c.cl) AS rn
        |        FROM bt, kc2 c),
        |kb AS (SELECT vec_id, v, cl FROM kbs WHERE rn = 1),
        |sem_drop AS (
        |  SELECT s.vec_id AS doc_id FROM kb s
        |  WHERE EXISTS (SELECT 1 FROM kh a
        |                WHERE a.cl = s.cl AND list_cosine_similarity(a.v, s.v) >= 0.35)
        |     OR EXISTS (SELECT 1 FROM kb a
        |                WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                  AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |ann AS (
        |  SELECT b.doc_id, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN b.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'
        |              WHEN b.doc_id IN (SELECT doc_id FROM contam_drop) THEN 'contaminated'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN b.doc_id IN (SELECT doc_id FROM near_drop) THEN 'near_dup'
        |              WHEN b.doc_id IN (SELECT doc_id FROM sem_drop) THEN 'sem_dup'
        |              ELSE 'kept' END AS decision
        |  FROM bat b LEFT JOIN cleaned c USING (doc_id))
        |SELECT doc_id, decision, removed_tokens,
        |       CASE WHEN decision = 'kept' THEN kept_tokens END AS n_tokens,
        |       CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5
        |FROM ann ORDER BY doc_id""".stripMargin,

    // q127 note: q115's oracle chain with the same contamination CTEs
    // as q126 patched between s1 and the cross-span stage (and the
    // history-embedding CTE restricted to the >= 75 corpus), derived
    // programmatically with anchor asserts

    "q126_curate_decontaminated" ->
      """WITH norm AS (
        |  SELECT doc_id, source, text,
        |         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id >= 75),
        |exact_drop AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM norm) WHERE rn > 1),
        |s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
        |contam_sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 11),
        |                i -> array_to_string(t[i:i+12], ' '))) s
        |              FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM s1)
        |              WHERE len(t) >= 13),
        |bench_sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 11),
        |               i -> array_to_string(t[i:i+12], ' '))) s
        |             FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') t
        |                   FROM documents WHERE doc_id < 75)
        |             WHERE len(t) >= 13),
        |bench_g AS (SELECT DISTINCT unnest(s) AS g FROM bench_sh),
        |contam_ng AS (SELECT DISTINCT c.doc_id
        |              FROM (SELECT doc_id, unnest(s) AS g FROM contam_sh) c
        |              JOIN bench_g USING (g)),
        |contam_sem AS (SELECT c.vec_id AS doc_id
        |               FROM embeddings c, embeddings b
        |               WHERE b.vec_id < 75 AND c.vec_id IN (SELECT doc_id FROM s1)
        |               GROUP BY c.vec_id
        |               HAVING max(list_cosine_similarity(c.embedding::DOUBLE[],
        |                                                 b.embedding::DOUBLE[])) >= 0.4),
        |contam_drop AS (SELECT doc_id FROM contam_ng UNION SELECT doc_id FROM contam_sem),
        |s1c AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM contam_drop)),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |         FROM s1c WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |cutset AS (SELECT DISTINCT doc_id,
        |                  unnest(range(b_start, b_start + span_tokens)) AS cut
        |           FROM spans WHERE span_tokens >= 20),
        |tok AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM toks),
        |keptt AS (SELECT tok.doc_id, tok.pos, tok.w
        |          FROM tok LEFT JOIN cutset
        |            ON tok.doc_id = cutset.doc_id AND tok.pos = cutset.cut
        |          WHERE cutset.cut IS NULL),
        |cleaned AS (SELECT toks.doc_id,
        |                   CAST(count(keptt.pos) AS BIGINT) AS kept_tokens,
        |                   CAST(len(any_value(toks.t)) - count(keptt.pos) AS BIGINT) AS removed_tokens,
        |                   coalesce(string_agg(keptt.w, ' ' ORDER BY keptt.pos), '') AS cleaned_text
        |            FROM toks LEFT JOIN keptt ON toks.doc_id = keptt.doc_id
        |            GROUP BY toks.doc_id),
        |s2 AS (SELECT * FROM cleaned WHERE kept_tokens > 0),
        |ctoks AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2),
        |csh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM ctoks),
        |csz AS (SELECT doc_id, len(s) AS n FROM csh),
        |cun AS (SELECT doc_id, unnest(s) AS g FROM csh),
        |ncand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |          FROM cun a JOIN cun b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |npairs AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) AS j
        |  FROM ncand c JOIN csz sa ON sa.doc_id = c.doc_a
        |               JOIN csz sb ON sb.doc_id = c.doc_b),
        |near_drop AS (SELECT DISTINCT doc_b AS doc_id FROM npairs WHERE j >= 0.9),
        |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE vec_id IN (SELECT doc_id FROM s3)),
        |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM e ORDER BY vec_id LIMIT 8),
        |ka1 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, k0 c),
        |ks1 AS (SELECT vec_id, v, cl FROM ka1 WHERE rn = 1),
        |kc1 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks1, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka2 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc1 c),
        |ks2 AS (SELECT vec_id, v, cl FROM ka2 WHERE rn = 1),
        |kc2 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks2, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka3 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc2 c),
        |ks3 AS (SELECT vec_id, v, cl FROM ka3 WHERE rn = 1),
        |sem_drop AS (SELECT s.vec_id AS doc_id FROM ks3 s
        |             WHERE EXISTS (SELECT 1 FROM ks3 a
        |                           WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                             AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)),
        |qt AS (SELECT s4.doc_id, d.source, s4.kept_tokens AS n_tokens,
        |              md5(CAST(s4.doc_id AS VARCHAR)) AS key
        |       FROM s4 JOIN documents d USING (doc_id)),
        |qw AS (SELECT doc_id, n_tokens,
        |              sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS cum,
        |              row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
        |       FROM qt),
        |quota_drop AS (SELECT doc_id FROM qw WHERE NOT (cum <= 700 OR rn = 1)),
        |ann AS (
        |  SELECT d.doc_id, d.source, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM contam_drop) THEN 'contaminated'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN d.doc_id IN (SELECT doc_id FROM near_drop) THEN 'near_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM sem_drop) THEN 'sem_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM quota_drop) THEN 'over_quota'
        |              ELSE 'kept' END AS decision
        |  FROM (SELECT * FROM documents WHERE doc_id >= 75) d LEFT JOIN cleaned c USING (doc_id))
        |SELECT doc_id, source, decision, removed_tokens,
        |       CASE WHEN decision = 'kept' THEN kept_tokens END AS n_tokens,
        |       CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5
        |FROM ann ORDER BY doc_id""".stripMargin,

    // q126 note: the oracle above is the q112 chain with the
    // contamination CTEs (13-gram membership + 0.4-cosine paraphrase
    // grain vs the doc_id < 75 eval slice) patched between s1 and the
    // span stage - derived programmatically from the q112 oracle text
    // with anchor asserts

    "q122_curate_quality" ->
      """WITH norm AS (
        |  SELECT doc_id, source, text,
        |         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |exact_drop AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM norm) WHERE rn > 1),
        |s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |         FROM s1 WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |cutset AS (SELECT DISTINCT doc_id,
        |                  unnest(range(b_start, b_start + span_tokens)) AS cut
        |           FROM spans WHERE span_tokens >= 20),
        |tok AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM toks),
        |keptt AS (SELECT tok.doc_id, tok.pos, tok.w
        |          FROM tok LEFT JOIN cutset
        |            ON tok.doc_id = cutset.doc_id AND tok.pos = cutset.cut
        |          WHERE cutset.cut IS NULL),
        |cleaned AS (SELECT toks.doc_id,
        |                   CAST(count(keptt.pos) AS BIGINT) AS kept_tokens,
        |                   CAST(len(any_value(toks.t)) - count(keptt.pos) AS BIGINT) AS removed_tokens,
        |                   coalesce(string_agg(keptt.w, ' ' ORDER BY keptt.pos), '') AS cleaned_text
        |            FROM toks LEFT JOIN keptt ON toks.doc_id = keptt.doc_id
        |            GROUP BY toks.doc_id),
        |s2 AS (SELECT * FROM cleaned WHERE kept_tokens > 0),
        |tnorm AS (SELECT doc_id, lang,
        |                 lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |          FROM documents WHERE trim(text) <> ''),
        |ttok AS (SELECT doc_id, lang, string_split(t, ' ') AS w FROM tnorm),
        |tfe AS (SELECT doc_id, lang, unnest(w) AS g FROM ttok
        |        UNION ALL
        |        SELECT doc_id, lang,
        |               unnest(list_transform(range(len(w) - 1),
        |                      i -> w[i + 1] || ' ' || w[i + 2])) AS g
        |        FROM ttok WHERE len(w) >= 2),
        |tbk AS (SELECT doc_id, lang,
        |               ('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096 AS b FROM tfe),
        |sc AS (SELECT b, count(*) AS c FROM tbk
        |       WHERE lang = 'en' AND doc_id % 4 = 0 GROUP BY b),
        |rc AS (SELECT b, count(*) AS c FROM tbk WHERE doc_id % 4 = 1 GROUP BY b),
        |sdn AS (SELECT CAST(coalesce(sum(c), 0) + 4096 AS DOUBLE) AS d FROM sc),
        |rdn AS (SELECT CAST(coalesce(sum(c), 0) + 4096 AS DOUBLE) AS d FROM rc),
        |pri AS (SELECT CAST(floor(ln(
        |          CAST((SELECT count(*) FROM tnorm WHERE lang = 'en' AND doc_id % 4 = 0) AS DOUBLE) /
        |          (SELECT count(*) FROM tnorm WHERE doc_id % 4 = 1)) * 1000000) AS BIGINT) AS p),
        |cw AS (SELECT doc_id,
        |              string_split(lower(regexp_replace(trim(cleaned_text), '\s+', ' ', 'g')), ' ') AS w
        |       FROM s2),
        |cfe AS (SELECT doc_id, unnest(w) AS g FROM cw
        |        UNION ALL
        |        SELECT doc_id,
        |               unnest(list_transform(range(len(w) - 1),
        |                      i -> w[i + 1] || ' ' || w[i + 2])) AS g
        |        FROM cw WHERE len(w) >= 2),
        |cbk AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096 AS b FROM cfe),
        |lrm AS (SELECT ab.b,
        |               CAST(floor((ln((coalesce(sc.c, 0) + 1.0) / sdn.d) -
        |                           ln((coalesce(rc.c, 0) + 1.0) / rdn.d)) * 1000000) AS BIGINT) AS lr_u
        |        FROM (SELECT b FROM tbk UNION SELECT b FROM cbk) ab
        |        CROSS JOIN sdn CROSS JOIN rdn
        |        LEFT JOIN sc ON ab.b = sc.b LEFT JOIN rc ON ab.b = rc.b),
        |qsc AS (SELECT cbk.doc_id, pri.p + sum(lrm.lr_u) AS sc2
        |        FROM cbk JOIN lrm ON cbk.b = lrm.b CROSS JOIN pri
        |        GROUP BY cbk.doc_id, pri.p),
        |qual_drop AS (SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY sc2, doc_id) AS rn,
        |           count(*) OVER () AS nq FROM qsc)
        |    WHERE rn <= floor(0.2 * nq)),
        |s2q AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM qual_drop)),
        |ctoks AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2q),
        |csh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM ctoks),
        |csz AS (SELECT doc_id, len(s) AS n FROM csh),
        |cun AS (SELECT doc_id, unnest(s) AS g FROM csh),
        |ncand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |          FROM cun a JOIN cun b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |npairs AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) AS j
        |  FROM ncand c JOIN csz sa ON sa.doc_id = c.doc_a
        |               JOIN csz sb ON sb.doc_id = c.doc_b),
        |near_drop AS (SELECT DISTINCT doc_b AS doc_id FROM npairs WHERE j >= 0.9),
        |s3 AS (SELECT * FROM s2q WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE vec_id IN (SELECT doc_id FROM s3)),
        |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM e ORDER BY vec_id LIMIT 8),
        |ka1 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, k0 c),
        |ks1 AS (SELECT vec_id, v, cl FROM ka1 WHERE rn = 1),
        |kc1 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks1, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka2 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc1 c),
        |ks2 AS (SELECT vec_id, v, cl FROM ka2 WHERE rn = 1),
        |kc2 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks2, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka3 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc2 c),
        |ks3 AS (SELECT vec_id, v, cl FROM ka3 WHERE rn = 1),
        |sem_drop AS (SELECT s.vec_id AS doc_id FROM ks3 s
        |             WHERE EXISTS (SELECT 1 FROM ks3 a
        |                           WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                             AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)),
        |qt AS (SELECT s4.doc_id, d.source, s4.kept_tokens AS n_tokens,
        |              md5(CAST(s4.doc_id AS VARCHAR)) AS key
        |       FROM s4 JOIN documents d USING (doc_id)),
        |qw AS (SELECT doc_id, n_tokens,
        |              sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS cum,
        |              row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
        |       FROM qt),
        |quota_drop AS (SELECT doc_id FROM qw WHERE NOT (cum <= 700 OR rn = 1)),
        |ann AS (
        |  SELECT d.doc_id, d.source, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN d.doc_id IN (SELECT doc_id FROM qual_drop) THEN 'low_quality'
        |              WHEN d.doc_id IN (SELECT doc_id FROM near_drop) THEN 'near_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM sem_drop) THEN 'sem_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM quota_drop) THEN 'over_quota'
        |              ELSE 'kept' END AS decision
        |  FROM documents d LEFT JOIN cleaned c USING (doc_id))
        |SELECT doc_id, source, decision, removed_tokens,
        |       CASE WHEN decision = 'kept' THEN kept_tokens END AS n_tokens,
        |       CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5
        |FROM ann ORDER BY doc_id""".stripMargin,

    // q112's chained stage oracle + the media gate: bad ids are the
    // closed-form fixture classes (even id AND id%7 in (3,5,6)),
    // excised between exact dedup and the span stage exactly as the
    // Spark pipeline does (gram stats see only media-clean docs)
    "q121_curate_multimodal" ->
      """WITH norm AS (
        |  SELECT doc_id, source, text,
        |         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |exact_drop AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM norm) WHERE rn > 1),
        |s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
        |s1m AS (SELECT * FROM s1 WHERE NOT (doc_id % 2 = 0 AND doc_id % 7 IN (3, 5, 6))),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |         FROM s1m WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |cutset AS (SELECT DISTINCT doc_id,
        |                  unnest(range(b_start, b_start + span_tokens)) AS cut
        |           FROM spans WHERE span_tokens >= 20),
        |tok AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM toks),
        |keptt AS (SELECT tok.doc_id, tok.pos, tok.w
        |          FROM tok LEFT JOIN cutset
        |            ON tok.doc_id = cutset.doc_id AND tok.pos = cutset.cut
        |          WHERE cutset.cut IS NULL),
        |cleaned AS (SELECT toks.doc_id,
        |                   CAST(count(keptt.pos) AS BIGINT) AS kept_tokens,
        |                   CAST(len(any_value(toks.t)) - count(keptt.pos) AS BIGINT) AS removed_tokens,
        |                   coalesce(string_agg(keptt.w, ' ' ORDER BY keptt.pos), '') AS cleaned_text
        |            FROM toks LEFT JOIN keptt ON toks.doc_id = keptt.doc_id
        |            GROUP BY toks.doc_id),
        |s2 AS (SELECT * FROM cleaned WHERE kept_tokens > 0),
        |ctoks AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2),
        |csh AS (SELECT doc_id,
        |               CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                      i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |        FROM ctoks),
        |csz AS (SELECT doc_id, len(s) AS n FROM csh),
        |cun AS (SELECT doc_id, unnest(s) AS g FROM csh),
        |ncand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |          FROM cun a JOIN cun b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |npairs AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) AS j
        |  FROM ncand c JOIN csz sa ON sa.doc_id = c.doc_a
        |               JOIN csz sb ON sb.doc_id = c.doc_b),
        |near_drop AS (SELECT DISTINCT doc_b AS doc_id FROM npairs WHERE j >= 0.9),
        |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE vec_id IN (SELECT doc_id FROM s3)),
        |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM e ORDER BY vec_id LIMIT 8),
        |ka1 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, k0 c),
        |ks1 AS (SELECT vec_id, v, cl FROM ka1 WHERE rn = 1),
        |kc1 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks1, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka2 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc1 c),
        |ks2 AS (SELECT vec_id, v, cl FROM ka2 WHERE rn = 1),
        |kc2 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks2, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka3 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc2 c),
        |ks3 AS (SELECT vec_id, v, cl FROM ka3 WHERE rn = 1),
        |sem_drop AS (SELECT s.vec_id AS doc_id FROM ks3 s
        |             WHERE EXISTS (SELECT 1 FROM ks3 a
        |                           WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                             AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)),
        |qt AS (SELECT s4.doc_id, d.source, s4.kept_tokens AS n_tokens,
        |              md5(CAST(s4.doc_id AS VARCHAR)) AS key
        |       FROM s4 JOIN documents d USING (doc_id)),
        |qw AS (SELECT doc_id, n_tokens,
        |              sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS cum,
        |              row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
        |       FROM qt),
        |quota_drop AS (SELECT doc_id FROM qw WHERE NOT (cum <= 700 OR rn = 1)),
        |ann AS (
        |  SELECT d.doc_id, d.source, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'
        |              WHEN d.doc_id % 2 = 0 AND d.doc_id % 7 IN (3, 5, 6) THEN 'bad_media'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN d.doc_id IN (SELECT doc_id FROM near_drop) THEN 'near_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM sem_drop) THEN 'sem_dup'
        |              WHEN d.doc_id IN (SELECT doc_id FROM quota_drop) THEN 'over_quota'
        |              ELSE 'kept' END AS decision
        |  FROM documents d LEFT JOIN cleaned c USING (doc_id))
        |SELECT doc_id, source, decision, removed_tokens,
        |       CASE WHEN decision = 'kept' THEN kept_tokens END AS n_tokens,
        |       CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5
        |FROM ann ORDER BY doc_id""".stripMargin,

    // q83's trigram-LM oracle + exact tercile thresholds (k-th smallest
    // by (score, doc_id) - nbScoreQuantile/rankByScore's contract) and
    // value-based bucket assignment
    "q124_perplexity_buckets" ->
      """WITH norm AS (SELECT doc_id, lang,
        |                     lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |              FROM documents),
        |ref_tri AS (SELECT substr(t, CAST(i AS INT), 3) AS tri
        |            FROM norm, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)
        |            WHERE lang = 'en'),
        |model AS (SELECT tri, count(*) AS c FROM ref_tri GROUP BY tri),
        |stats AS (SELECT CAST(sum(c) + count(*) + 1 AS DOUBLE) AS denom FROM model),
        |doc_tri AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri
        |            FROM norm, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)),
        |scored AS (SELECT d.doc_id,
        |                  coalesce(ln((m.c + 1.0) / s.denom), ln(1.0 / s.denom)) AS lp
        |           FROM doc_tri d CROSS JOIN stats s LEFT JOIN model m USING (tri)),
        |sc AS (SELECT doc_id, count(*) AS n_tri,
        |              CAST(floor(-avg(lp) * 1000000) AS BIGINT) AS lm_score_u
        |       FROM scored GROUP BY doc_id),
        |rk AS (SELECT doc_id, lm_score_u,
        |              row_number() OVER (ORDER BY lm_score_u, doc_id) AS rn,
        |              count(*) OVER () AS n
        |       FROM sc),
        |ks AS (SELECT greatest(1, CAST(floor(n / 3.0) AS BIGINT)) AS k1,
        |              greatest(greatest(1, CAST(floor(n / 3.0) AS BIGINT)),
        |                       n - CAST(floor(n / 3.0) AS BIGINT)) AS k2
        |       FROM rk LIMIT 1),
        |t1 AS (SELECT lm_score_u AS v FROM rk, ks WHERE rk.rn = ks.k1),
        |t2 AS (SELECT lm_score_u AS v FROM rk, ks WHERE rk.rn = ks.k2)
        |SELECT sc.doc_id, sc.n_tri, sc.lm_score_u,
        |       CASE WHEN sc.lm_score_u <= t1.v THEN 'head'
        |            WHEN sc.lm_score_u <= t2.v THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN t1 CROSS JOIN t2 ORDER BY sc.doc_id""".stripMargin,
  )
  // q131 = q121's oracle with the media-gate predicate widened to both
  // modality arms: even ids carry the image fixture, odd ids the VIDEO
  // fixture (real MP4 containers), and both use the same id%7 bad
  // classes - so the combined bad_media set is simply id%7 IN (3,5,6).
  // Derived from the q121 text with anchor asserts (the q126 pattern),
  // so the two stay in lockstep if the base chain evolves.
  val q121 = base("q121_curate_multimodal")
  val gateA = "s1m AS (SELECT * FROM s1 WHERE NOT (doc_id % 2 = 0 AND doc_id % 7 IN (3, 5, 6)))"
  val gateB = "s1m AS (SELECT * FROM s1 WHERE NOT (doc_id % 7 IN (3, 5, 6)))"
  val annA = "WHEN d.doc_id % 2 = 0 AND d.doc_id % 7 IN (3, 5, 6) THEN 'bad_media'"
  val annB = "WHEN d.doc_id % 7 IN (3, 5, 6) THEN 'bad_media'"
  require(q121.contains(gateA) && q121.contains(annA),
    "q121 oracle anchors drifted - update the q131 derivation")
  val q131 = q121.replace(gateA, gateB).replace(annA, annB)
  // q132 widens q131's predicate once more with the audio arm: clips
  // ride id%3==0 docs with id%11 bad classes (corrupt 4 / silent 7 /
  // zero-sample 9), independent of the image/video id%7 classes.
  val gateC = "s1m AS (SELECT * FROM s1 WHERE NOT (doc_id % 7 IN (3, 5, 6) " +
    "OR (doc_id % 3 = 0 AND doc_id % 11 IN (4, 7, 9))))"
  val annC = "WHEN d.doc_id % 7 IN (3, 5, 6) " +
    "OR (d.doc_id % 3 = 0 AND d.doc_id % 11 IN (4, 7, 9)) THEN 'bad_media'"
  // q133 = q115's oracle with the same combined video+audio predicate
  // gating the admitted batch (odd ids) between the exact stage and
  // everything downstream, plus the bad_media decision branch.
  val q115 = base("q115_curate_incremental")
  val incGateA = "s1 AS (SELECT * FROM bat WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),"
  val incGateB = "s1x AS (SELECT * FROM bat WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),\n" +
    "s1 AS (SELECT * FROM s1x WHERE NOT (doc_id % 7 IN (3, 5, 6) " +
    "OR (doc_id % 3 = 0 AND doc_id % 11 IN (4, 7, 9)))),"
  val incAnnA = "WHEN b.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'"
  val incAnnB = incAnnA + "\n              WHEN b.doc_id % 7 IN (3, 5, 6) " +
    "OR (b.doc_id % 3 = 0 AND b.doc_id % 11 IN (4, 7, 9)) THEN 'bad_media'"
  require(q115.contains(incGateA) && q115.contains(incAnnA),
    "q115 oracle anchors drifted - update the q133 derivation")
  // q155 = q115's oracle + the incremental perceptual-dedup stage: the
  // class-1 in-play batch docs (<40) drop against the class-1 history
  // assets, the class-3 ones keep only their min in-play id (the
  // batch-mate rule); both CTEs derive from s1 so exact-dup interplay
  // is exact. Anchor-asserted (the q133 pattern).
  val incToksA = "UNION ALL SELECT doc_id, text FROM s1)"
  require(q115.contains(incGateA) && q115.contains(incToksA) &&
    q115.contains(incAnnA),
    "q115 oracle anchors drifted - update the q155 derivation")
  val q155 = q115
    .replace(incGateA, incGateA + """
      |pdh AS (SELECT doc_id FROM s1 WHERE doc_id < 40 AND doc_id % 4 = 1),
      |pk3 AS (SELECT min(doc_id) AS keeper FROM s1
      |        WHERE doc_id < 40 AND doc_id % 4 = 3),
      |pdup_drop AS (SELECT doc_id FROM pdh
      |              UNION
      |              SELECT s1.doc_id FROM s1, pk3
      |              WHERE s1.doc_id < 40 AND s1.doc_id % 4 = 3
      |                AND s1.doc_id <> pk3.keeper),
      |s1pd AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM pdup_drop)),""".stripMargin)
    .replace(incToksA, "UNION ALL SELECT doc_id, text FROM s1pd)")
    .replace(incAnnA, incAnnA +
      "\n              WHEN b.doc_id IN (SELECT doc_id FROM pdup_drop) THEN 'media_dup'")
  // q159 = q115's oracle + ALL THREE incremental perceptual arms (the
  // q155 patch widened): image/audio class-1 batch docs drop via the
  // history cross join (history assets carry pattern class 1 only,
  // idShift=1), class-3 via the batch-mate min-id rule; batch videos
  // drop when their id%7 residue matches a history video's
  // ({80,84,88,92} → residues {3,0,4,1}) or a smaller in-play odd
  // mate's. All CTEs derive from s1 so exact-dup interplay is exact.
  val q159 = q115
    .replace(incGateA, incGateA + """
      |pdh AS (SELECT doc_id FROM s1 WHERE doc_id < 40 AND doc_id % 4 = 1),
      |pk3 AS (SELECT min(doc_id) AS keeper FROM s1
      |        WHERE doc_id < 40 AND doc_id % 4 = 3),
      |adh AS (SELECT doc_id FROM s1
      |        WHERE doc_id >= 40 AND doc_id < 80 AND doc_id % 4 = 1),
      |ak3 AS (SELECT min(doc_id) AS keeper FROM s1
      |        WHERE doc_id >= 40 AND doc_id < 80 AND doc_id % 4 = 3),
      |vda AS (SELECT doc_id, doc_id % 7 AS r FROM s1
      |        WHERE doc_id >= 80 AND doc_id < 108),
      |vdh AS (SELECT DISTINCT doc_id % 7 AS r FROM documents
      |        WHERE doc_id % 4 = 0 AND doc_id >= 80 AND doc_id < 96),
      |pdup_drop AS (SELECT doc_id FROM pdh
      |              UNION
      |              SELECT s1.doc_id FROM s1, pk3
      |              WHERE s1.doc_id < 40 AND s1.doc_id % 4 = 3
      |                AND s1.doc_id <> pk3.keeper
      |              UNION
      |              SELECT doc_id FROM adh
      |              UNION
      |              SELECT s1.doc_id FROM s1, ak3
      |              WHERE s1.doc_id >= 40 AND s1.doc_id < 80
      |                AND s1.doc_id % 4 = 3 AND s1.doc_id <> ak3.keeper
      |              UNION
      |              SELECT vda.doc_id FROM vda WHERE vda.r IN (SELECT r FROM vdh)
      |              UNION
      |              SELECT a.doc_id FROM vda a
      |              JOIN vda b ON a.r = b.r AND b.doc_id < a.doc_id),
      |s1pd AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM pdup_drop)),""".stripMargin)
    .replace(incToksA, "UNION ALL SELECT doc_id, text FROM s1pd)")
    .replace(incAnnA, incAnnA +
      "\n              WHEN b.doc_id IN (SELECT doc_id FROM pdup_drop) THEN 'media_dup'")
  // The trained-lang-gate CTE block (q157/q160 derivations): the q156
  // multiclass model re-derived inline — `trainPred` selects the labeled
  // training slice (full-corpus doc_id%4=0 for the batch pipeline, the
  // history parity for the incremental snapshot artifact) — scoring only
  // the IN-PLAY docs (members of s1), predictions outside the allow list
  // dropping as wrong_lang. CTE names are l-prefixed to stay disjoint
  // from every base-chain name.
  def langBlock(trainPred: String): String = s"""
    |lnorm AS (SELECT doc_id, lang,
    |                 lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS lt
    |          FROM documents),
    |ltri AS (SELECT doc_id, lang, substr(lt, CAST(i AS INT), 3) AS tri
    |         FROM lnorm, UNNEST(range(1, greatest(length(lt) - 1, 1))) AS u(i)),
    |lbk AS (SELECT doc_id, lang,
    |               ('0x' || substr(md5(tri), 1, 8))::UBIGINT % 1024 AS b
    |        FROM ltri),
    |ltr AS (SELECT * FROM lbk WHERE $trainPred),
    |lcc AS (SELECT lang, b, count(*) AS c FROM ltr GROUP BY lang, b),
    |ldn AS (SELECT lang, CAST(sum(c) + 1024 AS DOUBLE) AS d FROM lcc GROUP BY lang),
    |lnd AS (SELECT lang, count(DISTINCT doc_id) AS n FROM ltr GROUP BY lang),
    |lnt AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM lnd),
    |lpr AS (SELECT lnd.lang,
    |               CAST(floor(ln(CAST(lnd.n AS DOUBLE) / lnt.tot) * 1000000) AS BIGINT) AS p
    |        FROM lnd CROSS JOIN lnt),
    |llrm AS (SELECT l.lang, ab.b,
    |                CAST(floor(ln((coalesce(lcc.c, 0) + 1.0) / ldn.d) * 1000000) AS BIGINT) AS lp
    |         FROM (SELECT DISTINCT b FROM lbk) ab
    |         CROSS JOIN (SELECT lang FROM lnd) l
    |         JOIN ldn ON ldn.lang = l.lang
    |         LEFT JOIN lcc ON lcc.lang = l.lang AND lcc.b = ab.b),
    |lsc AS (SELECT lbk.doc_id, llrm.lang, lpr.p + sum(llrm.lp) AS s
    |        FROM lbk JOIN llrm ON lbk.b = llrm.b
    |        JOIN lpr ON lpr.lang = llrm.lang
    |        WHERE lbk.doc_id IN (SELECT doc_id FROM s1)
    |        GROUP BY lbk.doc_id, llrm.lang, lpr.p),
    |lpick AS (SELECT doc_id, lang,
    |                 row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS rn
    |          FROM lsc),
    |lang_drop AS (SELECT doc_id FROM lpick WHERE rn = 1 AND lang <> 'en'),
    |s1lg AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM lang_drop)),""".stripMargin
  // q157 = q112's oracle + the trained lang gate patched in between the
  // exact stage and everything downstream (anchor-asserted, the q150
  // pattern); q160 = the same over q115's batch chain with the
  // history-fit snapshot model.
  val q157 = {
    val q112 = base("q112_curate_full")
    val s1Anchor = "s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),"
    val toksAnchor = "FROM s1 WHERE trim(text) <> ''"
    val caseAnchor = "WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'"
    require(q112.contains(s1Anchor) && q112.contains(toksAnchor) &&
      q112.contains(caseAnchor),
      "q112 oracle anchors drifted - update the q157 derivation")
    q112
      .replace(s1Anchor, s1Anchor + langBlock("doc_id % 4 = 0"))
      .replace(toksAnchor, "FROM s1lg WHERE trim(text) <> ''")
      .replace(caseAnchor, caseAnchor +
        "\n              WHEN d.doc_id IN (SELECT doc_id FROM lang_drop) THEN 'wrong_lang'")
  }
  val q160 = q115
    .replace(incGateA, incGateA + langBlock("doc_id % 2 = 0"))
    .replace(incToksA, "UNION ALL SELECT doc_id, text FROM s1lg)")
    .replace(incAnnA, incAnnA +
      "\n              WHEN b.doc_id IN (SELECT doc_id FROM lang_drop) THEN 'wrong_lang'")
  // The Gopher/C4 rule-gate CTE block (q163/q164 derivations): the q162
  // rule set re-derived over RAW text of the in-play docs (`src` is the
  // exact-stage survivor CTE in either chain). Entry params minStopHits=1
  // and minTermLines=0 (the latter's conjunct is identically true and
  // omitted); every other threshold the published default, all forced to
  // DOUBLE so both engines run the same IEEE multiply at the boundaries.
  // CTE names are r-prefixed to stay disjoint from every base-chain name.
  def ruleBlock(src: String): String = s"""
    |rtk AS (SELECT doc_id,
    |        CASE WHEN trim(text) = '' THEN []::VARCHAR[]
    |             ELSE string_split_regex(trim(text), '\\s+') END AS tk,
    |        list_filter(list_transform(string_split(text, chr(10)),
    |                                   l -> trim(l)),
    |                    l -> l <> '') AS lns,
    |        text AS rtx
    |        FROM $src),
    |rsc AS (SELECT doc_id,
    |        CAST(len(tk) AS BIGINT) AS rn,
    |        coalesce(list_aggregate(list_transform(tk, t -> length(t)), 'sum'), 0) AS rnc,
    |        len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) AS rna,
    |        len(list_intersect(list_distinct(tk),
    |            ['the','be','to','of','and','that','have','with'])) AS rns,
    |        (length(rtx) - length(replace(rtx, '#', ''))) +
    |        (length(rtx) - length(replace(rtx, '…', ''))) +
    |        (length(rtx) - length(replace(rtx, '...', ''))) / 3 AS rsym,
    |        len(lns) AS rnl,
    |        len(list_filter(lns, l -> l[1] IN ('-', '*', '•'))) AS rbul,
    |        len(list_filter(lns, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS rell,
    |        len(lns) - len(list_distinct(lns)) AS rdup,
    |        contains(lower(rtx), 'lorem ipsum') AS rlor,
    |        contains(rtx, '{') AS rbra
    |        FROM rtk),
    |rule_drop AS (SELECT doc_id FROM rsc WHERE NOT (
    |        rn BETWEEN 50 AND 100000
    |        AND rn > 0 AND rnc >= 3.0::DOUBLE * rn AND rnc <= 10.0::DOUBLE * rn
    |        AND rsym <= 0.1::DOUBLE * rn
    |        AND rbul <= 0.9::DOUBLE * rnl
    |        AND rell <= 0.3::DOUBLE * rnl
    |        AND rna >= 0.8::DOUBLE * rn
    |        AND rns >= 1
    |        AND rdup <= 0.3::DOUBLE * rnl
    |        AND NOT rlor AND NOT rbra)),
    |s1rl AS (SELECT * FROM $src WHERE doc_id NOT IN (SELECT doc_id FROM rule_drop)),""".stripMargin
  /** [[ruleBlock]] + the nine-signal Gopher §A1.1 repetition tier
    * (q168, r20 verdict #4): the SAME core block with the gram/tokpos
    * CTEs spliced between `rsc` and `rule_drop` and the nine fraction
    * conjuncts appended — derived from ruleBlock's TEXT with anchor
    * asserts so the two stay in lockstep. Gram identity, position
    * coverage, char-fraction arithmetic, and thresholds replicate the
    * q162 extended oracle (hash-exact at sf0.01 AND sf0.1), with grams
    * over the EMPTY-FILTERED token list `rft` (the q162 discipline) and
    * denominators the unfiltered summed token chars `rnc` (empties add
    * zero chars, so the two lists agree). */
  def ruleBlockRep(src: String): String = {
    val base0 = ruleBlock(src)
    val tkAnchor = "END AS tk,"
    val rscEndAnchor = "        FROM rtk),"
    val dropAnchor = "rule_drop AS (SELECT doc_id FROM rsc WHERE NOT ("
    val endAnchor = "AND NOT rlor AND NOT rbra)),"
    require(base0.contains(tkAnchor) && base0.contains(rscEndAnchor) &&
      base0.contains(dropAnchor) && base0.contains(endAnchor),
      "ruleBlock anchors drifted - update the ruleBlockRep derivation")
    val thr = Seq(2 -> "0.20", 3 -> "0.18", 4 -> "0.16", 5 -> "0.15",
      6 -> "0.14", 7 -> "0.13", 8 -> "0.12", 9 -> "0.11", 10 -> "0.10")
    val perN = thr.map(_._1).map { n =>
      val gram = s"""
        |rpg$n AS (SELECT doc_id, i AS s, array_to_string(rft[i:i+${n - 1}], ' ') AS g
        |          FROM rtk, UNNEST(range(1, len(rft) - $n + 2)) AS rpu$n(i)
        |          WHERE len(rft) >= $n),""".stripMargin
      val agg =
        if (n <= 4) s"""
          |rpt$n AS (SELECT doc_id, max(c * gc) AS best FROM (
          |            SELECT doc_id, g, count(*) AS c, length(g) - ${n - 1} AS gc
          |            FROM rpg$n GROUP BY doc_id, g) GROUP BY doc_id),""".stripMargin
        else s"""
          |rpd$n AS (SELECT doc_id, g FROM rpg$n GROUP BY doc_id, g HAVING count(*) >= 2),
          |rpc$n AS (SELECT DISTINCT rpg$n.doc_id AS doc_id, v.p AS p
          |          FROM rpg$n JOIN rpd$n USING (doc_id, g),
          |               UNNEST(range(rpg$n.s, rpg$n.s + $n)) AS v(p)),
          |rpf$n AS (SELECT rpc$n.doc_id, sum(length(rtp.tok)) AS cov
          |          FROM rpc$n JOIN rtp ON rtp.doc_id = rpc$n.doc_id AND rtp.p = rpc$n.p
          |          GROUP BY rpc$n.doc_id),""".stripMargin
      gram + agg
    }.mkString
    val fracDefs = thr.map { case (n, _) =>
      val src0 = if (n <= 4) s"rpt$n.best" else s"rpf$n.cov"
      s"""
        |        CASE WHEN rnc > 0 THEN coalesce($src0, 0)::DOUBLE / rnc
        |             ELSE 0.0 END AS rf$n,""".stripMargin
    }.mkString.dropRight(1)
    val fracJoins = thr.map { case (n, _) =>
      val t = if (n <= 4) s"rpt$n" else s"rpf$n"
      s" LEFT JOIN $t USING (doc_id)"
    }.mkString
    val repCtes = s"""
      |rtp AS (SELECT doc_id, i AS p, rft[i] AS tok
      |        FROM rtk, UNNEST(range(1, len(rft) + 1)) AS rpu0(i)),""".stripMargin +
      perN + s"""
      |rrj AS (SELECT rsc.*,""".stripMargin + fracDefs + s"""
      |        FROM rsc$fracJoins),
      |""".stripMargin
    val repConjs = thr.map { case (n, t) =>
      s"""
        |        AND rf$n <= $t::DOUBLE""".stripMargin
    }.mkString
    base0
      .replace(tkAnchor, tkAnchor +
        "\n        list_filter(tk, t -> t <> '') AS rft,")
      .replace(dropAnchor,
        repCtes.stripPrefix("\n") + "\n" +
        "rule_drop AS (SELECT doc_id FROM rrj WHERE NOT (")
      .replace(endAnchor, "AND NOT rlor AND NOT rbra" + repConjs + ")),")
  }
  // q163 = q112's oracle + the rule gate patched in between the exact
  // stage and everything downstream (the q157 pattern); q164 = the same
  // over q115's batch chain.
  val q163 = {
    val q112 = base("q112_curate_full")
    val s1Anchor = "s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),"
    val toksAnchor = "FROM s1 WHERE trim(text) <> ''"
    val caseAnchor = "WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'"
    require(q112.contains(s1Anchor) && q112.contains(toksAnchor) &&
      q112.contains(caseAnchor),
      "q112 oracle anchors drifted - update the q163 derivation")
    q112
      .replace(s1Anchor, s1Anchor + ruleBlock("s1"))
      .replace(toksAnchor, "FROM s1rl WHERE trim(text) <> ''")
      .replace(caseAnchor, caseAnchor +
        "\n              WHEN d.doc_id IN (SELECT doc_id FROM rule_drop) THEN 'rule_filtered'")
  }
  val q164 = q115
    .replace(incGateA, incGateA + ruleBlock("s1"))
    .replace(incToksA, "UNION ALL SELECT doc_id, text FROM s1rl)")
    .replace(incAnnA, incAnnA +
      "\n              WHEN b.doc_id IN (SELECT doc_id FROM rule_drop) THEN 'rule_filtered'")
  // q168 = q163's derivation with the FULL 20-rule gate (the repetition
  // tier spliced into the rule block) over the repetition-INJECTED
  // corpus (rdoc mirrors the entry's closed-form " buy now"×30 tail on
  // id%13==0 docs, the q166 source-swap pattern); q163/q167 stay
  // tier-off, so the tier's pipeline composition is pinned independently
  // (r19 verdict #4) and the injection makes it discriminate.
  val q168 = {
    val q112 = base("q112_curate_full")
    val withAnchor = "WITH norm AS ("
    val fromAnchor = "  FROM documents),"
    val s1Anchor = "s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),"
    val toksAnchor = "FROM s1 WHERE trim(text) <> ''"
    val caseAnchor = "WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'"
    require(q112.contains(withAnchor) && q112.contains(fromAnchor) &&
      q112.contains(s1Anchor) && q112.contains(toksAnchor) &&
      q112.contains(caseAnchor),
      "q112 oracle anchors drifted - update the q168 derivation")
    q112
      // norm's source swap FIRST (the q166 discipline): the rdoc CTE
      // inserted below carries its own "FROM documents)," line that
      // must stay untouched
      .replace(fromAnchor, "  FROM rdoc),")
      .replace(withAnchor, """WITH rdoc AS (
        |  SELECT doc_id, source,
        |         text ||
        |         (CASE WHEN doc_id % 13 = 0 THEN repeat(' buy now', 30) ELSE '' END) AS text
        |  FROM documents),
        |norm AS (""".stripMargin)
      .replace(s1Anchor, s1Anchor + ruleBlockRep("s1"))
      .replace(toksAnchor, "FROM s1rl WHERE trim(text) <> ''")
      .replace(caseAnchor, caseAnchor +
        "\n              WHEN d.doc_id IN (SELECT doc_id FROM rule_drop) THEN 'rule_filtered'")
  }
  // q166 = q112's oracle over the PII-injected corpus (norm re-sourced
  // to the pdoc CTE; the injection mirrors the entry expression term
  // for term) with final_md5 over the REDACTED cleaned text — the
  // email → IPv4 → phone pass order of Privacy.redact.
  val q166 = {
    val q112 = base("q112_curate_full")
    val withAnchor = "WITH norm AS ("
    val fromAnchor = "  FROM documents),"
    val md5Anchor = "CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5"
    require(q112.contains(withAnchor) && q112.contains(fromAnchor) &&
      q112.contains(md5Anchor),
      "q112 oracle anchors drifted - update the q166 derivation")
    q112
      // norm's source swap FIRST: the pdoc CTE inserted below carries
      // its own "FROM documents)," line that must stay untouched
      .replace(fromAnchor, "  FROM pdoc),")
      .replace(withAnchor, """WITH pdoc AS (
        |  SELECT doc_id, source,
        |         text ||
        |         (CASE WHEN doc_id % 9 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END) ||
        |         (CASE WHEN doc_id % 15 = 0 THEN ' server 10.' || (doc_id % 256) || '.0.1' ELSE '' END) ||
        |         (CASE WHEN doc_id % 21 = 0 THEN ' call +1415555' || (1000 + doc_id % 1000) ELSE '' END) AS text
        |  FROM documents),
        |norm AS (""".stripMargin)
      .replace(md5Anchor,
        """CASE WHEN decision = 'kept' THEN
          |         md5(regexp_replace(regexp_replace(regexp_replace(cleaned_text,
          |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          |           '\+\d{7,15}', '<PHONE>', 'g')) END AS final_md5""".stripMargin)
  }
    // q161 = q112's oracle + the per-domain stage patched in BEFORE the
  // exact stage (see the map assembly comment).
  val q161Sql: String = {
      val q112 = base("q112_curate_full")
      val withAnchor = "WITH norm AS ("
      val fromAnchor = "  FROM documents),"
      val caseAnchor = "CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'"
      require(q112.contains(withAnchor) && q112.contains(fromAnchor) &&
        q112.contains(caseAnchor),
        "q112 oracle anchors drifted - update the q161 derivation")
      q112
        // norm's source filter FIRST: scala's replace hits every
        // occurrence, and the dom CTE inserted below carries its own
        // "FROM documents)," line that must stay unfiltered
        .replace(fromAnchor,
          "  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dom_drop)),")
        .replace(withAnchor, """WITH dom AS (
          |  SELECT doc_id, 'host' || (doc_id % 7) || '.example.com' AS domain,
          |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok,
          |         md5(CAST(doc_id AS VARCHAR)) AS dkey
          |  FROM documents),
          |blocked AS (SELECT doc_id FROM dom WHERE domain = 'host3.example.com'),
          |domq AS (SELECT doc_id,
          |                sum(ntok) OVER (PARTITION BY domain ORDER BY dkey, doc_id) AS cum,
          |                row_number() OVER (PARTITION BY domain ORDER BY dkey, doc_id) AS rn
          |         FROM dom
          |         WHERE doc_id NOT IN (SELECT doc_id FROM blocked) AND ntok >= 1),
          |domq_drop AS (SELECT doc_id FROM domq WHERE NOT (cum <= 900 OR rn = 1)),
          |dom_drop AS (SELECT doc_id FROM blocked
          |             UNION ALL SELECT doc_id FROM domq_drop),
          |norm AS (""".stripMargin)
        .replace(caseAnchor,
          "CASE WHEN d.doc_id IN (SELECT doc_id FROM blocked) THEN 'blocked_domain'\n" +
          "              WHEN d.doc_id IN (SELECT doc_id FROM domq_drop) THEN 'over_domain_quota'\n" +
          "              WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'")
  }
  base +
    ("q155_curate_incremental_media_dup" -> q155) +
    ("q159_curate_incremental_multimodal_dup" -> q159) +
    ("q157_curate_lang" -> q157) +
    ("q160_curate_incremental_lang" -> q160) +
    ("q163_curate_rules" -> q163) +
    ("q164_curate_incremental_rules" -> q164) +
    ("q168_curate_rep_rules" -> q168) +
    ("q166_curate_pii" -> q166) +
    ("q131_curate_multimodal_video" -> q131) +
    ("q132_curate_trimodal" -> q131.replace(gateB, gateC).replace(annB, annC)) +
    ("q133_curate_incremental_media" ->
      q115.replace(incGateA, incGateB).replace(incAnnA, incAnnB)) +
    // q150 = q112's oracle + the perceptual media-dup stage patched in
    // between exact dedup and the text stages: clusters are the fixture
    // equivalence classes over IN-PLAY (exact-surviving) id<40 docs,
    // keeper = brightest (class-2 min id in eqclass 0, min id
    // elsewhere), losers drop as media_dup. Anchor-asserted derivation
    // (the q131/q133 pattern).
    ("q150_curate_media_dup" -> {
      val q112 = base("q112_curate_full")
      val s1Anchor = "s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),"
      val toksAnchor = "FROM s1 WHERE trim(text) <> ''"
      val caseAnchor = "WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'"
      require(q112.contains(s1Anchor) && q112.contains(toksAnchor) &&
        q112.contains(caseAnchor),
        "q112 oracle anchors drifted - update the q150 derivation")
      q112
        .replace(s1Anchor, s1Anchor + """
          |pda AS (SELECT doc_id, CASE WHEN doc_id % 4 = 2 THEN 0 ELSE doc_id % 4 END AS pcls
          |        FROM s1 WHERE doc_id < 40),
          |pkeep AS (SELECT pcls, coalesce(min(doc_id) FILTER (WHERE pcls = 0 AND doc_id % 4 = 2),
          |                                min(doc_id)) AS keeper
          |          FROM pda GROUP BY pcls),
          |pdup_drop AS (SELECT pda.doc_id FROM pda JOIN pkeep USING (pcls)
          |              WHERE pda.doc_id <> pkeep.keeper),
          |s1pd AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM pdup_drop)),""".stripMargin)
        .replace(toksAnchor, "FROM s1pd WHERE trim(text) <> ''")
        .replace(caseAnchor, caseAnchor +
          "\n              WHEN d.doc_id IN (SELECT doc_id FROM pdup_drop) THEN 'media_dup'")
    }) +
    // q158 = q112's oracle + the three-arm perceptual stage patched in
    // between exact dedup and the text stages (the q150 derivation,
    // widened): image clusters on in-play id<40 (brightest keeper —
    // q150's rule), audio envelope classes on in-play 40≤id<80 (min-id
    // keeper: the higher id of every pair drops), video scene classes
    // id%7 on in-play 80≤id<108 (min-id keeper; minFrames=6 pairs only
    // identical sequences). Arms judge the same in-play set; drops
    // union-DISTINCT as media_dup.
    ("q158_curate_multimodal_dup" -> {
      val q112 = base("q112_curate_full")
      val s1Anchor = "s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),"
      val toksAnchor = "FROM s1 WHERE trim(text) <> ''"
      val caseAnchor = "WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'"
      require(q112.contains(s1Anchor) && q112.contains(toksAnchor) &&
        q112.contains(caseAnchor),
        "q112 oracle anchors drifted - update the q158 derivation")
      q112
        .replace(s1Anchor, s1Anchor + """
          |pda AS (SELECT doc_id, CASE WHEN doc_id % 4 = 2 THEN 0 ELSE doc_id % 4 END AS pcls
          |        FROM s1 WHERE doc_id < 40),
          |pkeep AS (SELECT pcls, coalesce(min(doc_id) FILTER (WHERE pcls = 0 AND doc_id % 4 = 2),
          |                                min(doc_id)) AS keeper
          |          FROM pda GROUP BY pcls),
          |idrop AS (SELECT pda.doc_id FROM pda JOIN pkeep USING (pcls)
          |          WHERE pda.doc_id <> pkeep.keeper),
          |ada AS (SELECT doc_id, CASE WHEN doc_id % 4 = 2 THEN 0 ELSE doc_id % 4 END AS acls
          |        FROM s1 WHERE doc_id >= 40 AND doc_id < 80),
          |adrop AS (SELECT a.doc_id FROM ada a
          |          JOIN (SELECT acls, min(doc_id) AS m FROM ada GROUP BY acls) k USING (acls)
          |          WHERE a.doc_id <> k.m),
          |vda AS (SELECT doc_id, doc_id % 7 AS vcls FROM s1
          |        WHERE doc_id >= 80 AND doc_id < 108),
          |vdrop AS (SELECT a.doc_id FROM vda a
          |          JOIN (SELECT vcls, min(doc_id) AS m FROM vda GROUP BY vcls) k USING (vcls)
          |          WHERE a.doc_id <> k.m),
          |pdup_drop AS (SELECT doc_id FROM idrop UNION SELECT doc_id FROM adrop
          |              UNION SELECT doc_id FROM vdrop),
          |s1pd AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM pdup_drop)),""".stripMargin)
        .replace(toksAnchor, "FROM s1pd WHERE trim(text) <> ''")
        .replace(caseAnchor, caseAnchor +
          "\n              WHEN d.doc_id IN (SELECT doc_id FROM pdup_drop) THEN 'media_dup'")
    }) +
    // q149 = q112's oracle VERBATIM: the HTML stage-0 pipeline must land
    // on exactly the clean-text pipeline's result, because extraction
    // over the fixture pages recovers every document's text exactly
    // (all docs clear the 5-word floor and the corpus text is already
    // whitespace-normalized — both facts the q142 oracle pins
    // independently). Any extraction defect — a dropped paragraph,
    // leaked chrome, broken entity — breaks the hash here.
    ("q149_curate_from_html" -> base("q112_curate_full")) +
    // q161 = q112's oracle + the per-domain stage patched in BEFORE the
    // exact stage: domain from the q145 closed-form URL arithmetic,
    // blocklist = host3, then q145's 900-token per-domain running cap
    // (md5-rank order) over the non-blocked pages; the whole downstream
    // chain runs on the domain survivors, and dropped pages get their
    // audit decisions ahead of every other class. Anchor-asserted.
    ("q161_curate_web_domains" -> q161Sql) +
    // q167 = q161's oracle + the rule gate patched in after the exact
    // stage (the q163 block verbatim — rules on the domain survivors'
    // text, which extraction recovers exactly on this fixture).
    ("q167_curate_web_rules" -> {
      val s1Anchor = "s1 AS (SELECT * FROM norm WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),"
      val toksAnchor = "FROM s1 WHERE trim(text) <> ''"
      val caseAnchor = "WHEN d.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'"
      require(q161Sql.contains(s1Anchor) && q161Sql.contains(toksAnchor) &&
        q161Sql.contains(caseAnchor),
        "q161 oracle anchors drifted - update the q167 derivation")
      q161Sql
        .replace(s1Anchor, s1Anchor + ruleBlock("s1"))
        .replace(toksAnchor, "FROM s1rl WHERE trim(text) <> ''")
        .replace(caseAnchor, caseAnchor +
          "\n              WHEN d.doc_id IN (SELECT doc_id FROM rule_drop) THEN 'rule_filtered'")
    })
  }

}
