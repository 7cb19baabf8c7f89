package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text-pipeline queries: tokenization/quality/langid/PII/repetition stats,
  * exact + fuzzy (shingle/minhash/simhash/weighted-Jaccard) dedup, span dedup,
  * decontamination, quotas/sharding, BM25/TF-IDF/entropy, trigram-LM + DSIR.
  *
  * Split from SparkEntry (r15): entries and oracle SQL verbatim, combined
  * by [[SparkEntry.queries]] / [[SparkEntry.oracleSql]]. */
private[graft] trait TextEntries extends EntryInfra {

  protected def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ======================================================================
    // Training-data pipeline operators (beyond-reference; builder prompt)
    // ======================================================================

    // -- text analysis ------------------------------------------------------
    "q30_token_stats" -> qd { spark =>
      import org.apache.spark.sql.functions._
      spark.table("documents")
        .groupBy("source")
        .agg(sum(operators.TextOps.tokenCount(col("text"))).as("total_tokens"),
          max(operators.TextOps.tokenCount(col("text"))).as("max_tokens"))
        .orderBy("source")
    },

    "q31_quality_scores" -> qd { spark =>
      import org.apache.spark.sql.functions._
      spark.table("documents").filter(col("doc_id") < 10)
        .select(col("doc_id"),
          round(operators.TextOps.qualityScore(col("text")), 9).as("quality"),
          operators.TextOps.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    },

    "q32_langid_counts" -> qd { spark =>
      import org.apache.spark.sql.functions._
      spark.table("documents")
        .groupBy(operators.TextOps.langId(col("text")).as("pred_lang"))
        .agg(count("*").as("cnt"))
        .orderBy("pred_lang")
    },

    "q33_fingerprints" -> qd { spark =>
      import org.apache.spark.sql.functions._
      spark.table("documents")
        .agg(countDistinct(operators.TextOps.fingerprint(col("text"))).as("distinct_fps"),
          count("*").as("total"))
    },

    // -- dedup --------------------------------------------------------------
    "q34_dedup_exact" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.DedupOps.exactDedup(spark.table("documents"), "doc_id", "text")
        .agg(count("*").as("survivors"))
    },

    "q35_jaccard_pairs" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      operators.DedupOps.jaccardPairs(spark.table("documents"), "doc_id", "text",
          k = 3, threshold = 0.6, knownHot = sharedHot(spark, dir))
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    "q36_minhash_lsh_pairs" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      operators.DedupOps.minhashLshPairs(spark.table("documents"), "doc_id", "text",
          k = 3, threshold = 0.6, knownHot = sharedHot(spark, dir))
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // SimHash over the engine-portable md5 token hash, so the whole
    // pipeline (tokenize → signature → banded pairs, exact recall by
    // pigeonhole) hash-matches a brute-force ANSI oracle. The xxhash64
    // fast path ([[DedupOps.simhash]]) shares the banding core and is
    // pinned by property tests (native ≡ array-ops formulation).
    "q37_simhash_pairs" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val sigs = operators.DedupOps.simhashSigsPortable(
        spark.table("documents"), "doc_id", "text")
      operators.DedupOps.simhashPairsFromSigs(sigs, maxDist = 3)
        .select(col("doc_a"), col("doc_b"), col("dist").cast("int").as("dist"))
        .orderBy("doc_a", "doc_b")
    },

    // -- end-to-end curation (exact + near dedup + quality + lang) ----------
    "q46_curation" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      operators.Pipeline.curate(spark.table("documents"), "doc_id", "text",
          knownHot = sharedHot(spark, dir),
          knownNearDupPairs = Some(sharedCuratePairs(spark, dir)))
        .groupBy("decision").agg(count("*").as("cnt"))
        .orderBy("decision")
    },

    // -- token-budget shard packing (distributed prefix-sum; shard
    //    assignment identical to a global running sum, computed without
    //    the single-task global window) ------------------------------------
    "q58_token_shards" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.Sharding.tokenShards(spark.table("documents"), "doc_id", "text",
          budget = 2048)
        .groupBy("shard").agg(count(lit(1)).as("docs"), sum("ntok").as("tokens"))
        .orderBy("shard")
    },

    // -- test-set decontamination (k-gram overlap vs a benchmark slice) ----
    "q59_decontaminate" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corp = docs.filter(col("doc_id") % 97 =!= 0)
      val bad = operators.Decontaminate.contaminatedIds(corp, bench, "doc_id", "text", k = 3)
      corp.agg(count(lit(1)).as("corpus_docs"))
        .crossJoin(bad.agg(count(lit(1)).as("contaminated")))
        .select(col("corpus_docs"), col("contaminated"))
    },

    // -- near-dup clustering: connected components over the q35 pair set.
    //    Transitivity matters on this corpus (it contains at least one
    //    A~B~C chain with A!~C), so the oracle is a genuine recursive
    //    closure, not a pair relabeling. --------------------------------
    "q60_dedup_clusters" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      // clusters over the memoized q35 pair evidence (one mining pass per
      // corpus snapshot, shared with q35 — see sharedJaccardPairs); the
      // memoized ≡ fresh parity is pinned in OperatorsSpec
      val pairs = sharedJaccardPairs(spark, dir, k = 3, threshold = 0.6)
      operators.Components.connectedComponents(pairs)
        .select(col("doc"), col("cluster"))
        .orderBy("doc")
    },

    // -- leakage-free train/val/test split (r16): every near-dup
    //    COMPONENT lands in one split, so no 0.6-Jaccard pair straddles
    //    a split boundary - the eval-leakage class a per-doc hash split
    //    cannot rule out. Same pair evidence as q60; split = md5-prefix
    //    bucket of the component label (engine-portable, reproducible
    //    metadata). --------------------------------------------------
    "q128_leakage_free_split" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val pairs = sharedJaccardPairs(spark, dir, k = 3, threshold = 0.6)
      operators.Sharding.leakageFreeSplit(
          spark.table("documents"), pairs, "doc_id")
        .orderBy("doc_id")
    },

    // -- CURRICULUM shard packing (r16): token-budget shards in LM-score
    //    order instead of id order - shard 0 holds the most reference-
    //    like docs (ascending q83 score), the last the least, so a run
    //    consuming shards in order implements a quality curriculum at
    //    shard grain. Same two-level scan, different range key. --------
    "q137_curriculum_shards" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val scores = operators.TextOps.trigramLmScores(
        docs.filter(col("lang") === "en"), docs)
      operators.Sharding.curriculumShards(docs, "doc_id", "text",
          scores, budget = 2000L)
        .orderBy("doc")
    },

    // -- SPLIT-BALANCE profile (r16): the sketch limb auditing the
    //    pipeline limb - per-split doc counts, HLL distinct sources,
    //    and KLL token-length quantiles over the q128 leakage-free
    //    split, all in ONE grouped aggregation pass. Exact regime at
    //    the gate SFs (coupon-mode HLL at 20 sources, k=8192 KLL above
    //    the per-split doc counts), so the DuckDB twin is exact
    //    count-distinct + cume_dist order statistics. ----------------
    "q141_split_profile" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val pairs = sharedJaccardPairs(spark, dir, k = 3, threshold = 0.6)
      val split = operators.Sharding.leakageFreeSplit(
        spark.table("documents"), pairs, "doc_id")
      spark.table("documents")
        .join(split.select("doc_id", "split"), Seq("doc_id"))
        .select(col("split"), col("source"),
          operators.TextOps.tokenCount(col("text")).cast("double").as("ntok"))
        .createOrReplaceTempView("graft_split_docs")
      spark.sql(
        """SELECT split,
          |       count(*) AS n_docs,
          |       CAST(round(datasketch_hll_estimate(datasketch_hll(12, source))) AS BIGINT) AS n_sources,
          |       datasketch_kll_quantile(datasketch_kll(8192, ntok), 0.5, true) AS p50_tokens,
          |       datasketch_kll_quantile(datasketch_kll(8192, ntok), 0.9, true) AS p90_tokens
          |FROM graft_split_docs GROUP BY split ORDER BY split""".stripMargin)
    },

    // -- TRAINING-ORDER materialization (r16, the recipe capstone):
    //    q135's epoch counts exploded into actual copies, interleaved
    //    in a deterministic md5(doc:copy) order (repeated copies of an
    //    up-sampled doc spread across the run), packed into 1000-token
    //    shards by the two-level scan. The end artifact a run reads. --
    "q140_training_order" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val recipe = (0 until 20).map(k => (s"src$k", 1.0 + k % 4))
      operators.Sharding.trainingOrder(spark.table("documents"),
          "source", "doc_id", "text", recipe,
          totalBudget = 50000L, shardBudget = 1000L)
        .orderBy("doc", "copy_idx")
    },

    // -- INCREMENTAL leakage-free split (r16, q128's ingest twin): the
    //    even-id history carries an immutable split (q128's rule over
    //    history-only pairs); odd-id batch docs INHERIT the split of
    //    their near-dup component's min-id history member (their
    //    0.6-Jaccard twin in test pulls them into test), fresh
    //    components get the md5 rule, and components touching TWO
    //    history splits flag bridged = true (unrepairable leakage, a
    //    deployment drops them). Same q35/q60 pair evidence. ---------
    "q139_incremental_split" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val pairs = sharedJaccardPairs(spark, dir, k = 3, threshold = 0.6)
      val histPairs = pairs.filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
      val histSplits = operators.Sharding.leakageFreeSplit(
          docs.filter(col("doc_id") % 2 === 0), histPairs, "doc_id")
        .select(col("doc_id"), col("split"))
      operators.Sharding.incrementalSplit(histSplits,
          docs.filter(col("doc_id") % 2 === 1), pairs, "doc_id")
        .orderBy("doc_id")
    },

    // -- shard MANIFEST (r16): per-shard doc/token counts, id range,
    //    and a content fingerprint (md5 over the ascending id list) -
    //    the artifact a data loader verifies and a rebuild proves
    //    byte-identity against, over the q58 shard assignment. --------
    "q138_shard_manifest" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.Sharding.shardManifest(
          operators.Sharding.tokenShards(spark.table("documents"),
            "doc_id", "text", budget = 2000L))
        .orderBy("shard")
    },

    // -- quality-aware near-dup keep rule (r16): each 0.6-Jaccard
    //    cluster keeps its HIGHEST-NB-SCORE member (min id on ties),
    //    not the min-id default - a near-dup cluster often mixes a
    //    clean original with boilerplate-injected copies, and min-id
    //    keeps whichever crawled first. Same q35/q60 pair evidence,
    //    the q119 classifier's scores. -------------------------------
    "q136_quality_keep_clusters" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val pairs = sharedJaccardPairs(spark, dir, k = 3, threshold = 0.6)
      val scores = operators.TextOps.seedCrawlNbScores(
        docs.filter(col("lang") === "en" && col("doc_id") % 4 === 0),
        docs.filter(col("doc_id") % 4 === 1),
        docs, buckets = 4096)
      operators.DedupOps.qualityKeepClusters(docs, pairs, scores, "doc_id")
        .orderBy("doc_id")
    },

    // -- stratified quota sampling (domain mixing; two-stage salted
    //    ranking — no corpus-sized per-group window task) ------------------
    "q61_quota_sample" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.QuotaSample.stratifiedQuota(
          spark.table("documents"), "source", "doc_id", quota = 10)
        .select(col("source"), col("doc_id"))
        .orderBy("source", "doc_id")
    },

    // -- PII scan + redaction over a deterministically derived contact
    //    corpus (testdata text carries no PII; the derivation is repeated
    //    verbatim in the oracle, so detector AND redactor semantics are
    //    hash-checked, not just counted) ---------------------------------
    "q62_pii_scan" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val text = concat(
        when(col("user_id") % 3 > 0,
          concat(lit("contact user"), col("user_id").cast("string"), lit("@ex"),
            (col("user_id") % 7).cast("string"), lit(".com "))).otherwise(lit("")),
        lit("ip 10."), (col("user_id") % 256).cast("string"), lit("."),
        (col("event_id") % 256).cast("string"), lit(".9"),
        when(col("event_id") % 2 === 0,
          concat(lit(" tel +1555"),
            lpad((col("event_id") % 10000).cast("string"), 7, "0")))
          .otherwise(lit("")))
      val s = operators.Privacy.piiCounts(text)
      val r = operators.Privacy.piiCounts(operators.Privacy.redact(text))
      spark.table("events")
        .select(col("event_type"), s.as("s"), r.as("r"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum("s.emails").as("emails"), sum("s.ips").as("ips"),
          sum("s.phones").as("phones"),
          sum(col("r.emails") + col("r.ips") + col("r.phones")).as("residual"))
        .orderBy("event_type")
    },

    // -- intra-document repetition quality filter (scan-speed, no shuffle
    //    until the per-source rollup; integer counters by design so the
    //    aggregate is exactly oracle-comparable) -------------------------
    "q63_repetition" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val r = operators.QualityFilters.repetitionStats(col("text"))
      spark.table("documents")
        .select(col("source"), r.as("r"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum("r.tokens").as("tokens"),
          sum("r.dup_tokens").as("dup_tokens"),
          sum("r.dup_bigrams").as("dup_bigrams"),
          sum(when(col("r.bigrams") > 0 &&
              col("r.dup_bigrams").cast("double") / col("r.bigrams") > 0.2, 1L)
            .otherwise(0L)).as("flagged"))
        .orderBy("source")
    },

    // -- incremental cross-batch dedup (bloom over history, exact verify;
    //    result ≡ anti-join of the batch against history) ----------------
    "q64_incremental_dedup" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      // the history filter is the persisted per-snapshot one
      // (sharedHistoryBloom, sized 2^17 ≈ 2.6× the sf0.1 history); the
      // candidate filter sizes itself from the batch
      operators.IncrementalDedup.dedupAgainstHistory(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          historyBlob = sharedHistoryBloom(spark, dir))
        .select(col("doc_id"))
        .orderBy("doc_id")
    },

    // -- top boilerplate n-grams via the frequent-items sketch (sketch ×
    //    pipeline composition: one mergeable aggregate replaces the full
    //    gram GROUP BY; exact regime — 16k distinct grams ≪ the lg 18 map
    //    capacity of ~196k, so estimates are exact counts) ---------------
    "q67_boilerplate_ngrams" -> q(
      """SELECT f.item AS gram, f.estimate AS occurrences
        |FROM (SELECT explode(datasketch_frequent_items_get_frequent(
        |               datasketch_frequent_items(18, gram), 'NO_FALSE_NEGATIVES')) AS f
        |      FROM (SELECT explode(graft_word_windows(text, 3)) AS gram
        |            FROM documents))
        |WHERE f.estimate >= 5
        |ORDER BY occurrences DESC, gram""".stripMargin),

    // -- corpus-level duplicated-n-gram profile (Gopher-style shared
    //    boilerplate signal; gram text never shuffles — 64-bit hashes do) -
    "q65_shared_grams" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val st = operators.QualityFilters.sharedGramStats(
        spark.table("documents"), "doc_id", "text", n = 5)
      val src = spark.table("documents").select(col("doc_id"), col("source"))
      st.join(src, st("doc") === src("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum("grams").as("grams"),
          sum("shared_grams").as("shared_grams"),
          sum(when(col("shared_grams") * 2 >= col("grams"), 1L).otherwise(0L))
            .as("flagged"))
        .orderBy("source")
    },

    // -- char-trigram LM quality scoring (CCNet/Gopher-style rare-n-gram
    //    filter): train add-one-smoothed trigram probabilities on the
    //    English slice, score EVERY document by average negative log
    //    probability. The model is a bounded driver pull (≤ charset³
    //    trigrams) re-broadcast as a LocalRelation; scoring is explode →
    //    broadcast join → per-doc aggregate. Scores emit µ-quantized
    //    (floor(score·10⁶)) so the oracle compares integers — last-ulp
    //    ln()/summation-order bits cannot flip the hash. ---------------
    "q83_trigram_lm" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.TextOps.trigramLmScores(
          docs.filter(col("lang") === "en"), docs)
        .orderBy("doc_id")
    },

    // -- paragraph-level dedup with document reassembly (CCNet /
    //    RefinedWeb curation stage): 10-word chunk units, global
    //    first-occurrence wins, text rebuilt from survivors. The dedup
    //    window ranks (md5, doc, cidx) rows only; reassembly joins the
    //    text scan against losers-per-doc (AQE-broadcastable). ---------
    "q84_paragraph_dedup" -> qd { spark =>
      operators.ParagraphDedup.paragraphDedup(
          spark.table("documents"), "doc_id", "text", chunkWords = 10)
        .orderBy("doc_id")
    },

    // -- exact duplicated-span detection (suffix-array-style substring
    //    dedup): maximal aligned runs of ≥20 verbatim-shared tokens
    //    between document pairs, via positional 8-gram equi-join +
    //    diagonal islands. Oracle rebuilds the same spans from raw gram
    //    text; the Spark side joins on the 8-byte native gram hash. ----
    "q85_duplicated_spans" -> qd { spark =>
      operators.SpanDedup.duplicatedSpans(
          spark.table("documents"), "doc_id", "text",
          k = 8, minSpan = 20, maxGramOccurrences = 1000)
        .orderBy("doc_a", "doc_b", "a_start", "b_start")
    },

    // -- sequence-level contamination: verbatim spans shared between
    //    the corpus and a benchmark slice (doc_id % 7 = 0, the q59
    //    split pattern). Catches long partial overlaps and quantifies
    //    their extent, where gram-membership decontamination only
    //    flags. ---------------------------------------------------------
    "q88_contamination_spans" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.SpanDedup.crossSpans(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", k = 8, minSpan = 20, maxGramOccurrences = 1000)
        .orderBy("left_id", "right_id", "left_start", "right_start")
    },

    // -- FULL decontamination verdict (r16): every grain the engine
    //    detects at, one row per contaminated corpus doc — k-gram
    //    membership (q59), verbatim-span extent (q88, summed per doc),
    //    and exact max embedding cosine vs the benchmark (the
    //    paraphrase grain token methods cannot see). The benchmark is
    //    a FIXED literal slice (doc_id < 75 — an eval suite does not
    //    grow with the corpus), so the semantic grain's nested-loop
    //    side is benchmark-bounded at every SF. ----------------------
    "q125_decontaminate_report" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      val emb = spark.table("embeddings")
      operators.Decontaminate.report(
          docs.filter(col("doc_id") >= 75), docs.filter(col("doc_id") < 75),
          emb.filter(col("vec_id") >= 75), emb.filter(col("vec_id") < 75))
        .orderBy("doc_id")
    },

    // -- DSIR-style data selection: per-doc avg log-likelihood RATIO
    //    between a target-domain (lang='en') and the raw-corpus trigram
    //    model over a 1024-bucket hashed feature space (md5-derived, so
    //    the oracle rebuilds the identical buckets). Positive = more
    //    target-like; the resampling weight of DSIR. ------------------
    "q87_dsir_weights" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.TextOps.dsirWeights(
          docs.filter(col("lang") === "en"), docs, buckets = 1024)
        .orderBy("doc_id")
    },

    // -- duplicated-span REMOVAL (the second half of exact substring
    //    dedup): every q85 span is cut from its pair's higher-id doc,
    //    union of ranges per doc, text rebuilt from surviving tokens.
    //    Oracle re-derives the same cut set from raw gram text and
    //    anti-joins token positions. --------------------------------
    "q86_span_removal" -> qd { spark =>
      operators.SpanDedup.removeDuplicatedSpans(
          spark.table("documents"), "doc_id", "text",
          k = 8, minSpan = 20, maxGramOccurrences = 1000)
        .orderBy("doc_id")
    },

    // -- corpus-statistics scoring: BM25 against a bounded query set.
    //    TF map-side (no token-instance shuffle), DF bounded by |Q|,
    //    scoring one projection + TakeOrderedAndProject top-k ----------
    "q89_bm25" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.TfIdf.bm25(spark.table("documents"), "doc_id", "text",
          query = Seq("spark", "dup", "vector"), topK = 20)
        .select(col("id").as("doc_id"), col("n_tokens"), col("score_u"))
        .orderBy("doc_id")
    },

    // -- full-vocabulary TF-IDF salient term per doc: (term,tf) pairs
    //    from the sorted-run boundary scan (one row per DISTINCT term
    //    per doc), vocab-sized DF equi-join, per-doc top-1 window ------
    "q90_tfidf_terms" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.TfIdf.tfidfTopTerms(spark.table("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("top_term"), col("tf"), col("w_u"))
        .orderBy("doc_id")
    },

    // -- incremental NEAR-dup dedup: the new batch (doc_id%5=0) banded
    //    against the history corpus (rest) — the fuzzy face of q64's
    //    exact incremental dedup. LSH equi-join into (storable) history
    //    buckets, exact Jaccard verify on candidates; shared hot list
    //    so both sides measure the same shingle universe ---------------
    "q97_incremental_neardup" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val docs = spark.table("documents")
      operators.DedupOps.crossMinhashPairs(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", k = 3, threshold = 0.6,
          knownHot = sharedHot(spark, dir))
        .select(col("doc_a").as("batch_doc"), col("doc_b").as("history_doc"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("batch_doc", "history_doc")
    },

    // -- token-distribution entropy (gibberish/template signal), fully
    //    map-side: sorted-run counts, H = ln(n) − Σ tf·ln(tf)/n --------
    "q92_token_entropy" -> qd { spark =>
      import org.apache.spark.sql.functions._
      spark.table("documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          size(operators.TfIdf.lowerTokens(col("text"))).cast("long").as("n_tokens"),
          floor(operators.TfIdf.tokenEntropy(col("text")) * 1e6).cast("long").as("entropy_u"))
        .orderBy("doc_id")
    },

    // -- TOKEN-budget quota per source (mixture recipes are written in
    //    tokens, not rows): md5-rank order split into 4096 order-aligned
    //    buckets; histogram pass + per-group 4096-row window classify
    //    buckets, only the single boundary bucket pays a row window -----
    "q104_token_quota" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.QuotaSample.tokenQuota(spark.table("documents"),
          "source", "doc_id", "text", budget = 700L)
        .orderBy("doc_id")
    },

    // -- EPOCH-REPETITION mixing (the recipe an LLM run consumes):
    //    explicit per-source weights (1 + k%4 over src0..src19) and a
    //    50k-token budget → whole passes per source (up-sampling by
    //    repetition) + the deterministic md5-rank fractional head.
    //    epochs spans 0..3+ on this corpus, so every branch fires. ----
    "q135_epoch_mixture" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val recipe = (0 until 20).map(k => (s"src$k", 1.0 + k % 4))
      operators.QuotaSample.epochRepetition(spark.table("documents"),
          "source", "doc_id", "text", recipe, totalBudget = 50000L)
        .orderBy("doc_id")
    },

    // -- WEIGHTED (multiset/TF) Jaccard near-dup pairs: the set form
    //    can't see repetition; the weighted form scores it honestly.
    //    Same inverted-index + size-ratio-prune shape as q35 ------------
    "q110_weighted_jaccard" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.DedupOps.weightedJaccardPairs(spark.table("documents"),
          "doc_id", "text", threshold = 0.7)
        .select(col("doc_a"), col("doc_b"), round(col("wjaccard"), 6).as("wjaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // -- BPE tokenizer (r17): token-TRUE accounting. The merge table is
    //    the FIXED seed artifact (Bpe.SeedModel — trained on the pinned
    //    seed slice, the q103 stored-geometry discipline), encode is the
    //    native codegen'd expression; the oracle replays the encode as a
    //    recursive CTE over (word, merge-index) with the merge table as
    //    a derived VALUES relation. bpe_text pins the token STREAM for
    //    the first docs; n_bpe_tokens pins the count corpus-wide. ------
    "q143_bpe_encode" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val m = operators.Bpe.SeedModel
      spark.table("documents")
        .select(col("doc_id"),
          operators.Bpe.tokenCount(col("text"), m).as("n_bpe_tokens"),
          when(col("doc_id") < 15,
              array_join(operators.Bpe.tokens(col("text"), m), " "))
            .otherwise(lit("")).as("bpe_text"))
        .orderBy("doc_id")
    },

    // -- q104's token quota RE-DENOMINATED in BPE tokens: same md5-rank
    //    selection machinery, the accounting lane swapped via the
    //    tokenCounter hook — budgets now mean what a training run
    //    means by "tokens". ------------------------------------------
    "q146_bpe_quota" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.QuotaSample.tokenQuota(spark.table("documents"),
          "source", "doc_id", "text", budget = 700L,
          tokenCounter = c => operators.Bpe.tokenCount(c, operators.Bpe.SeedModel))
        .orderBy("doc_id")
    },

    // -- q58's shard packing RE-DENOMINATED in BPE tokens (the shard
    //    budget a trainer actually fills): same two-level prefix scan. -
    "q147_bpe_shards" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.Sharding.tokenShards(spark.table("documents"), "doc_id", "text",
          budget = 2048,
          tokenCounter = c => operators.Bpe.tokenCount(c, operators.Bpe.SeedModel))
        .groupBy("shard").agg(count(lit(1)).as("docs"), sum("ntok").as("tokens"))
        .orderBy("shard")
    },

    // -- URL canonicalization + domain curation (r17): messy fixture
    //    URLs (case noise, tracking params, fragments, default ports —
    //    all by id arithmetic, so the canonical form is closed-form) →
    //    canonicalize → domain → blocklist anti-join (broadcast) →
    //    per-domain token cap (the q104 machinery with domain as the
    //    group). The whole chain is codegen'd built-ins. --------------
    "q145_url_curation" -> qd { spark =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val docs = spark.table("documents")
      val canon = operators.UrlOps.urlTable(docs)
        .select(col("doc_id"), operators.UrlOps.canonicalize(col("url")).as("canon_url"))
        .withColumn("domain", operators.UrlOps.domain(col("canon_url")))
      val blocklist = Seq("host3.example.com").toDF("domain")
      val allowed = operators.UrlOps.dropBlockedDomains(canon, "domain", blocklist)
      val capped = operators.QuotaSample.tokenQuota(
        allowed.join(docs.select("doc_id", "text"), Seq("doc_id")),
        "domain", "doc_id", "text", budget = 900L)
      capped.join(canon.select("doc_id", "canon_url"), Seq("doc_id"))
        .select(col("doc_id"), col("canon_url"), col("domain"),
          col("n_tokens"), col("kept"))
        .orderBy("doc_id")
    },

    // -- q135's epoch-repetition recipe RE-DENOMINATED in BPE tokens
    //    (r17): the tokenCounter lane threaded through the masses, the
    //    emitted counts, AND the fractional head's quota — a recipe's
    //    "50k tokens of src17" now means what the training run means. -
    "q154_bpe_epoch_mixture" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val recipe = (0 until 20).map(k => (s"src$k", 1.0 + k % 4))
      operators.QuotaSample.epochRepetition(spark.table("documents"),
          "source", "doc_id", "text", recipe, totalBudget = 50000L,
          tokenCounter = c => operators.Bpe.tokenCount(c, operators.Bpe.SeedModel))
        .orderBy("doc_id")
    },

    // -- WARC ingestion (r17): the wire format a crawl corpus actually
    //    arrives in. Spec-correct fixture archives (warcinfo + request/
    //    response pairs, every third archive whole-stream gzip'd — the
    //    Common-Crawl layout) parse in one mapPartitions; 200-responses
    //    feed URL canonicalization AND HTML extraction, so the full
    //    web-ingest chain (WARC → URL → text) runs end-to-end with the
    //    q142/q145 closed forms as the oracle. --------------------------
    // archive fixtures ride the corpus-snapshot memo (sharedWarcArchives):
    // a crawl reads its WARCs from storage — the floor measures the
    // demux + parse + extraction chain, not the fixture mux
    "q151_warc_ingest" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val archives = sharedWarcArchives(spark, dir)
      val withIds = operators.WarcIo.pages(archives)
        .withColumn("doc_id",
          regexp_extract(col("target_uri"), "Item([0-9]+)", 1).cast("long"))
        .localCheckpoint(true)
      val meta = withIds.select(col("doc_id"),
          operators.UrlOps.canonicalize(col("target_uri")).as("canon_url"))
        .withColumn("domain", operators.UrlOps.domain(col("canon_url")))
      val ex = operators.HtmlExtract.extract(withIds, "doc_id", "html")
        .select(col("doc_id"), col("extracted_text"), col("kept_blocks"))
      meta.join(ex, Seq("doc_id")).orderBy("doc_id")
    },

    // -- HTML → text extraction, curation stage 0 (r17): real markup
    //    (title/header/nav/script/aside/footer chrome around an
    //    <article>) through the in-repo block segmenter + jusText-class
    //    rules (zone ∨ <5 words ∨ link-dense → boilerplate). The
    //    fixture muxer keeps the result closed-form: extracted text =
    //    the normalized document text iff the doc clears the word
    //    floor, block counts pure arithmetic in w = token count. One
    //    mapPartitions, zero exchanges. -------------------------------
    "q142_html_extract" -> qdd { (spark, dir) =>
      import org.apache.spark.sql.functions._
      operators.HtmlExtract.extract(
          sharedHtmlPages(spark, dir),
          "doc_id", "html")
        .select(col("doc_id"), col("extracted_text"),
          col("n_blocks"), col("kept_blocks"))
        .orderBy("doc_id")
    },

    // -- Gopher/C4 heuristic quality rules (r19): the page-level rule
    //    set over the STRUCTURED page fixture ([[pageTextCol]] — lines,
    //    bullets, ellipses, terminal punctuation, duplicate lines,
    //    lorem-ipsum/brace bans, PII tails), each rule its own audit
    //    column plus the conjunction. Per-row scan work, no shuffle;
    //    minStopHits=1 because the corpus vocabulary carries one Gopher
    //    stopword ('the'). ----------------------------------------------
    "q162_quality_rules" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val page = spark.table("documents").select(col("doc_id"),
        pageTextCol(col("doc_id"), col("text")).as("page_text"))
      operators.QualityFilters.ruleReport(page, "doc_id", "page_text",
          operators.QualityFilters.RuleParams(minStopHits = 1,
            checkRepetition = true))
        .drop("page_text")
        .orderBy("doc_id")
    },

    // -- PII detection + redaction over the structured page fixture
    //    (r19): the q62 pattern tier (email/IPv4/E.164, native byte
    //    scanners) on a corpus whose PII tails are closed-form, plus the
    //    md5 of the REDACTED text — pins the sequential-pass redaction
    //    end-to-end (email first; placeholders can't re-match). --------
    "q165_pii_redact" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val page = spark.table("documents").select(col("doc_id"),
        pageTextCol(col("doc_id"), col("text")).as("page_text"))
      val c = operators.Privacy.piiCounts(col("page_text"))
      page.select(col("doc_id"),
          c.getField("emails").cast("long").as("emails"),
          c.getField("ips").cast("long").as("ips"),
          c.getField("phones").cast("long").as("phones"),
          md5(operators.Privacy.redact(col("page_text")).cast("binary"))
            .as("redacted_md5"))
        .orderBy("doc_id")
    },
  )

  /** Closed-form STRUCTURED page-text fixture for the heuristic-rule and
    * PII operators (q162/q165): the document's tokens re-laid-out as
    * 8-token lines with deterministic decorations keyed on doc_id —
    * '# ' on line 1 (id%11==0), bullet '- ' ((id+line)%5==0), terminal
    * '.' vs ' ...' by (id+line)%4 ∈ {0,2} vs 1, line 2 a verbatim copy
    * of line 1 (id%7==0) — plus tail lines: 'lorem ipsum' (id%13),
    * a code brace (id%17), and PII (email id%9, IPv4 id%15, E.164
    * phone id%21). Pure Column composition mirrored expression-for-
    * expression by [[pageTextCtes]], so every rule and the redaction
    * have exact positive AND negative rows at any SF. Like the
    * HTML/WARC fixtures, this is fixture synthesis — a real corpus
    * READS its pages — but it is pure per-row codegen'd work (no mux,
    * no IO), so it needs no memo. */
  private def pageTextCol(docId: org.apache.spark.sql.Column,
                          text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val tk = operators.TextOps.tokens(text)
    val nLines = ceil(size(tk) / lit(8.0))
    val lines = transform(
      transform(sequence(lit(1L), nLines),
        j => when(docId % 7 === 0 && j === 2, lit(1L)).otherwise(j)),
      e => concat(
        when(docId % 11 === 0 && e === 1, lit("# ")).otherwise(lit("")),
        when((docId + e) % 5 === 0, lit("- ")).otherwise(lit("")),
        array_join(slice(tk, ((e - lit(1L)) * 8 + 1).cast("int"), lit(8)), " "),
        when(((docId + e) % 4).isin(0L, 2L), lit("."))
          .when((docId + e) % 4 === 1, lit(" ...")).otherwise(lit(""))))
    def extraLine(cond: org.apache.spark.sql.Column,
                  line: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(cond, array(line)).otherwise(array().cast("array<string>"))
    val withExtras = concat(lines,
      extraLine(docId % 13 === 0, lit("lorem ipsum dolor sit.")),
      extraLine(docId % 17 === 0, lit("var f = function() {")),
      extraLine(docId % 9 === 0,
        concat(lit("contact user"), docId.cast("string"), lit("@example.com now"))),
      extraLine(docId % 15 === 0,
        concat(lit("server 10."), (docId % 256).cast("string"), lit(".0.1 up"))),
      extraLine(docId % 21 === 0,
        concat(lit("call +1415555"), (lit(1000L) + docId % 1000).cast("string"),
          lit(" now"))))
    when(size(tk) === 0, lit("")).otherwise(array_join(withExtras, "\n"))
  }


  /** Generated SQL for the Gopher repetition tier (q162): per n, the
    * gram relation, then top-coverage (n = 2..4: max count x gram-token-
    * chars) or dup position-union coverage (n = 5..10). Thresholds are
    * the RuleParams defaults, ::DOUBLE-forced. */
  private lazy val repNs: Seq[Int] = 2 to 10
  private lazy val repThresholds: Map[Int, String] = Map(
    2 -> "0.20", 3 -> "0.18", 4 -> "0.16", 5 -> "0.15", 6 -> "0.14",
    7 -> "0.13", 8 -> "0.12", 9 -> "0.11", 10 -> "0.10")
  private def repFracName(n: Int): String =
    if (n <= 4) s"top${n}_frac" else s"dup${n}_frac"
  private def repRuleName(n: Int): String =
    if (n <= 4) s"r_top${n}_chars" else s"r_dup${n}_chars"
  private lazy val repBlocksSql: String = repNs.map { n =>
    // grams and positions run over `rtk` — the EMPTY-FILTERED token list
    // (r19 advice): DuckDB's trim() strips spaces only, so tab/newline-
    // edged page text would keep phantom '' tokens in ptk and shift gram
    // identity/positions off the native tokenizer, which drops empties.
    // (The current page fixture has no such edges; this pins the oracle
    // against future fixtures rather than changing any output today.)
    val gram = s"""
      |g$n AS (SELECT doc_id, i AS s, array_to_string(rtk[i:i+${n - 1}], ' ') AS g
      |        FROM st, UNNEST(range(1, len(rtk) - $n + 2)) AS u$n(i)
      |        WHERE len(rtk) >= $n),""".stripMargin
    val agg =
      if (n <= 4) s"""
        |t$n AS (SELECT doc_id, max(c * gc) AS best FROM (
        |          SELECT doc_id, g, count(*) AS c, length(g) - ${n - 1} AS gc
        |          FROM g$n GROUP BY doc_id, g) GROUP BY doc_id),""".stripMargin
      else s"""
        |d$n AS (SELECT doc_id, g FROM g$n GROUP BY doc_id, g HAVING count(*) >= 2),
        |c$n AS (SELECT DISTINCT g$n.doc_id AS doc_id, v.p AS p
        |        FROM g$n JOIN d$n USING (doc_id, g),
        |             UNNEST(range(g$n.s, g$n.s + $n)) AS v(p)),
        |f$n AS (SELECT c$n.doc_id, sum(length(tokpos.tok)) AS cov
        |        FROM c$n JOIN tokpos ON tokpos.doc_id = c$n.doc_id AND tokpos.p = c$n.p
        |        GROUP BY c$n.doc_id),""".stripMargin
    gram + agg
  }.mkString
  private lazy val repFracSelectSql: String = repNs.map { n =>
    val src = if (n <= 4) s"t$n.best" else s"f$n.cov"
    s"""
      |        CASE WHEN n_chars > 0
      |             THEN coalesce($src, 0)::DOUBLE / n_chars
      |             ELSE 0.0 END AS ${repFracName(n)},""".stripMargin
  }.mkString.dropRight(1)
  private lazy val repJoinSql: String = repNs.map { n =>
    val t = if (n <= 4) s"t$n" else s"f$n"
    s"""
      |      LEFT JOIN $t USING (doc_id)""".stripMargin
  }.mkString
  private lazy val repOutSelectSql: String = repNs.map { n =>
    s"""
      |       ${repFracName(n)},
      |       ${repFracName(n)} <= ${repThresholds(n)}::DOUBLE AS ${repRuleName(n)},""".stripMargin
  }.mkString
  private lazy val repPassSql: String = repNs.map { n =>
    s"""
      |        AND ${repFracName(n)} <= ${repThresholds(n)}::DOUBLE""".stripMargin
  }.mkString

  /** The SQL twin of [[pageTextCol]] — CTEs ending in
    * `page(doc_id, page_text)`. Composed into the q162/q165 oracles. */
  protected lazy val pageTextCtes: String =
    """tk0 AS (SELECT doc_id,
      |        CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |             ELSE string_split_regex(trim(text), '\s+') END AS tk
      |        FROM documents),
      |pt AS (SELECT doc_id, tk, len(tk) AS n,
      |              CAST(ceil(len(tk) / 8.0) AS BIGINT) AS nl FROM tk0),
      |page AS (SELECT doc_id,
      |  CASE WHEN n = 0 THEN '' ELSE array_to_string(
      |    list_transform(
      |      list_transform(range(1, nl + 1),
      |        j -> CASE WHEN doc_id % 7 = 0 AND j = 2 THEN 1 ELSE j END),
      |      e -> (CASE WHEN doc_id % 11 = 0 AND e = 1 THEN '# ' ELSE '' END) ||
      |           (CASE WHEN (doc_id + e) % 5 = 0 THEN '- ' ELSE '' END) ||
      |           array_to_string(tk[(e-1)*8+1 : e*8], ' ') ||
      |           (CASE WHEN (doc_id + e) % 4 IN (0, 2) THEN '.'
      |                 WHEN (doc_id + e) % 4 = 1 THEN ' ...' ELSE '' END))
      |    || (CASE WHEN doc_id % 13 = 0 THEN ['lorem ipsum dolor sit.'] ELSE []::VARCHAR[] END)
      |    || (CASE WHEN doc_id % 17 = 0 THEN ['var f = function() {'] ELSE []::VARCHAR[] END)
      |    || (CASE WHEN doc_id % 9 = 0 THEN ['contact user' || doc_id || '@example.com now'] ELSE []::VARCHAR[] END)
      |    || (CASE WHEN doc_id % 15 = 0 THEN ['server 10.' || (doc_id % 256) || '.0.1 up'] ELSE []::VARCHAR[] END)
      |    || (CASE WHEN doc_id % 21 = 0 THEN ['call +1415555' || (1000 + doc_id % 1000) || ' now'] ELSE []::VARCHAR[] END),
      |    chr(10)) END AS page_text
      |  FROM pt)""".stripMargin

  /** Shared BPE-encode oracle prefix: the fixed merge table as a derived
    * VALUES relation, the sequential-application encode replayed as a
    * recursive CTE over (word, merge-index) — one leftmost occurrence
    * merged per step, index advanced when none remains (provably equal
    * to the rank-based greedy encode, see [[graft.operators.Bpe]]) —
    * then per-doc token counts/streams via the distinct-word join.
    * Composed into q143/q146/q147 so the three stay in lockstep. */
  private lazy val bpeEncCtes: String = {
    val m = graft.operators.Bpe.SeedModel
    val nm = m.merges.length
    s"""m(prio, a, b) AS (VALUES ${graft.operators.Bpe.mergesAsSqlValues(m)}),
       |w AS (SELECT DISTINCT u AS word FROM (
       |        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS u FROM documents)
       |      WHERE u <> ''),
       |enc AS (
       |  SELECT word, list_transform(range(1, length(word)+1), i -> word[i]) AS syms, 1 AS k
       |  FROM w
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN occ IS NOT NULL THEN syms[1:occ-1] || [a||b] || syms[occ+2:] ELSE syms END,
       |    CASE WHEN occ IS NOT NULL THEN k ELSE k+1 END
       |  FROM (SELECT e.word, e.syms, e.k, m.a, m.b,
       |          list_filter(range(1, len(e.syms)),
       |            i -> e.syms[i] = m.a AND e.syms[i+1] = m.b)[1] AS occ
       |        FROM enc e LEFT JOIN m ON m.prio = e.k
       |        WHERE e.k <= $nm)),
       |tok AS (SELECT word, syms FROM enc WHERE k = ${nm + 1}),
       |d AS (SELECT doc_id, unnest(toks) AS word, unnest(range(1, len(toks)+1)) AS ord
       |      FROM (SELECT doc_id,
       |              list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
       |            FROM documents)),
       |bagg AS (SELECT d.doc_id, CAST(sum(len(t.syms)) AS BIGINT) AS n_bpe,
       |                string_agg(array_to_string(t.syms, ' '), ' ' ORDER BY d.ord) AS bpe_text
       |         FROM d JOIN tok t ON t.word = d.word GROUP BY d.doc_id),
       |bpen AS (SELECT doc_id, coalesce(n_bpe, 0) AS n_bpe,
       |                coalesce(bpe_text, '') AS bpe_text
       |         FROM documents LEFT JOIN bagg USING (doc_id))""".stripMargin
  }

  private lazy val q135OracleSql: String =
      """WITH t AS (SELECT doc_id, source,
        |                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |                  md5(CAST(doc_id AS VARCHAR)) AS key
        |           FROM documents),
        |f AS (SELECT * FROM t WHERE n_tokens >= 1),
        |wt AS (SELECT source, 1.0 + CAST(substr(source, 4) AS INT) % 4 AS w
        |       FROM (SELECT DISTINCT source FROM f)),
        |wsum AS (SELECT list_sum(list(w ORDER BY source)) AS s FROM wt),
        |mass AS (SELECT source, sum(n_tokens) AS m FROM f GROUP BY source),
        |plan AS (SELECT mass.source, m, 50000 * w / (SELECT s FROM wsum) AS target
        |         FROM mass JOIN wt USING (source)),
        |e AS (SELECT source, m, CAST(floor(target / m) AS BIGINT) AS full_e,
        |             CAST(floor(target - CAST(floor(target / m) AS BIGINT) * m) AS BIGINT) AS rem
        |      FROM plan),
        |r AS (SELECT doc_id, source, n_tokens,
        |             sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS cum,
        |             row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
        |      FROM f)
        |SELECT r.doc_id, r.source, r.n_tokens,
        |       CAST(e.full_e + CASE WHEN e.rem >= 1 AND (r.cum <= e.rem OR r.rn = 1)
        |                            THEN 1 ELSE 0 END AS BIGINT) AS epochs
        |FROM r JOIN e USING (source) ORDER BY r.doc_id""".stripMargin

  protected def textOracle: Map[String, String] = Map(
    // ---- pipeline operators ----------------------------------------------

    "q143_bpe_encode" ->
      s"""WITH RECURSIVE $bpeEncCtes
         |SELECT doc_id, n_bpe AS n_bpe_tokens,
         |       CASE WHEN doc_id < 15 THEN bpe_text ELSE '' END AS bpe_text
         |FROM bpen ORDER BY doc_id""".stripMargin,

    // q104's running-sum selection down (md5(id), id) order, token
    // counts swapped for the BPE lane
    "q146_bpe_quota" ->
      s"""WITH RECURSIVE $bpeEncCtes,
         |t2 AS (SELECT b.doc_id, documents.source, b.n_bpe AS n_tokens,
         |              md5(CAST(b.doc_id AS VARCHAR)) AS key
         |       FROM bpen b JOIN documents USING (doc_id)
         |       WHERE b.n_bpe >= 1),
         |w2 AS (SELECT doc_id, source, n_tokens,
         |              sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS cum,
         |              row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
         |       FROM t2)
         |SELECT doc_id, source, n_tokens, (cum <= 700 OR rn = 1) AS kept
         |FROM w2 ORDER BY doc_id""".stripMargin,

    // q145 fixture closed form: the canonical URL reconstructed from
    // the same id arithmetic the messy fixture was built from (scheme/
    // host lowered, :8080 kept, defaults stripped, tracking params and
    // fragments gone), blocklist = host3, then the q104 naive window
    // per domain
    "q145_url_curation" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'http' || CASE WHEN doc_id % 2 = 0 THEN '' ELSE 's' END ||
        |         '://www.host' || (doc_id % 7) || '.example.com' ||
        |         CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END ||
        |         '/Articles/Item' || doc_id ||
        |         CASE WHEN doc_id % 9 = 0 THEN ''
        |              WHEN doc_id % 2 = 0 THEN '?id=' || doc_id
        |              ELSE '?page=2' END AS canon_url,
        |         'host' || (doc_id % 7) || '.example.com' AS domain,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents),
        |f AS (SELECT * FROM u
        |      WHERE domain <> 'host3.example.com' AND n_tokens >= 1),
        |w AS (SELECT doc_id, canon_url, domain, n_tokens,
        |             sum(n_tokens) OVER (PARTITION BY domain ORDER BY key, doc_id) AS cum,
        |             row_number() OVER (PARTITION BY domain ORDER BY key, doc_id) AS rn
        |      FROM f)
        |SELECT doc_id, canon_url, domain, n_tokens, (cum <= 900 OR rn = 1) AS kept
        |FROM w ORDER BY doc_id""".stripMargin,

    // q58's global running sum, BPE-denominated
    "q147_bpe_shards" ->
      s"""WITH RECURSIVE $bpeEncCtes,
         |p AS (SELECT doc_id AS doc, n_bpe AS ntok,
         |             sum(n_bpe) OVER (ORDER BY doc_id) - n_bpe AS prefix
         |      FROM bpen)
         |SELECT CAST(floor(prefix / 2048) AS BIGINT) AS shard,
         |       count(*) AS docs, CAST(sum(ntok) AS BIGINT) AS tokens
         |FROM p GROUP BY 1 ORDER BY shard""".stripMargin,

    "q30_token_stats" ->
      """SELECT source,
        |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |       max(len(string_split_regex(trim(text), '\s+'))) AS max_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q31_quality_scores" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n,
        |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |               x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS stop,
        |         CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS chars
        |  FROM documents WHERE doc_id < 10)
        |SELECT doc_id,
        |       round(0.6 * least(1.0, n / 256.0) + 0.2 * (stop / n)
        |             + 0.2 * least(1.0, (chars / n) / 8.0), 9) AS quality,
        |       CAST(n AS INT) AS n_tokens
        |FROM t ORDER BY doc_id""".stripMargin,

    "q32_langid_counts" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT len(list_filter(toks, x -> x IN ('the','a','of','and','to','is'))) AS en,
        |             len(list_filter(toks, x -> x IN ('el','la','de','que','y','los'))) AS es,
        |             len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS de,
        |             len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS fr
        |      FROM t),
        |p AS (SELECT CASE
        |        WHEN greatest(en, es, de, fr) = 0 THEN 'und'
        |        WHEN fr > greatest(en, es, de) THEN 'fr'
        |        WHEN de > greatest(en, es) THEN 'de'
        |        WHEN es > en THEN 'es'
        |        ELSE 'en' END AS pred_lang
        |      FROM s)
        |SELECT pred_lang, count(*) AS cnt FROM p GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,

    "q33_fingerprints" ->
      """SELECT count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS distinct_fps,
        |       count(*) AS total
        |FROM documents""".stripMargin,

    "q34_dedup_exact" ->
      """SELECT count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS survivors
        |FROM documents""".stripMargin,

    "q35_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toks),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |un AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |         FROM un a JOIN un b ON a.g = b.g AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) AS jaccard
        |  FROM cand c JOIN sz sa ON sa.doc_id = c.doc_a
        |              JOIN sz sb ON sb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
        |FROM pairs WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin,

    "q36_minhash_lsh_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toks),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |un AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |         FROM un a JOIN un b ON a.g = b.g AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) AS jaccard
        |  FROM cand c JOIN sz sa ON sa.doc_id = c.doc_a
        |              JOIN sz sb ON sb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
        |FROM pairs WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin,

    // brute-force Hamming pairs over the same md5-derived simhash — the
    // banded Spark plan has exact recall (pigeonhole), so the sets match
    "q37_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents WHERE trim(text) <> ''),
        |h AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN generate_series(0, 63) AS s(j)
        |  GROUP BY doc_id, j),
        |sigs AS (
        |  SELECT doc_id,
        |         bit_or(CASE WHEN v > 0 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS sig
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q58_token_shards" ->
      """WITH t AS (SELECT doc_id AS doc,
        |                  len(string_split_regex(trim(text), '\s+')) AS ntok
        |           FROM documents),
        |p AS (SELECT doc, ntok, sum(ntok) OVER (ORDER BY doc) - ntok AS prefix FROM t)
        |SELECT CAST(floor(prefix / 2048) AS BIGINT) AS shard,
        |       count(*) AS docs, CAST(sum(ntok) AS BIGINT) AS tokens
        |FROM p GROUP BY 1 ORDER BY shard""".stripMargin,

    // text 3-grams on both sides (our engine matches hashed shingles;
    // equality of hash sets ≡ equality of text grams, the same
    // no-collision assumption q35/q36 already verify on this corpus)
    "q59_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toks WHERE len(t) >= 3),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
        |contam AS (SELECT DISTINCT corp.doc_id FROM corp JOIN bench USING (g))
        |SELECT (SELECT count(*) FROM documents WHERE doc_id % 97 <> 0) AS corpus_docs,
        |       (SELECT count(*) FROM contam) AS contaminated""".stripMargin,

    // connected components as a recursive transitive closure over the
    // q35 pair set; cluster = min reachable doc id (graph is symmetric,
    // so min-reachable ≡ component min — exactly the Spark labels)
    "q60_dedup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toks),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |un AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |         FROM un a JOIN un b ON a.g = b.g AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.doc_a, c.doc_b
        |  FROM cand c JOIN sz sa ON sa.doc_id = c.doc_a
        |              JOIN sz sb ON sb.doc_id = c.doc_b
        |  WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.v)
        |SELECT v AS doc, MIN(r) AS cluster FROM reach GROUP BY v ORDER BY doc""".stripMargin,

    // q128: q60's component closure + the md5-prefix bucket (q119's
    // hash convention) over the component label
    "q128_leakage_free_split" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toks),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |un AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |         FROM un a JOIN un b ON a.g = b.g AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.doc_a, c.doc_b
        |  FROM cand c JOIN sz sa ON sa.doc_id = c.doc_a
        |              JOIN sz sb ON sb.doc_id = c.doc_b
        |  WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.v),
        |comp AS (SELECT v AS doc, MIN(r) AS cluster FROM reach GROUP BY v),
        |base AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS split_key
        |         FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc),
        |bk AS (SELECT doc_id, split_key,
        |              ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8))::UBIGINT % 100 AS b
        |       FROM base)
        |SELECT doc_id, split_key,
        |       CASE WHEN b < 80 THEN 'train'
        |            WHEN b < 90 THEN 'validation'
        |            ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin,

    // r20: the exact-dup branch was missing — Pipeline.curate labels
    // fingerprint duplicates 'exact_dup' BEFORE the near/quality stages,
    // and the sf0.1 corpus (unlike sf0.01) contains 8 of them; the old
    // oracle folded those into near_dup and only the unskipped 10x gate
    // exposed it. Pair mining stays over ALL docs (the operator mines
    // near pairs from the full corpus too — the drop sets are
    // independent; the CASE order is what arbitrates).
    "q46_curation" ->
      """WITH exact AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |        PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |        ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn > 1),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toks),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |un AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |         FROM un a JOIN un b ON a.g = b.g AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) AS j
        |  FROM cand c JOIN sz sa ON sa.doc_id = c.doc_a
        |              JOIN sz sb ON sb.doc_id = c.doc_b),
        |near_drops AS (SELECT DISTINCT doc_b FROM pairs WHERE j >= 0.9),
        |q AS (SELECT doc_id,
        |             CAST(len(t) AS DOUBLE) AS n,
        |             CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS stop,
        |             CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS chars
        |      FROM documents JOIN toks USING (doc_id)),
        |d AS (SELECT doc_id,
        |             CASE WHEN doc_id IN (SELECT doc_id FROM exact) THEN 'exact_dup'
        |                  WHEN doc_id IN (SELECT doc_b FROM near_drops) THEN 'near_dup'
        |                  WHEN 0.6 * least(1.0, n / 256.0) + 0.2 * (stop / n)
        |                       + 0.2 * least(1.0, (chars / n) / 8.0) < 0.2 THEN 'low_quality'
        |                  ELSE 'kept' END AS decision
        |      FROM q)
        |SELECT decision, count(*) AS cnt FROM d GROUP BY decision ORDER BY decision""".stripMargin,

    // quota sampling is deterministic by construction (rank by md5 of the
    // id string), so the oracle is the naive single-window form of the
    // same selection — the two-stage salted plan must pick identical rows
    "q61_quota_sample" ->
      """SELECT source, doc_id
        |FROM (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin,

    // same derived contact corpus, same regexes (Java/RE2-shared syntax),
    // DuckDB's own global regexp_replace chain for the residual — both
    // the detector counts and the redactor's fixpoint are cross-checked
    "q62_pii_scan" ->
      """WITH t AS (
        |  SELECT event_type,
        |         (CASE WHEN user_id % 3 > 0
        |               THEN 'contact user' || CAST(user_id AS VARCHAR) || '@ex' ||
        |                    CAST(user_id % 7 AS VARCHAR) || '.com '
        |               ELSE '' END) ||
        |         'ip 10.' || CAST(user_id % 256 AS VARCHAR) || '.' ||
        |         CAST(event_id % 256 AS VARCHAR) || '.9' ||
        |         (CASE WHEN event_id % 2 = 0
        |               THEN ' tel +1555' || lpad(CAST(event_id % 10000 AS VARCHAR), 7, '0')
        |               ELSE '' END) AS text
        |  FROM events),
        |c AS (
        |  SELECT event_type,
        |         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}')) AS emails,
        |         len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ips,
        |         len(regexp_extract_all(text, '\+\d{7,15}')) AS phones,
        |         regexp_replace(regexp_replace(regexp_replace(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |           '\+\d{7,15}', '<PHONE>', 'g') AS red
        |  FROM t)
        |SELECT event_type, count(*) AS n_rows,
        |       CAST(sum(emails) AS BIGINT) AS emails,
        |       CAST(sum(ips) AS BIGINT) AS ips,
        |       CAST(sum(phones) AS BIGINT) AS phones,
        |       CAST(sum(len(regexp_extract_all(red, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}'))
        |              + len(regexp_extract_all(red, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |              + len(regexp_extract_all(red, '\+\d{7,15}')) ) AS BIGINT) AS residual
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q63_repetition" ->
      """WITH t AS (SELECT source,
        |            CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |                 ELSE string_split_regex(trim(text), '\s+') END tk
        |     FROM documents),
        |r AS (SELECT source,
        |             len(tk) AS tokens,
        |             len(tk) - len(list_distinct(tk)) AS dup_tokens,
        |             CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS bigrams,
        |             CASE WHEN len(tk) >= 2
        |                  THEN (len(tk) - 1) - len(list_distinct(list_transform(
        |                         range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))))
        |                  ELSE 0 END AS dup_bigrams
        |      FROM t)
        |SELECT source, count(*) AS docs,
        |       CAST(sum(tokens) AS BIGINT) AS tokens,
        |       CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens,
        |       CAST(sum(dup_bigrams) AS BIGINT) AS dup_bigrams,
        |       CAST(sum(CASE WHEN bigrams > 0
        |                     AND CAST(dup_bigrams AS DOUBLE) / bigrams > 0.2
        |                THEN 1 ELSE 0 END) AS BIGINT) AS flagged
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // bloom + exact verify ≡ plain anti-join on the normalized text (the
    // fingerprint's no-collision regime, same as q34)
    "q64_incremental_dedup" ->
      """SELECT b.doc_id FROM documents b
        |WHERE b.doc_id % 2 = 1
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents a
        |    WHERE a.doc_id % 2 = 0
        |      AND lower(regexp_replace(trim(a.text), '\s+', ' ', 'g')) =
        |          lower(regexp_replace(trim(b.text), '\s+', ' ', 'g')))
        |ORDER BY b.doc_id""".stripMargin,

    // exact regime: every estimate is the true count, so the sketch path
    // must equal the plain GROUP BY
    "q67_boilerplate_ngrams" ->
      """WITH toks AS (SELECT string_split_regex(trim(text), '\s+') t FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(t) - 1),
        |        i -> array_to_string(t[i:i+2], ' '))) AS gram
        |      FROM toks WHERE len(t) >= 3)
        |SELECT gram, CAST(count(*) AS BIGINT) AS occurrences FROM g GROUP BY gram
        |HAVING count(*) >= 5 ORDER BY occurrences DESC, gram""".stripMargin,

    "q65_shared_grams" ->
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') tk FROM documents),
        |g AS (SELECT doc_id, source,
        |             unnest(list_distinct(list_transform(range(1, len(tk) - 3),
        |               i -> array_to_string(tk[i:i+4], ' ')))) AS gram
        |      FROM t WHERE len(tk) >= 5),
        |dfreq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
        |per AS (SELECT g.doc_id, g.source, count(*) AS grams,
        |               sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS shared
        |        FROM g JOIN dfreq d USING (gram) GROUP BY g.doc_id, g.source)
        |SELECT source, count(*) AS docs,
        |       CAST(sum(grams) AS BIGINT) AS grams,
        |       CAST(sum(shared) AS BIGINT) AS shared_grams,
        |       CAST(sum(CASE WHEN shared * 2 >= grams THEN 1 ELSE 0 END) AS BIGINT) AS flagged
        |FROM per GROUP BY source ORDER BY source""".stripMargin,

    // same add-one trigram model re-derived in SQL; µ-quantized scores
    // compare as integers (ln/summation last-ulp differences cannot
    // cross the floor boundary — see BASELINE r14 notes)
    "q83_trigram_lm" ->
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
        |           FROM doc_tri d CROSS JOIN stats s LEFT JOIN model m USING (tri))
        |SELECT doc_id, count(*) AS n_tri,
        |       CAST(floor(-avg(lp) * 1000000) AS BIGINT) AS lm_score_u
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // chunk-grain first-occurrence dedup + reassembly; chunk identity is
    // the exact 10-word window text (space-rejoined), winner order is
    // (doc_id, chunk index) — both engine-portable
    "q84_paragraph_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |              FROM documents WHERE trim(text) <> ''),
        |ch AS (SELECT doc_id,
        |              unnest(range(CAST(ceil(len(t) / 10.0) AS BIGINT))) AS cidx,
        |              unnest(list_transform(range(CAST(ceil(len(t) / 10.0) AS BIGINT)),
        |                     i -> array_to_string(t[i * 10 + 1 : i * 10 + 10], ' '))) AS chunk
        |       FROM toks),
        |rk AS (SELECT doc_id, cidx, chunk,
        |              row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
        |       FROM ch)
        |SELECT doc_id,
        |       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_chunks,
        |       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dropped_chunks,
        |       coalesce(string_agg(chunk, ' ' ORDER BY cidx) FILTER (WHERE rn = 1), '')
        |         AS cleaned_text
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // maximal aligned duplicated runs from raw 8-gram text: equi-join on
    // the gram, diagonal = pos_a - pos_b, islands trick for maximality;
    // the 1000-occurrence hot-gram cap mirrors the Spark plan exactly
    "q85_duplicated_spans" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |              FROM documents WHERE trim(text) <> ''),
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
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa)
        |                  AS island
        |         FROM m),
        |spans AS (SELECT da AS doc_a, db AS doc_b,
        |                 min(pa) AS a_start, min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island)
        |SELECT doc_a, doc_b, a_start, b_start, span_tokens
        |FROM spans WHERE span_tokens >= 20
        |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin,

    // cross-corpus span pipeline from raw gram text; the 1000-occurrence
    // cap is computed over BOTH sides' gram mass (union), mirroring
    // crossSpans exactly
    "q88_contamination_spans" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |              FROM documents WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr
        |      WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa)
        |                  AS island
        |         FROM m),
        |spans AS (SELECT da AS left_id, db AS right_id,
        |                 min(pa) AS left_start, min(pb) AS right_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island)
        |SELECT left_id, right_id, left_start, right_start, span_tokens
        |FROM spans WHERE span_tokens >= 20
        |ORDER BY left_id, right_id, left_start, right_start""".stripMargin,

    // q125: the q59 ngram CTE + the q88 span CTEs (summed per corpus
    // doc) + an exact max-cosine grain (q44's DOUBLE[]/round(6)
    // convention), all on the fixed doc_id < 75 benchmark split
    "q125_decontaminate_report" ->
      """WITH toksn AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toksn WHERE len(t) >= 3),
        |bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 75),
        |ng AS (SELECT DISTINCT c.doc_id
        |       FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 75) c
        |       JOIN bg USING (g)),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |         FROM documents WHERE trim(text) <> ''),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |              unnest(list_transform(range(len(t) - 7),
        |                     i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |       FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, pos, gr FROM g0
        |      QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |             a.pos - b.pos AS diag
        |      FROM g a JOIN g b ON a.gr = b.gr
        |      WHERE a.doc_id < 75 AND b.doc_id >= 75),
        |runs AS (SELECT da, db, diag, pa, pb,
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa)
        |                  AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id, max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |sp AS (SELECT doc_id, sum(span_tokens) AS st FROM spans
        |       WHERE span_tokens >= 20 GROUP BY doc_id),
        |sem AS (SELECT c.vec_id AS doc_id,
        |               round(max(list_cosine_similarity(c.embedding::DOUBLE[],
        |                                                b.embedding::DOUBLE[])), 6) AS mc
        |        FROM embeddings c, embeddings b
        |        WHERE c.vec_id >= 75 AND b.vec_id < 75
        |        GROUP BY c.vec_id
        |        HAVING max(list_cosine_similarity(c.embedding::DOUBLE[],
        |                                          b.embedding::DOUBLE[])) >= 0.3)
        |SELECT d.doc_id,
        |       (ng.doc_id IS NOT NULL) AS ngram_hit,
        |       CAST(coalesce(sp.st, 0) AS BIGINT) AS span_tokens,
        |       sem.mc AS sem_cosine,
        |       CAST(ng.doc_id IS NOT NULL AS INTEGER)
        |         + CAST(coalesce(sp.st, 0) > 0 AS INTEGER)
        |         + CAST(sem.mc IS NOT NULL AS INTEGER) AS n_grains
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 75) d
        |LEFT JOIN ng USING (doc_id)
        |LEFT JOIN sp USING (doc_id)
        |LEFT JOIN sem USING (doc_id)
        |WHERE ng.doc_id IS NOT NULL OR coalesce(sp.st, 0) > 0 OR sem.mc IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // hashed-trigram importance weights: same normalization/trigram
    // derivation as q83, buckets via the portable md5-prefix hash, two
    // add-one models, per-doc avg log ratio micro-quantized
    "q87_dsir_weights" ->
      """WITH norm AS (SELECT doc_id, lang,
        |                     lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |              FROM documents),
        |tri AS (SELECT doc_id, lang, substr(t, CAST(i AS INT), 3) AS tri
        |        FROM norm, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)),
        |bk AS (SELECT doc_id, lang,
        |              ('0x' || substr(md5(tri), 1, 8))::UBIGINT % 1024 AS b
        |       FROM tri),
        |tc AS (SELECT b, count(*) AS c FROM bk WHERE lang = 'en' GROUP BY b),
        |rc AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
        |td AS (SELECT CAST(sum(c) + 1024 AS DOUBLE) AS d FROM tc),
        |rd AS (SELECT CAST(sum(c) + 1024 AS DOUBLE) AS d FROM rc),
        |scored AS (SELECT bk.doc_id,
        |                  ln((coalesce(tc.c, 0) + 1.0) / td.d) -
        |                  ln((coalesce(rc.c, 0) + 1.0) / rd.d) AS lr
        |           FROM bk CROSS JOIN td CROSS JOIN rd
        |           LEFT JOIN tc USING (b) LEFT JOIN rc USING (b))
        |SELECT doc_id, count(*) AS n_tri,
        |       CAST(floor(avg(lr) * 1000000) AS BIGINT) AS dsir_weight_u
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q85's span pipeline, then cut the b-side copy: distinct cut
    // positions per doc, token-position anti-join, per-doc reassembly
    "q86_span_removal" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |              FROM documents WHERE trim(text) <> ''),
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
        |                pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa)
        |                  AS island
        |         FROM m),
        |spans AS (SELECT db AS doc_id,
        |                 min(pb) AS b_start,
        |                 max(pa) - min(pa) + 8 AS span_tokens
        |          FROM runs GROUP BY da, db, diag, island),
        |cutset AS (SELECT DISTINCT doc_id,
        |                  unnest(range(b_start, b_start + span_tokens)) AS cut
        |           FROM spans WHERE span_tokens >= 20),
        |tok AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w
        |        FROM toks),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.w
        |         FROM tok LEFT JOIN cutset
        |           ON tok.doc_id = cutset.doc_id AND tok.pos = cutset.cut
        |         WHERE cutset.cut IS NULL)
        |SELECT toks.doc_id,
        |       CAST(count(kept.pos) AS BIGINT) AS kept_tokens,
        |       CAST(len(any_value(toks.t)) - count(kept.pos) AS BIGINT)
        |         AS removed_tokens,
        |       coalesce(string_agg(kept.w, ' ' ORDER BY kept.pos), '')
        |         AS cleaned_text
        |FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id
        |GROUP BY toks.doc_id ORDER BY toks.doc_id""".stripMargin,

    // BM25 with the SAME floating-point expression tree as the Spark side:
    // sub-expressions like (1.2 + 1.0) are left unfolded so both engines
    // round identically, and the three per-term contributions are added in
    // query-term order (the Spark left fold's order)
    "q89_bm25" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks,
        |                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS dl
        |           FROM documents WHERE trim(text) <> ''),
        |stats AS (SELECT CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) / count(*) AS avgdl,
        |                 count(*) AS n FROM d),
        |dfq AS (SELECT
        |          CAST((SELECT count(*) FROM d WHERE list_contains(toks, 'spark')) AS DOUBLE) AS df1,
        |          CAST((SELECT count(*) FROM d WHERE list_contains(toks, 'dup')) AS DOUBLE) AS df2,
        |          CAST((SELECT count(*) FROM d WHERE list_contains(toks, 'vector')) AS DOUBLE) AS df3),
        |sc AS (SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
        |         ln(1.0 + (s.n - q.df1 + 0.5) / (q.df1 + 0.5))
        |           * (CAST(len(list_filter(toks, t -> t = 'spark')) AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(len(list_filter(toks, t -> t = 'spark')) AS DOUBLE)
        |              + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl))
        |       + ln(1.0 + (s.n - q.df2 + 0.5) / (q.df2 + 0.5))
        |           * (CAST(len(list_filter(toks, t -> t = 'dup')) AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(len(list_filter(toks, t -> t = 'dup')) AS DOUBLE)
        |              + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl))
        |       + ln(1.0 + (s.n - q.df3 + 0.5) / (q.df3 + 0.5))
        |           * (CAST(len(list_filter(toks, t -> t = 'vector')) AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(len(list_filter(toks, t -> t = 'vector')) AS DOUBLE)
        |              + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) AS score
        |       FROM d CROSS JOIN stats s CROSS JOIN dfq q)
        |SELECT doc_id, n_tokens, CAST(floor(score * 1000000) AS BIGINT) AS score_u
        |FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // identical w = tf · ln(N/df) expression; top-1 per doc by
    // (w desc, term) — the Spark window's exact comparator
    "q90_tfidf_terms" ->
      """WITH base AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |              FROM documents WHERE trim(text) <> ''),
        |pairs AS (SELECT doc_id, unnest(toks) AS term FROM base),
        |tc AS (SELECT doc_id, term, count(*) AS tf FROM pairs GROUP BY doc_id, term),
        |dft AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM base),
        |sc AS (SELECT tc.doc_id, tc.term, tc.tf,
        |              CAST(tc.tf AS DOUBLE)
        |                * ln(CAST(n.n_docs AS DOUBLE) / CAST(dft.df AS DOUBLE)) AS w
        |       FROM tc JOIN dft USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY w DESC, term) AS rn FROM sc)
        |SELECT doc_id, term AS top_term, tf,
        |       CAST(floor(w * 1000000) AS BIGINT) AS w_u
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // brute-force cross-side shingle Jaccard (the q36 oracle with the
    // self-join swapped for the batch × history split)
    "q97_incremental_neardup" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toks),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |un AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT a.doc_id AS batch_doc, b.doc_id AS history_doc, count(*) AS inter
        |         FROM un a JOIN un b ON a.g = b.g
        |         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |         GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.batch_doc, c.history_doc,
        |         CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) AS jaccard
        |  FROM cand c JOIN sz sa ON sa.doc_id = c.batch_doc
        |              JOIN sz sb ON sb.doc_id = c.history_doc)
        |SELECT batch_doc, history_doc, round(jaccard, 6) AS jaccard
        |FROM pairs WHERE jaccard >= 0.6
        |ORDER BY batch_doc, history_doc""".stripMargin,

    // per-doc tf list assembled in sorted-term order so list_sum folds the
    // SAME addends in the SAME order as the Spark side's sorted-run scan
    "q92_token_entropy" ->
      """WITH base AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |              FROM documents WHERE trim(text) <> ''),
        |pairs AS (SELECT doc_id, unnest(toks) AS term FROM base),
        |tc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM pairs GROUP BY doc_id, term),
        |tfl AS (SELECT doc_id, list(tf ORDER BY term) AS tfs FROM tc GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n FROM base)
        |SELECT n.doc_id, CAST(n.n AS BIGINT) AS n_tokens,
        |       CAST(floor((ln(n.n)
        |         - list_sum(list_transform(tfs, x -> x * ln(x))) / n.n) * 1000000)
        |         AS BIGINT) AS entropy_u
        |FROM tfl JOIN n USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the NAIVE per-source running-token-sum selection down md5-rank
    // order (integer token sums — exact); the Spark side reproduces it
    // through the bucket-histogram path
    "q104_token_quota" ->
      """WITH t AS (SELECT doc_id, source,
        |                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |                  md5(CAST(doc_id AS VARCHAR)) AS key
        |           FROM documents),
        |f AS (SELECT * FROM t WHERE n_tokens >= 1),
        |w AS (SELECT doc_id, source, n_tokens,
        |             sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS cum,
        |             row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
        |      FROM f)
        |SELECT doc_id, source, n_tokens, (cum <= 700 OR rn = 1) AS kept
        |FROM w ORDER BY doc_id""".stripMargin,

    // q128's closure machinery twice: history-only closure -> immutable
    // history splits (the q128 rule), full closure -> batch components;
    // inherit = arg_min(history split, member id), bridged = >1 distinct
    // history split in the component, fresh components get the md5 rule
    "q139_incremental_split" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' '))) s
        |       FROM toks),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |un AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |         FROM un a JOIN un b ON a.g = b.g AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.doc_a, c.doc_b
        |  FROM cand c JOIN sz sa ON sa.doc_id = c.doc_a
        |              JOIN sz sb ON sb.doc_id = c.doc_b
        |  WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.6),
        |hedges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |           WHERE doc_a % 2 = 0 AND doc_b % 2 = 0
        |           UNION SELECT doc_b, doc_a FROM pairs
        |           WHERE doc_a % 2 = 0 AND doc_b % 2 = 0),
        |hreach(v, r) AS (
        |  SELECT DISTINCT a, a FROM hedges
        |  UNION
        |  SELECT e.b, r.r FROM hreach r JOIN hedges e ON e.a = r.v),
        |hcomp AS (SELECT v AS doc, MIN(r) AS cluster FROM hreach GROUP BY v),
        |hsplit AS (SELECT doc_id,
        |                  CASE WHEN hb < 80 THEN 'train'
        |                       WHEN hb < 90 THEN 'validation'
        |                       ELSE 'test' END AS split
        |           FROM (SELECT d.doc_id,
        |                        ('0x' || substr(md5(CAST(coalesce(c.cluster, d.doc_id) AS VARCHAR)), 1, 8))::UBIGINT % 100 AS hb
        |                 FROM documents d LEFT JOIN hcomp c ON d.doc_id = c.doc
        |                 WHERE d.doc_id % 2 = 0)),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.v),
        |comp AS (SELECT v AS doc, MIN(r) AS cluster FROM reach GROUP BY v),
        |chist AS (SELECT c.cluster, arg_min(h.split, c.doc) AS inherit,
        |                 count(DISTINCT h.split) > 1 AS bridged
        |          FROM comp c JOIN hsplit h ON c.doc = h.doc_id
        |          GROUP BY c.cluster),
        |bb AS (SELECT b.doc_id, coalesce(c.cluster, b.doc_id) AS split_key,
        |              c.cluster AS cl
        |       FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) b
        |       LEFT JOIN comp c ON b.doc_id = c.doc),
        |bk AS (SELECT doc_id, split_key, cl,
        |              ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8))::UBIGINT % 100 AS b
        |       FROM bb)
        |SELECT bk.doc_id, bk.split_key,
        |       coalesce(ch.inherit,
        |         CASE WHEN bk.b < 80 THEN 'train'
        |              WHEN bk.b < 90 THEN 'validation'
        |              ELSE 'test' END) AS split,
        |       coalesce(ch.bridged, FALSE) AS bridged
        |FROM bk LEFT JOIN chist ch ON bk.cl = ch.cluster
        |ORDER BY bk.doc_id""".stripMargin,

    // q58's assignment re-derived, aggregated to the manifest grain;
    // ids_md5 = md5 over the comma-joined ASCENDING id list (numeric
    // order on both engines)
    "q138_shard_manifest" ->
      """WITH t AS (SELECT doc_id AS doc,
        |                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok
        |           FROM documents),
        |p AS (SELECT doc, ntok, sum(ntok) OVER (ORDER BY doc) - ntok AS prefix FROM t),
        |a AS (SELECT doc, ntok, CAST(floor(prefix / 2000) AS BIGINT) AS shard FROM p)
        |SELECT shard, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |       min(doc) AS min_doc, max(doc) AS max_doc,
        |       md5(string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc)) AS ids_md5
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,

    // same recipe re-derived in SQL: weight 1 + k%4 from the source
    // name, wsum folded in name-sorted list order (the q116 convention),
    // IEEE multiply-divide-floor in the same operand order, the q104
    // running-sum head with the rem>=1 participation rule
    "q135_epoch_mixture" -> q135OracleSql,

    // q135's recipe arithmetic verbatim, the token lane swapped for the
    // recursive BPE counts (anchor-asserted derivation — the two recipes
    // stay in lockstep)
    "q154_bpe_epoch_mixture" -> {
      val anchor =
        """WITH t AS (SELECT doc_id, source,
          |                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          |                  md5(CAST(doc_id AS VARCHAR)) AS key
          |           FROM documents),""".stripMargin
      require(q135OracleSql.startsWith(anchor),
        "q135 oracle anchor drifted - update the q154 derivation")
      s"WITH RECURSIVE $bpeEncCtes,\n" +
        """t AS (SELECT b.doc_id, documents.source, b.n_bpe AS n_tokens,
          |             md5(CAST(b.doc_id AS VARCHAR)) AS key
          |      FROM bpen b JOIN documents USING (doc_id)),""".stripMargin +
        q135OracleSql.substring(anchor.length)
    },

    

    // exact weighted Jaccard over word term frequencies, all-pairs (the
    // naive truth the inverted-index + ratio-prune plan reproduces);
    // df cap 1000 mirrors the Spark default (no term is that hot here)
    "q110_weighted_jaccard" ->
      """WITH t AS (SELECT doc_id AS doc,
        |                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |           FROM documents WHERE trim(text) <> ''),
        |tf0 AS (SELECT doc, tok, CAST(count(*) AS BIGINT) AS tf
        |        FROM t GROUP BY doc, tok),
        |hot AS (SELECT tok FROM tf0 GROUP BY tok HAVING count(*) > 1000),
        |tf AS (SELECT * FROM tf0 WHERE tok NOT IN (SELECT tok FROM hot)),
        |tot AS (SELECT doc, sum(tf) AS tot FROM tf GROUP BY doc),
        |p AS (SELECT a.doc AS da, b.doc AS db, sum(least(a.tf, b.tf)) AS ms
        |      FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc < b.doc
        |      GROUP BY a.doc, b.doc)
        |SELECT p.da AS doc_a, p.db AS doc_b,
        |       round(CAST(ms AS DOUBLE) / (ta.tot + tb.tot - ms), 6) AS wjaccard
        |FROM p JOIN tot ta ON ta.doc = p.da JOIN tot tb ON tb.doc = p.db
        |WHERE CAST(ms AS DOUBLE) / (ta.tot + tb.tot - ms) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the q145 canonical-URL and q142 extraction closed forms composed:
    // WARC parsing must deliver each page's exact URI and HTML through
    // the gzip'd/plain archive mix, or these per-doc forms break. The
    // second branch is the r18 multibyte page each archive carries
    // (WarcIo.intlText — accented Latin + CJK, 8 words so kept=1, with
    // the charset declaration rotating by fid%3): if the reader
    // mojibakes UTF-8 on ANY of the three decode paths, these rows
    // hash-mismatch.
    "q151_warc_ingest" ->
      ("""WITH t AS (
        |  SELECT doc_id,
        |         regexp_replace(trim(text), '\s+', ' ', 'g') AS norm,
        |         len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> '')) AS w
        |  FROM documents),
        |f AS (SELECT DISTINCT doc_id // """ +
       // the per-archive fid derives from warcTable's page grouping —
       // interpolate its constant so the coupling can't silently drift
       operators.WarcIo.DefaultDocsPerFile +
       """ AS fid FROM documents)
        |SELECT * FROM (
        |  SELECT doc_id,
        |         'http' || CASE WHEN doc_id % 2 = 0 THEN '' ELSE 's' END ||
        |         '://www.host' || (doc_id % 7) || '.example.com' ||
        |         CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END ||
        |         '/Articles/Item' || doc_id ||
        |         CASE WHEN doc_id % 9 = 0 THEN ''
        |              WHEN doc_id % 2 = 0 THEN '?id=' || doc_id
        |              ELSE '?page=2' END AS canon_url,
        |         'host' || (doc_id % 7) || '.example.com' AS domain,
        |         CASE WHEN w >= 5 THEN norm ELSE '' END AS extracted_text,
        |         CAST(CASE WHEN w < 5 THEN 0
        |                   WHEN w % 40 = 0 THEN w // 40
        |                   WHEN w % 40 < 5 THEN w // 40
        |                   ELSE w // 40 + 1 END AS BIGINT) AS kept_blocks
        |  FROM t
        |  UNION ALL
        |  SELECT 1000000000 + fid AS doc_id,
        |         'https://intl.example.org/Articles/Item' ||
        |         (1000000000 + fid) || '?page=2' AS canon_url,
        |         'intl.example.org' AS domain,
        |         'Café número ' || fid ||
        |         ' 你好 世界 naïve résumé données' AS extracted_text,
        |         CAST(1 AS BIGINT) AS kept_blocks
        |  FROM f)
        |ORDER BY doc_id""").stripMargin,

    // closed form of the q142 fixture page (HtmlExtract.testHtml):
    // chrome (7 blocks: title, header h1, 3 nav items, aside, footer)
    // never extracts; the article's ≤40-word paragraphs all extract iff
    // the document has ≥ 5 words (a <5-word tail merges into the
    // previous paragraph, a <5-word document is one dropped paragraph)
    "q142_html_extract" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         regexp_replace(trim(text), '\s+', ' ', 'g') AS norm,
        |         len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> '')) AS w
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, norm, w,
        |         CASE WHEN w < 5 THEN 0
        |              WHEN w % 40 = 0 THEN w // 40
        |              WHEN w % 40 < 5 THEN w // 40
        |              ELSE w // 40 + 1 END AS kept
        |  FROM t)
        |SELECT doc_id,
        |       CASE WHEN w >= 5 THEN norm ELSE '' END AS extracted_text,
        |       CAST(7 + CASE WHEN w = 0 THEN 0 WHEN w < 5 THEN 1
        |                     ELSE kept END AS BIGINT) AS n_blocks,
        |       CAST(kept AS BIGINT) AS kept_blocks
        |FROM k ORDER BY doc_id""".stripMargin,

    // full re-derivation of the Gopher/C4 rule set over the structured
    // page fixture; ratio thresholds forced to DOUBLE so both engines
    // run the same IEEE multiply at the boundaries. The repetition tier
    // (top 2-4-gram / dup 5-10-gram char fractions) is generated per n:
    // top = max over distinct grams of count × gram-token-chars; dup =
    // position-union coverage of grams occurring >= 2 times.
    "q162_quality_rules" ->
      (s"WITH $pageTextCtes,\n" +
      """st AS (SELECT doc_id,
         |       CASE WHEN trim(page_text) = '' THEN []::VARCHAR[]
         |            ELSE string_split_regex(trim(page_text), '\s+') END AS ptk,
         |       list_filter(ptk, t -> t <> '') AS rtk,
         |       list_filter(list_transform(string_split(page_text, chr(10)),
         |                                  l -> trim(l)),
         |                   l -> l <> '') AS lns,
         |       page_text AS pg
         |       FROM page),
         |sc AS (SELECT doc_id,
         |       CAST(len(ptk) AS BIGINT) AS n_tokens,
         |       coalesce(list_aggregate(list_transform(ptk, t -> length(t)), 'sum'), 0) AS n_chars,
         |       len(list_filter(ptk, t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
         |       len(list_intersect(list_distinct(ptk),
         |           ['the','be','to','of','and','that','have','with'])) AS n_stop,
         |       (length(pg) - length(replace(pg, '#', ''))) +
         |       (length(pg) - length(replace(pg, '…', ''))) +
         |       (length(pg) - length(replace(pg, '...', ''))) / 3 AS n_symbols,
         |       len(lns) AS n_lines,
         |       len(list_filter(lns, l -> l[1] IN ('-', '*', '•'))) AS n_bullet,
         |       len(list_filter(lns, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS n_ell,
         |       len(list_filter(lns, l -> l[-1] IN ('.', '!', '?', '"'))) AS n_term,
         |       len(lns) - len(list_distinct(lns)) AS n_dup,
         |       contains(lower(pg), 'lorem ipsum') AS has_lorem,
         |       contains(pg, '{') AS has_brace
         |       FROM st),
         |tokpos AS (SELECT doc_id, i AS p, rtk[i] AS tok
         |           FROM st, UNNEST(range(1, len(rtk) + 1)) AS u0(i)),""".stripMargin +
      repBlocksSql +
      """
         |j AS (SELECT sc.*,""".stripMargin + repFracSelectSql + """
         |      FROM sc""".stripMargin + repJoinSql + """)
         |SELECT doc_id, n_tokens,
         |       n_tokens BETWEEN 50 AND 100000 AS r_words,
         |       n_tokens > 0 AND n_chars >= 3.0::DOUBLE * n_tokens
         |                    AND n_chars <= 10.0::DOUBLE * n_tokens AS r_mean_len,
         |       n_symbols <= 0.1::DOUBLE * n_tokens AS r_symbols,
         |       n_bullet <= 0.9::DOUBLE * n_lines AS r_bullets,
         |       n_ell <= 0.3::DOUBLE * n_lines AS r_ellipsis,
         |       n_alpha >= 0.8::DOUBLE * n_tokens AS r_alpha,
         |       n_stop >= 1 AS r_stopwords,
         |       n_dup <= 0.3::DOUBLE * n_lines AS r_dup_lines,
         |       n_term >= 1 AS r_terminal,
         |       NOT has_lorem AS r_lorem,
         |       NOT has_brace AS r_brace,""".stripMargin + repOutSelectSql + """
         |       (n_tokens BETWEEN 50 AND 100000)
         |        AND (n_tokens > 0 AND n_chars >= 3.0::DOUBLE * n_tokens
         |                          AND n_chars <= 10.0::DOUBLE * n_tokens)
         |        AND n_symbols <= 0.1::DOUBLE * n_tokens
         |        AND n_bullet <= 0.9::DOUBLE * n_lines
         |        AND n_ell <= 0.3::DOUBLE * n_lines
         |        AND n_alpha >= 0.8::DOUBLE * n_tokens
         |        AND n_stop >= 1
         |        AND n_dup <= 0.3::DOUBLE * n_lines
         |        AND n_term >= 1
         |        AND NOT has_lorem AND NOT has_brace""".stripMargin + repPassSql + """
         |        AS rule_pass
         |FROM j ORDER BY doc_id""".stripMargin),

    // q62's pattern tier over the structured page fixture, plus the
    // md5 of the redacted text (email pass first, then IPv4, then
    // phone — the Privacy.redact pass order)
    "q165_pii_redact" ->
      (s"WITH $pageTextCtes\n" +
      """SELECT doc_id,
         |       CAST(len(regexp_extract_all(page_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}')) AS BIGINT) AS emails,
         |       CAST(len(regexp_extract_all(page_text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS ips,
         |       CAST(len(regexp_extract_all(page_text, '\+\d{7,15}')) AS BIGINT) AS phones,
         |       md5(regexp_replace(regexp_replace(regexp_replace(page_text,
         |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         |           '\+\d{7,15}', '<PHONE>', 'g')) AS redacted_md5
         |FROM page ORDER BY doc_id""".stripMargin),
  )
}
