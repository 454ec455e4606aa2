package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pin.Syntax
import graft.core.Tables
import graft.llm.{Dedup, EmbeddingOps, Multimodal, Pipeline, Similarity, TextAnalysis, TextOps, VectorOps}

/** Text-analysis / language-model operators: lang-ID, quality,
  * tokenization, vocabulary, n-gram LMs, retrieval scoring,
  * text statistics. Split from LlmQueries (r16 verdict #8) — entries
  * and oracles moved verbatim; shared SQL helpers live in
  * [[LlmQueries]]. */
object LlmTextQueries {

  import LlmQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q26_langid" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text")),


    "q27_quality" -> ((s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text")),


    "q28_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")),


    "q29_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir), "doc_id", "text")),


    "q73_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir), "doc_id", "text",
        minDf = 25)),


    // Multimodal batched extraction over documents-as-media: every text
    // payload takes the byte-fold path (no WAV/PPM magic), whose lanes
    // and integer checksum the oracle recomputes from hex(payload).
    "q74_media_features" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      Multimodal.extractFeatures(
        Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text"))
        .select(col("id"), col("kind"), col("dim"), col("checksum"))
    }),


    // Multimodal frame sampling: documents' bytes as a raw 96-byte-frame
    // video stream (the codec stub), every max(1, n/4)-th frame sampled;
    // per-frame mean byte + modular fold checksum. The oracle recomputes
    // the identical arithmetic from the same bytes in SQL.
    "q105_frame_sample" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      Multimodal.frameSample(
        Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
    }),


    "q75_tfidf" -> ((s, dir) =>
      Pipeline.tfIdfTopK(Tables.documents(s, dir), "doc_id", "text", k = 5)),


    "q76_bm25" -> ((s, dir) =>
      Pipeline.bm25(Tables.documents(s, dir), "doc_id", "text",
        terms = Bm25Terms)),


    // BPE tokenizer-training seed (Sennrich 2016): corpus-wide adjacent
    // symbol-pair counts at iteration 0, computed over the distinct-word
    // table weighted by frequency (vocabulary << corpus at scale).
    "q107_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), "text")),


    // Fixed-window document chunking with stride + flush tail — the
    // context-window prep for layouts where documents must not cross
    // example boundaries (vs q77's concatenated packing).
    "q109_doc_chunks" -> ((s, dir) =>
      Pipeline.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        chunkWords = 24, strideWords = 16)),


    // Length-bucketed batching: smallest power-of-two bucket per doc,
    // fixed-capacity batches filled per (source, shard, bucket) in id
    // order (the shard key bounds window sort groups at corpus scale);
    // padding waste is exact binary arithmetic.
    "q110_length_buckets" -> ((s, dir) =>
      Pipeline.lengthBucketedBatches(Tables.documents(s, dir), "doc_id",
        "text", "source", capacity = 256, shards = 4)),


    "q85_bigram_lm" -> ((s, dir) =>
      Pipeline.bigramLmScore(Tables.documents(s, dir), "doc_id", "text")),


    // LM quality filtering on top of the q85 bigram model: per-doc NLL,
    // integer histogram bucket, keep flag at the cutoff — the
    // CCNet/Gopher perplexity-filter stage.
    "q125_perplexity_filter" -> ((s, dir) =>
      Pipeline.perplexityFilter(Tables.documents(s, dir), "doc_id", "text",
        cutoff = 6.0)),


    // DSIR importance weights (Xie 2023): hashed-bigram bucket histograms
    // for target (lang='en') vs raw, per-doc log-likelihood ratio.
    "q128_dsir" -> ((s, dir) =>
      Pipeline.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", numBuckets = 4096, cutoff = 0.0)),


    // fastText-style hashed linear quality classifier: map-only scan,
    // deterministic hash weights, logistic link.
    "q129_hash_classifier" -> ((s, dir) =>
      TextAnalysis.hashClassifier(Tables.documents(s, dir), "doc_id",
        "text", threshold = 0.5)),


    // Zipf power-law fit over the top-1000 word frequencies — corpus
    // distributional-health statistic (slope ~ -1 for natural text).
    "q131_zipf" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir), "text", topR = 1000)),


    // Gopher heuristic rule filter (Rae 2021): map-only scan, ratios +
    // keep flag. minWords=10 fits the synthetic corpus length range.
    "q133_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text",
        minWords = 10)),


    // Per-source dataset report card: one map-only scan into one
    // hash-aggregate on the source key.
    "q132_source_report" -> ((s, dir) =>
      TextAnalysis.sourceReport(Tables.documents(s, dir), "doc_id", "text",
        "source", lowCutoff = 0.5)),


    // CMS-pruned exact heavy hitters: the sketch pre-filter is a
    // superset (CMS never under-estimates), the exact count re-applies
    // the threshold, so output is exact — oracle is the plain SQL count.
    "q121_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(Tables.documents(s, dir), "text",
        minCount = 900L)),


    "q90_pii" -> ((s, dir) =>
      TextAnalysis.piiScan(Tables.documents(s, dir), "doc_id", "text")),


    // CCNet-style head/middle/tail perplexity bucketing (Wenzek 2020):
    // per-LANGUAGE tertile thresholds of the q85 bigram-LM NLL (broadcast
    // threshold table), docs bucket map-side — the standard "keep the
    // head, maybe the middle" LM-quality partition of a crawl.
    "q219_ccnet_buckets" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // One row per doc; localCheckpoint so the threshold pass and the
      // bucketing pass share ONE materialization of the LM subtree
      // instead of replanning its scans twice (the two-pass shape is
      // inherent to exact quantile thresholds).
      val scored = Pipeline.bigramLmScore(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .filter(col("avg_nll").isNotNull)
        .pin()
      val th = scored.groupBy("lang")
        .agg(graft.ops.Quantiles.pcts(s, col("avg_nll"),
          Seq(1.0 / 3, 2.0 / 3)).as("__t"))
      scored.join(broadcast(th), Seq("lang"))
        .withColumn("bucket",
          when(col("avg_nll") <= col("__t")(0), "head")
            .when(col("avg_nll") <= col("__t")(1), "middle")
            .otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(min("avg_nll"), 6).as("min_nll"),
          round(max("avg_nll"), 6).as("max_nll"))
    }),


    // Hill tail-index estimator (Hill 1975) over per-source doc lengths —
    // the heavy-tail diagnostic that decides whether a source's length
    // distribution has finite moments (alpha <= 1 means infinite mean:
    // token-budget and packing math silently breaks). k = 64 upper order
    // statistics per source; the rank filter is WindowGroupLimit-pruned
    // like q232's sample, so the sort never materializes beyond the top
    // slice per partition; each log term pins to 6 dp before the exact
    // decimal sum (q201's idiom). Sources with <= k docs drop — the
    // estimator is undefined there. k = 16: the gate corpus carries 25
    // docs per source; production would run k ~ sqrt(docs-per-source).
    "q235_hill_tail" -> ((s, dir) => {
      val k = 16
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("len").desc, col("doc_id"))
      val ranked = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          length(col("text")).cast("double").as("len"))
        .withColumn("__rnk", row_number().over(w))
        .filter(col("__rnk") <= k + 1)
        .pin() // the threshold row and the top-k share it
      val thr = ranked.filter(col("__rnk") === k + 1)
        .select(col("source"), col("len").as("__xk"))
      ranked.filter(col("__rnk") <= k)
        .join(broadcast(thr), Seq("source"))
        .withColumn("__t", round(log(col("len") / col("__xk")), 6))
        .groupBy("source")
        .agg(count(lit(1)).as("n_top"), max(col("__xk")).as("x_k"),
          round(graft.core.Det.sumDet(col("__t"), 6) / k, 6)
            .as("mean_log_excess"))
        .withColumn("hill_alpha",
          when(col("mean_log_excess") > 0,
            round(lit(1.0) / col("mean_log_excess"), 6)))
    }),


    // Gini concentration of token mass over the vocabulary, per source —
    // "how much of this source is a few types": template/boilerplate
    // floods push G toward 1, healthy prose sits far lower. Closed form
    // over the ASC-sorted vocab table, G = (2·Σi·c_i − (n+1)·Σc)/(n·Σc)
    // — ALL partials are exact integer sums (order-free), the only
    // double op is the final division. The per-source rank runs over the
    // bounded vocab table (q131's Zipf class), never token rows. At
    // corpus scale where Σi·c_i nears 2^53, route the partials through
    // the split-long idiom (q191) — the division stays one op.
    "q236_token_gini" -> ((s, dir) => {
      val freq = Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.words(col("text"))).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("c"), col("word"))
      freq.withColumn("__i", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum(col("c")).as("total_tokens"),
          sum(col("__i") * col("c")).as("__ic"))
        .withColumn("gini", round(
          (lit(2L) * col("__ic") - (col("n_types") + lit(1L)) *
            col("total_tokens")).cast("double") /
            (col("n_types") * col("total_tokens")).cast("double"), 6))
        .select("source", "n_types", "total_tokens", "gini")
    }),


    // Encoding-corruption (mojibake) audit — the ingest-health check a
    // multi-crawl corpus runs before mixing sources: count the classic
    // UTF-8-decoded-as-Latin-1 digraphs (Ã¡, Ã©) and U+FFFD replacement
    // chars per document, roll up corruption incidence per source. The
    // synthetic corpus is clean by construction, so a deterministic
    // carve injects the defect (doc_id%13 docs get 'a' → 'Ã¡') — q200's
    // generation idiom. Detection is replace-length algebra (codegen'd
    // string ops, no regex): one corpus scan, one bounded rollup.
    "q234_mojibake" -> ((s, dir) => {
      val markers = Seq(("Ã¡", 2), ("Ã©", 2),
        ("�", 1))
      val carved = Tables.documents(s, dir).withColumn("__t",
        when(col("doc_id") % 13 === 0,
          expr("replace(text, 'a', 'Ã¡')"))
          .otherwise(col("text")))
      val bad = markers.map { case (m, l) =>
        ((length(col("__t")) - length(expr(s"replace(__t, '$m', '')")))
          / l).cast("long")
      }.reduce(_ + _)
      carved.withColumn("__bad", bad)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__bad") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("__bad")).as("total_markers"))
        .withColumn("flag_rate",
          round(col("n_flagged").cast("double") / col("n_docs"), 6))
    }),


    // Simple Good–Turing frequency smoothing audit (Good 1953; Gale &
    // Sampson 1995): freq-of-freq table, Turing estimates, unseen mass.
    // All computed on the count-of-counts table — metadata-sized.
    "q244_good_turing" -> ((s, dir) =>
      TextAnalysis.goodTuring(Tables.documents(s, dir), "text", "source")),


    // Moore–Lewis contrastive selection (ACL 2010): in-domain (lang=en)
    // vs general bigram cross-entropy difference per doc.
    "q245_moore_lewis" -> ((s, dir) =>
      Pipeline.mooreLewisScore(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en")),


    // Language-ID confusion matrix: q26's stopword heuristic scored
    // against the labeled lang column — per-class precision/recall/F1.
    "q250_langid_confusion" -> ((s, dir) =>
      TextAnalysis.langIdConfusion(Tables.documents(s, dir), "doc_id",
        "text", "lang")),


    // Bias-corrected Chao1 vocabulary richness (Chao 1984) per source.
    "q252_chao1" -> ((s, dir) =>
      TextAnalysis.chao1(Tables.documents(s, dir), "text", "source")),


    // LM persist/reload workflow (the q140/q253 family on the KN LM):
    // the vocab²-bounded Kneser–Ney model table writes to parquet,
    // reloads, re-scores the corpus, and must equal the direct scores
    // doc-for-doc (parquet round-trips longs and the scalar column
    // exactly) — train-once / score-many-crawls is how an LM filter
    // actually deploys at 100 TB.
    "q256_lm_persist" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = s"${IoQueries.sinkDir}/q256_kn_model"
      graft.core.Tables.writeArtifact(
        Pipeline.kneserNeyModel(docs, "doc_id", "text"), path)
      val direct = Pipeline.kneserNeyLmScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("avg_nll_kn").as("__direct"))
      Pipeline.kneserNeyScore(docs, "doc_id", "text", graft.core.Tables.readStable(s, path))
        .join(direct, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("avg_nll_kn").isNotNull, 1L).otherwise(0L))
            .as("n_scored"),
          sum(when(col("avg_nll_kn") <=> col("__direct"), 1L)
            .otherwise(0L)).as("n_eq"))
        .withColumn("persist_exact", col("n_eq") === col("n_docs"))
    }),


    // Misra-Gries heavy hitters as a mergeable summary (Agarwal 2012
    // merge rule): 8 shard summaries re-merge and every surviving word
    // must satisfy est <= true <= est + N/(k+1) against exact counts.
    "q264_misra_gries" -> ((s, dir) =>
      TextAnalysis.misraGries(Tables.documents(s, dir), "doc_id", "text",
        k = 20, numShards = 8)),


    // TextRank keywords (Mihalcea & Tarau 2004): PageRank on the
    // adjacent-word co-occurrence graph over the >= 25-count vocabulary,
    // scaled-integer loop shared with q153 — exact cross-engine.
    "q267_textrank" -> ((s, dir) =>
      TextAnalysis.textRank(Tables.documents(s, dir), "doc_id", "text",
        minCount = 25, iters = 5)),


    // Word burstiness (Church & Gale 1995): E[tf | present] and the
    // tf variance-to-mean ratio per >= 25-df word — content words clump,
    // function words spread; integer sums, pinned division order.
    "q270_burstiness" -> ((s, dir) =>
      TextAnalysis.burstiness(Tables.documents(s, dir), "doc_id", "text",
        minDf = 25)),


    // Fightin' Words (Monroe/Colaresi/Quinn 2008): Dirichlet-smoothed
    // z-scored log-odds of each word per source vs the rest — the
    // statistically honest "characteristic vocabulary" ranking.
    "q292_fightin_words" -> ((s, dir) =>
      TextAnalysis.fightinWords(Tables.documents(s, dir), "doc_id",
        "text", "source", alphaW = 0.01, minCount = 25)),


    // Markov entropy rate (Shannon 1948): per source, conditional
    // bigram entropy vs unigram entropy — how much one word of context
    // predicts the next; real prose vs shuffled-word spam at equal
    // unigram stats.
    "q293_entropy_rate" -> ((s, dir) =>
      TextAnalysis.entropyRate(Tables.documents(s, dir), "doc_id",
        "text", "source")),


    // Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    // Croft / Zhai & Lafferty) on the q76 terms — the third classic
    // lexical scorer, one word-row scan.
    "q289_query_likelihood" -> ((s, dir) =>
      Pipeline.queryLikelihood(Tables.documents(s, dir), "doc_id", "text",
        terms = Bm25Terms, mu = 10.0)),


    // Positional exact-phrase search for the corpus's top bigram —
    // inverted-index-with-positions retrieval, end-to-end (argmax
    // phrase -> adjacency match -> per-doc stats).
    "q272_phrase_search" -> ((s, dir) =>
      Pipeline.phraseSearch(Tables.documents(s, dir), "doc_id", "text")),


    // Distinct-1/distinct-2 diversity per source (Li et al. 2016) —
    // the degenerate-repetition metric.
    "q275_distinct_n" -> ((s, dir) =>
      TextAnalysis.distinctN(Tables.documents(s, dir), "doc_id", "text",
        "source")),


    // Vocabulary coverage / OOV-rate curve: corpus token mass covered by
    // the top-V words at candidate vocab sizes — the tokenizer-budget
    // audit. The global rank runs over the VOCAB count table (bounded;
    // q131's Zipf class), never over token rows.
    "q221_vocab_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val freq = docs.select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("__c"))
      val tot = freq.agg(sum(col("__c")).as("__tot"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("__c").desc, col("word"))
      freq.withColumn("__rank", row_number().over(w))
        .withColumn("vocab_size",
          explode(array(Seq(100, 1000, 10000, 100000).map(lit): _*)))
        .filter(col("__rank") <= col("vocab_size"))
        .groupBy(col("vocab_size").cast("long").as("vocab_size"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("__c")).as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .withColumn("coverage",
          round(col("covered_tokens").cast("double") / col("__tot"), 6))
        .withColumn("oov_rate",
          round((col("__tot") - col("covered_tokens")).cast("double") /
            col("__tot"), 6))
        .select("vocab_size", "n_types", "covered_tokens", "coverage",
          "oov_rate")
    }),


    // Interpolated Kneser-Ney bigram LM per-doc scoring — the production
    // n-gram smoothing next to q85's add-one baseline.
    "q230_kneser_ney" -> ((s, dir) =>
      Pipeline.kneserNeyLmScore(Tables.documents(s, dir), "doc_id",
        "text")),


    // Inverted-index conjunctive retrieval: posting-list intersection
    // counts for every pair of the 8 highest-df terms.
    "q149_inverted_search" -> ((s, dir) =>
      Pipeline.invertedSearch(Tables.documents(s, dir), "doc_id", "text",
        topK = 8)),


    // Closed-vocabulary OOV masking: words with document frequency < 30
    // become `<unk>`; per doc the masked text and mask counts.
    "q152_unk_mask" -> ((s, dir) =>
      TextAnalysis.unkMask(Tables.documents(s, dir), "doc_id", "text",
        minDf = 30L)),


    // Token-budget epoch planning under the q82 target mixture: 1M-token
    // budget, sources repeating past 4 epochs flagged.
    "q160_token_budget" -> ((s, dir) =>
      Pipeline.tokenBudget(Tables.documents(s, dir), "source", "text",
        budgetTokens = 1000000L, weights = MixWeights)),


    // PMI collocations: pointwise mutual information of adjacent word
    // pairs with count >= 30.
    "q178_pmi_pairs" -> ((s, dir) =>
      TextAnalysis.pmiPairs(Tables.documents(s, dir), "doc_id", "text",
        minCount = 30L)),


    // Per-source-pair vocabulary Jaccard overlap.
    "q179_vocab_overlap" -> ((s, dir) =>
      TextAnalysis.vocabOverlap(Tables.documents(s, dir), "doc_id", "text",
        "source")),


    // BPE end-to-end: train 8 merges on the corpus (bounded-vocab loop,
    // driver syncs one top-1 pair per rank), encode every document with
    // the greedy fold. Golden oracle: tools/golden_bpe.py, an independent
    // pure-Python implementation of the published algorithm.
    "q166_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Bpe.encode(docs, "doc_id", "text",
        graft.llm.Bpe.learnMerges(docs, "text", numMerges = 8)
          .map(m => (m.left, m.right)))
    }),


    // Per-document lexical diversity: TTR, hapax fraction, unigram
    // entropy — document-granularity template/spam signals (q86 is the
    // per-source panel). One exchange end-to-end.
    "q194_lexical_diversity" -> ((s, dir) =>
      TextAnalysis.lexicalDiversity(Tables.documents(s, dir), "doc_id",
        "text")),


    // Heaps'-law vocabulary-growth fit over 64 id-ordered corpus epochs —
    // Zipf's (q131) companion distributional-health diagnostic; β far
    // from ~0.5 flags template floods or vocabulary collapse.
    "q201_heaps_fit" -> ((s, dir) =>
      TextAnalysis.heapsFit(Tables.documents(s, dir), "doc_id", "text")),


    // Tokenizer fertility per language: learned-subword tokens per word
    // and chars per token from the q166 BPE encode, aggregated over the
    // lang tag — the per-language cost table that decides sampling
    // weights when one tokenizer serves a multilingual corpus. Integer
    // sums + one rounded division; golden oracle extends
    // tools/golden_bpe.py's independent implementation.
    "q204_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val enc = graft.llm.Bpe.encode(docs, "doc_id", "text",
        graft.llm.Bpe.learnMerges(docs, "text", numMerges = 8)
          .map(m => (m.left, m.right)))
      docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("__chars"))
        .join(enc.select(col("doc_id"), col("n_words"), col("n_tokens")),
          Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("total_words"),
          sum("n_tokens").as("total_tokens"),
          sum("__chars").as("total_chars"),
          round(sum("n_tokens").cast("double") / sum("n_words"), 6)
            .as("fertility"),
          round(sum("__chars").cast("double") / sum("n_tokens"), 6)
            .as("chars_per_token"))
    }),


    // Filter-agreement matrix: Cohen's kappa between the three main keep
    // decisions (quality score, Gopher rules, perplexity cutoff) — the
    // "are these filters redundant or complementary" question that
    // decides a pipeline's filter stack (q199 asks it for quality vs
    // dup). Three keep columns join on the doc id; all nine counts fold
    // into ONE conditional aggregate; per-pair rows explode from the
    // single aggregate row with the kappa arithmetic op-for-op identical
    // to the oracle's.
    "q208_filter_kappa" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fa = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"),
          coalesce(col("quality_score") >= 0.73, lit(false)).as("fa"))
      val fb = TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 10)
        .select(col("doc_id"), col("keep").as("fb"))
      val fc = Pipeline.perplexityFilter(docs, "doc_id", "text", cutoff = 3.39)
        .select(col("doc_id"), col("kept").as("fc"))
      val j = fa.join(fb, Seq("doc_id")).join(fc, Seq("doc_id"))
      val pairs = Seq(("quality", "gopher", "fa", "fb"),
        ("quality", "perplexity", "fa", "fc"),
        ("gopher", "perplexity", "fb", "fc"))
      val aggExprs = count(lit(1)).as("__n") +:
        pairs.zipWithIndex.flatMap { case ((_, _, x, y), i) =>
          Seq(sum(when(col(x), 1L).otherwise(0L)).as(s"__ka$i"),
            sum(when(col(y), 1L).otherwise(0L)).as(s"__kb$i"),
            sum(when(col(x) && col(y), 1L).otherwise(0L)).as(s"__kab$i"))
        }
      val g = j.agg(aggExprs.head, aggExprs.tail: _*)
      g.select(explode(array(pairs.zipWithIndex.map { case ((na, nb, _, _), i) =>
          struct(lit(na).as("filter_a"), lit(nb).as("filter_b"),
            col("__n").as("n_docs"), col(s"__ka$i").as("n_keep_a"),
            col(s"__kb$i").as("n_keep_b"), col(s"__kab$i").as("n_keep_both"))
        }: _*)).as("p"))
        .select(col("p.*"))
        .withColumn("__pa", col("n_keep_a").cast("double") / col("n_docs"))
        .withColumn("__pb", col("n_keep_b").cast("double") / col("n_docs"))
        .withColumn("__po", (col("n_keep_both") * 2 + col("n_docs")
          - col("n_keep_a") - col("n_keep_b")).cast("double") / col("n_docs"))
        .withColumn("__pe", col("__pa") * col("__pb")
          + (lit(1.0) - col("__pa")) * (lit(1.0) - col("__pb")))
        .select(col("filter_a"), col("filter_b"), col("n_docs"),
          col("n_keep_a"), col("n_keep_b"), col("n_keep_both"),
          round(col("__po"), 6).as("po"), round(col("__pe"), 6).as("pe"),
          // degenerate pair (a filter keeps all or none on both sides):
          // pe = 1 makes kappa 0/0 — NULL on both engines, not an ANSI
          // divide-by-zero
          when(col("__pe") =!= 1.0,
            round((col("__po") - col("__pe")) / (lit(1.0) - col("__pe")), 6))
            .as("kappa"))
    }),


    // TextTiling lexical cohesion (Hearst 1997): adjacent fixed-size
    // token blocks compared by exact-integer cosine — low cohesion +
    // many boundaries flags concatenation artifacts that doc-level
    // quality scores miss.
    "q298_texttiling" -> ((s, dir) =>
      TextAnalysis.textTiling(Tables.documents(s, dir), "doc_id", "text",
        blockTokens = 20, boundaryBelow = 0.15)),


    // Cross-batch LM drift: a Kneser-Ney model trained on the old crawl
    // half scores the new half, rolled up per source - rising unseen
    // fraction / NLL flags sources whose language shifts between
    // generations (the temporal register of q245's in/out-domain
    // Moore-Lewis). Same salted hash split as q308; the left-join
    // scoring surfaces unseen bigrams instead of dropping them.
    "q309_lm_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def half(r: Long) = docs.filter(conv(substring(md5(concat(
        lit("churn1"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 2 === r)
      val model = Pipeline.kneserNeyModel(half(0L), "doc_id", "text")
      Pipeline.kneserNeyScore(half(1L), "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          sum(col("n_unseen")).as("n_unseen"),
          count(col("avg_nll_kn")).as("__ns"),
          graft.core.Det.sumDet(col("avg_nll_kn"), scale = 6).as("__sum"))
        .select(col("source"), col("n_docs"), col("n_bigrams"),
          col("n_unseen"),
          when(col("n_bigrams") > 0, col("n_unseen").cast("double") /
            col("n_bigrams").cast("double")).as("unseen_frac"),
          when(col("__ns") > 0, round(col("__sum") / col("__ns"), 6))
            .as("mean_doc_nll"))
    }),


    // TRAINED fastText-style quality classifier (Joulin 2017; the
    // CCNet/GPT-3 stage that LEARNS the quality model q129 only
    // serves): 3 full-batch logistic-regression steps over 64 hashed
    // features against the q128 target (lang='en'), exact-decimal
    // term sums, 6-dp link rounding. Output: the weight vector a
    // pipeline persists and serves.
    "q325_train_classifier" -> ((s, dir) =>
      TextAnalysis.trainQualityClassifier(Tables.documents(s, dir),
        "doc_id", "text", col("lang") === "en")),


    // The trained classifier's serving pass + per-source report card:
    // document/target/keep/train-accuracy counts and the exact-decimal
    // mean probability — what a corpus build reads before gating on
    // the model.
    "q326_classifier_report" -> ((s, dir) =>
      TextAnalysis.qualityClassifierReport(Tables.documents(s, dir),
        "doc_id", "text", col("lang") === "en", "source")),


    // The persisted-model serve (q140/q319 discipline on the quality
    // model): train -> write the 6-dp weight table to parquet -> reload
    // -> re-serve the report from the artifact alone. The oracle scores
    // from ROUND(w,6) in SQL, so the hash match proves the served
    // report is a pure function of what was persisted.
    "q327_classifier_persist" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = s"${IoQueries.sinkDir}/q327_classifier"
      // fused train→persist→serve-from-artifact (one shared feature
      // table; the served weights still come from the parquet reload)
      TextAnalysis.writeAndServeClassifier(docs, "doc_id", "text",
        col("lang") === "en", "source", path)
    })
  )

  /** The q325/q326 shared training chain as unrolled DuckDB CTEs:
    * `iters` gradient steps over 64 hashed features (the engine's exact
    * arithmetic — 12-dp rounded terms, exact decimal sums, 6-dp link
    * rounding), ending at weight CTE `w<iters>`. */
  private def qcTrainCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""z$i AS (SELECT fx.doc_id, ANY_VALUE(fx.y) AS y,
         |    SUM(CAST(ROUND(w${i - 1}.wt * fx.x, 12) AS DECIMAL(38,12)))
         |      AS z
         |  FROM fx JOIN w${i - 1} USING (b) GROUP BY fx.doc_id),
         |e$i AS (SELECT doc_id,
         |    ROUND(1.0 / (1.0 + exp(-ROUND(CAST(z AS DOUBLE), 6))), 6)
         |      - y AS err FROM z$i),
         |g$i AS (SELECT fx.b,
         |    SUM(CAST(ROUND(e$i.err * fx.x, 12) AS DECIMAL(38,12))) AS g
         |  FROM fx JOIN e$i USING (doc_id) GROUP BY fx.b),
         |w$i AS (SELECT w${i - 1}.b,
         |    w${i - 1}.wt - CAST(COALESCE(g$i.g, 0) AS DOUBLE) / nd.nd
         |      AS wt
         |  FROM w${i - 1} LEFT JOIN g$i USING (b), nd)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id, source,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    $WORDS AS w FROM documents),
       |nn AS (SELECT doc_id, source, y, CAST(len(w) AS DOUBLE) AS n, w
       |  FROM d WHERE len(w) > 0),
       |tok AS (SELECT doc_id, y, n, unnest(w) AS word FROM nn),
       |fx AS (SELECT doc_id, y,
       |    ('0x' || substr(md5('qc:' || word), 1, 15))::BIGINT % 64 AS b,
       |    COUNT(*) / ANY_VALUE(n) AS x
       |  FROM tok GROUP BY doc_id, y, b),
       |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM fx),
       |bk AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS b),
       |w0 AS (SELECT b, 0.0 AS wt FROM bk),
       |$steps""".stripMargin
  }

  /** The q326/q327 shared scoring + per-source rollup tail, scored
    * against weight CTE `wt` — ONE definition so the two oracles (live
    * weights vs the persisted 6-dp table) cannot drift from the single
    * engine-side [[graft.llm.TextAnalysis]] reportRollup. */
  private def qcReportSql(wt: String): String =
    s"""sc AS (SELECT fx.doc_id, ANY_VALUE(fx.y) AS y,
       |    ROUND(1.0 / (1.0 + exp(-ROUND(CAST(
       |      SUM(CAST(ROUND($wt.wt * fx.x, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE), 6))), 6) AS p
       |  FROM fx JOIN $wt USING (b) GROUP BY fx.doc_id)
       |SELECT nn.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(sc.y) AS BIGINT) AS n_target,
       |  CAST(SUM(CASE WHEN sc.p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep,
       |  CAST(SUM(CASE WHEN (sc.p >= 0.5) = (sc.y = 1.0)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  ROUND(CAST(SUM(CAST(sc.p AS DECIMAL(38,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_p
       |FROM sc JOIN nn USING (doc_id) GROUP BY 1""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q325_train_classifier" ->
      s"""${qcTrainCtes(3)}
         |SELECT b AS bucket, ROUND(wt, 6) AS weight FROM w3""".stripMargin,


    "q327_classifier_persist" ->
      s"""${qcTrainCtes(3)},
         |wr AS (SELECT b, ROUND(wt, 6) AS wt FROM w3),
         |${qcReportSql("wr")}""".stripMargin,


    "q326_classifier_report" ->
      s"""${qcTrainCtes(3)},
         |${qcReportSql("w3")}""".stripMargin,

    "q90_pii" -> {
      val pats = TextAnalysis.PiiPatterns
      val counts = pats.map { case (name, pat, _) =>
        s"len(regexp_extract_all(text, '$pat')) AS n_$name"
      }.mkString(",\n  ")
      val redacted = pats.foldLeft("text") {
        case (c, (_, pat, tok)) => s"regexp_replace($c, '$pat', '$tok', 'g')"
      }
      s"""SELECT doc_id, $counts,
         |  $redacted AS redacted
         |FROM documents""".stripMargin
    },


    // The sketch stage is result-invariant (superset prune + exact
    // re-count), so the oracle is the exact count alone.
    "q121_heavy_hitters" ->
      s"""SELECT word, COUNT(*) AS cnt
         |FROM (SELECT unnest($WORDS) AS word FROM documents)
         |GROUP BY 1 HAVING COUNT(*) >= 900""".stripMargin,


    "q26_langid" -> langSelectSql,


    "q27_quality" -> qualitySelectSql,


    "q28_tokens" ->
      s"""SELECT doc_id,
         |  len($WORDS) AS ws_tokens,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
         |  len(list_distinct($WORDS)) AS distinct_tokens,
         |  length(text) AS n_chars_computed
         |FROM documents""".stripMargin,


    "q29_fingerprint" ->
      s"""SELECT doc_id, COALESCE(list_reduce(
         |  list_transform($WORDS, w2 -> ('0x' || substr(md5(w2), 1, 8))::BIGINT % 1000000007),
         |  (a, b) -> (a * 31 + b) % 1000000007), 0) AS fingerprint
         |FROM documents""".stripMargin,


    // Byte-exact replay of the byte-fold feature path from hex(payload):
    // per-lane ascending double sums, one float32 rounding per lane, then
    // the integer checksum fold — mirrors Multimodal.byteFoldFeatures and
    // the extractFeatures checksum exactly.
    "q74_media_features" ->
      s"""WITH b AS (
         |  SELECT doc_id, list_transform(range(0, octet_length(encode(text))), i ->
         |    ('0x' || substr(hex(encode(text)), (2*i+1)::INT, 2))::INT / 255.0) AS vals
         |  FROM documents),
         |lanes AS (
         |  SELECT doc_id, list_transform(range(0, 8), j ->
         |    CAST(CAST(CASE WHEN len(list_filter(vals, (x, i) -> (i-1) % 8 = j)) = 0
         |      THEN 0.0
         |      ELSE list_reduce(list_filter(vals, (x, i) -> (i-1) % 8 = j),
         |        (a, c) -> a + c) END AS FLOAT) AS DOUBLE)) AS f
         |  FROM b)
         |SELECT doc_id AS id, 'opaque' AS kind, 8 AS dim,
         |  CAST(list_reduce(list_prepend(17.0::DOUBLE, f),
         |    (a, c) -> a * 31 + round(c * 1000)) AS BIGINT) AS checksum
         |FROM lanes""".stripMargin,


    "q105_frame_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) // 96 AS n_frames
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, n_frames, hx,
         |    unnest(range(0, n_frames, greatest(1, n_frames // 4))) AS frame_idx
         |  FROM b WHERE n_frames > 0),
         |fb AS (
         |  SELECT doc_id, frame_idx, n_frames,
         |    list_transform(range(0, 96), i ->
         |      ('0x' || substr(hx, (2 * (frame_idx * 96 + i) + 1)::INT, 2))::BIGINT) AS bytes
         |  FROM f)
         |SELECT doc_id AS id, frame_idx, n_frames,
         |  list_reduce(bytes, (a, c) -> a + c) / 96.0 AS mean_byte,
         |  list_reduce(list_prepend(17::BIGINT, bytes),
         |    (a, c) -> (a * 31 + c) % 1000000007) AS checksum
         |FROM fb""".stripMargin,


    "q73_vocab" ->
      s"""SELECT word, df, tf,
         |  ROUND(ln((n_docs + 1.0) / (df + 1.0)), 6) AS idf
         |FROM (
         |  SELECT word, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($WORDS) AS word FROM documents)
         |  GROUP BY word)
         |CROSS JOIN (SELECT COUNT(*) AS n_docs FROM documents)
         |WHERE df >= 25""".stripMargin,


    "q75_tfidf" ->
      s"""WITH wr AS (SELECT doc_id, unnest($WORDS) AS word FROM documents),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wr GROUP BY 1, 2),
         |dfx AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM wr GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT doc_id, word, tf, tfidf, rnk FROM (
         |  SELECT doc_id, word, tf,
         |    ROUND(tf * ROUND(ln((n_docs + 1.0) / (df + 1.0)), 6), 6) AS tfidf,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY ROUND(tf * ROUND(ln((n_docs + 1.0) / (df + 1.0)), 6), 6) DESC,
         |               word) AS rnk
         |  FROM tf JOIN dfx USING (word) CROSS JOIN n)
         |WHERE rnk <= 5""".stripMargin,


    // Mirrors Pipeline.bm25 term by term: every double op is written in
    // the same association order, so only ln needs the 6-digit pin.
    "q76_bm25" -> bm25Sql,


    "q160_token_budget" -> {
      val cases = MixWeights.toSeq.sortBy(_._1)
        .map { case (s, w) => s"WHEN '$s' THEN $w::DOUBLE" }
        .mkString(" ")
      s"""WITH t AS (
         |  SELECT source, CAST(SUM(len($WORDS)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT source, n_tokens,
         |    CASE source $cases ELSE 0.0::DOUBLE END AS weight
         |  FROM t)
         |SELECT source, n_tokens, weight,
         |  ROUND(1000000 * weight, 6) AS alloc_tokens,
         |  ROUND(1000000 * weight / n_tokens, 6) AS epochs,
         |  (1000000 * weight / n_tokens > 4.0::DOUBLE) AS over_cap
         |FROM w""".stripMargin
    },


    "q166_bpe_encode" -> KernelQueries.golden("q166_bpe_encode"),

    "q204_fertility" -> KernelQueries.golden("q204_fertility"),


    "q178_pmi_pairs" ->
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |b2 AS (
         |  SELECT bg[1] AS w1, bg[2] AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(
         |          range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         |        FROM wr WHERE len(w) >= 2)),
         |uni AS (SELECT word, COUNT(*) AS c
         |        FROM (SELECT unnest($WORDS) AS word FROM documents)
         |        GROUP BY 1),
         |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2),
         |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
         |nb AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_big FROM big)
         |SELECT w1, w2, c12,
         |  ROUND(ln(((c12::DOUBLE * n_tok) * n_tok) /
         |    ((n_big::DOUBLE * u1.c) * u2.c)), 6) AS pmi
         |FROM big JOIN uni u1 ON u1.word = w1
         |         JOIN uni u2 ON u2.word = w2
         |         CROSS JOIN nt CROSS JOIN nb
         |WHERE c12 >= 30""".stripMargin,


    "q179_vocab_overlap" ->
      s"""WITH sv AS (
         |  SELECT DISTINCT source, word
         |  FROM (SELECT source, unnest($WORDS) AS word FROM documents)),
         |sz AS (SELECT source, COUNT(*) AS n FROM sv GROUP BY 1),
         |i AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS n_common
         |  FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |  ROUND(n_common::DOUBLE / (sa.n + sb.n - n_common), 6) AS jaccard
         |FROM i JOIN sz sa ON sa.source = i.source_a
         |       JOIN sz sb ON sb.source = i.source_b""".stripMargin,


    "q85_bigram_lm" -> bigramLmSql,


    "q125_perplexity_filter" ->
      s"""SELECT doc_id, n_bigrams, avg_nll,
         |  CAST(floor(avg_nll) AS BIGINT) AS bucket,
         |  COALESCE(avg_nll <= 6.0, false) AS kept
         |FROM ($bigramLmSql)""".stripMargin,


    "q128_dsir" ->
      s"""WITH wr AS (SELECT doc_id, lang = 'en' AS tgt, $WORDS AS w
         |            FROM documents),
         |bg AS (
         |  SELECT doc_id, tgt,
         |    ('0x' || substr(md5(bgs), 1, 15))::BIGINT % 4096 AS b
         |  FROM (SELECT doc_id, tgt, unnest(list_transform(
         |          range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bgs
         |        FROM wr WHERE len(w) >= 2)),
         |perdoc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |rawh AS (SELECT b, COUNT(*) AS cr FROM bg GROUP BY 1),
         |tgth AS (SELECT b, COUNT(*) AS ct FROM bg WHERE tgt GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS nr,
         |  CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt FROM bg),
         |ratio AS (
         |  SELECT rawh.b, ROUND(
         |    ln((COALESCE(ct, 0) + 1.0) / CAST(nt + 4096 AS DOUBLE)) -
         |    ln((cr + 1.0) / CAST(nr + 4096 AS DOUBLE)), 6) AS lr
         |  FROM rawh LEFT JOIN tgth USING (b) CROSS JOIN tot),
         |pd AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feat,
         |    ROUND(${graft.core.Det.sumDetSql("c * lr", 6)}, 6) AS logw
         |  FROM perdoc JOIN ratio USING (b) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_feat, 0) AS n_feat, logw,
         |  COALESCE(logw >= 0.0, false) AS kept
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,


    "q133_gopher_rules" -> gopherSelectSql,


    "q131_zipf" -> {
      val sd = (e: String) => graft.core.Det.sumDetSql(e, 6)
      s"""WITH wc AS (
         |  SELECT word, COUNT(*) AS cnt
         |  FROM (SELECT unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1 ORDER BY cnt DESC, word LIMIT 1000),
         |t AS (
         |  SELECT ROUND(ln(ROW_NUMBER() OVER (ORDER BY cnt DESC, word)), 6) AS x,
         |    ROUND(ln(cnt), 6) AS y
         |  FROM wc),
         |s AS (
         |  SELECT COUNT(*) AS n, ${sd("x")} AS sx, ${sd("y")} AS sy,
         |    ${sd("x * y")} AS sxy, ${sd("x * x")} AS sxx
         |  FROM t)
         |SELECT n,
         |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
         |    6) AS intercept
         |FROM s""".stripMargin
    },


    "q132_source_report" ->
      s"""WITH q AS (
         |  SELECT source, n_words, quality_score FROM (
         |    SELECT source, len(w) AS n_words,
         |      ROUND(0.4 * ROUND(len(list_distinct(w))::DOUBLE / len(w), 6)
         |        + 0.3 * LEAST(len(w)::DOUBLE / 50.0, 1.0)
         |        + 0.3 * (1.0 - ROUND(len(list_filter(w, x -> x IN
         |            (${TextAnalysis.stopwords.head._2.map(x => s"'$x'").mkString(", ")})))::DOUBLE
         |          / len(w), 6)), 6) AS quality_score
         |    FROM (SELECT source, $WORDS AS w FROM documents)))
    |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN n_words = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_empty,
         |  ROUND(${graft.core.Det.avgDetSql("n_words::DOUBLE", 0)}, 6)
         |    AS avg_words,
         |  ROUND(${graft.core.Det.avgDetSql(
              "CASE WHEN n_words > 0 THEN quality_score END", 6)}, 6)
         |    AS avg_quality,
         |  ROUND(SUM(CASE WHEN n_words > 0 AND quality_score < 0.5
         |      THEN 1 ELSE 0 END)::DOUBLE
         |    / COUNT(CASE WHEN n_words > 0 THEN quality_score END), 6)
         |    AS low_quality_rate
         |FROM q GROUP BY 1""".stripMargin,


    "q129_hash_classifier" ->
      s"""SELECT doc_id, n_words, margin,
         |  CASE WHEN margin IS NOT NULL
         |    THEN ROUND(1.0 / (1.0 + exp(-margin)), 6) END AS prob,
         |  COALESCE(CASE WHEN margin IS NOT NULL
         |    THEN ROUND(1.0 / (1.0 + exp(-margin)), 6) END >= 0.5,
         |    false) AS label
         |FROM (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CASE WHEN len(w) > 0 THEN ROUND(list_reduce(
         |      list_transform(w, x ->
         |        ((('0x' || substr(md5('clf:' || x), 1, 15))::BIGINT % 2001)
         |          - 1000) / 1000.0),
         |      (a, b) -> a + b) / len(w), 6) END AS margin
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents))""".stripMargin,


    "q107_bpe_pairs" ->
      s"""WITH wc AS (
         |  SELECT word, COUNT(*) AS c
         |  FROM (SELECT unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1),
         |sym AS (SELECT c, string_split(word || '_', '') AS s FROM wc),
         |pairs AS (
         |  SELECT c, s[i] AS sym_a, s[i + 1] AS sym_b
         |  FROM sym, unnest(range(1, len(s))) AS t(i))
         |SELECT sym_a, sym_b, CAST(SUM(c) AS BIGINT) AS pair_count
         |FROM pairs GROUP BY 1, 2 HAVING SUM(c) >= 10""".stripMargin,


    "q109_doc_chunks" ->
      s"""WITH d AS (SELECT doc_id, $WORDS AS w FROM documents),
         |nn AS (SELECT doc_id, w, len(w) AS n FROM d WHERE len(w) > 0),
         |st AS (
         |  SELECT doc_id, w, n,
         |    unnest(CASE WHEN n <= 24 THEN [CAST(0 AS BIGINT)]
         |      ELSE list_distinct(list_append(range(0, n - 24, 16), n - 24))
         |      END) AS start
         |  FROM nn)
         |SELECT doc_id, CAST(start AS BIGINT) AS start_word,
         |  CAST(LEAST(24, n - start) AS BIGINT) AS n_words,
         |  array_to_string(w[start + 1 : start + 24], ' ') AS chunk
         |FROM st""".stripMargin,


    "q110_length_buckets" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, CAST(len($WORDS) AS BIGINT) AS n_words
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, source, n_words,
         |    CAST(CASE WHEN n_words <= 16 THEN 16 WHEN n_words <= 32 THEN 32
         |      WHEN n_words <= 64 THEN 64 WHEN n_words <= 128 THEN 128
         |      ELSE 256 END AS BIGINT) AS bucket,
         |    ('0x' || substr(md5('lbb1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      % 4 AS shard
         |  FROM d WHERE n_words > 0)
         |SELECT doc_id, source, n_words, bucket, shard,
         |  (ROW_NUMBER() OVER (PARTITION BY source, shard, bucket
         |     ORDER BY doc_id) - 1) // (256 // bucket) AS batch_id,
         |  CAST(bucket - LEAST(n_words, bucket) AS DOUBLE) / bucket AS pad_frac
         |FROM b""".stripMargin,


    "q219_ccnet_buckets" ->
      s"""WITH lm AS ($bigramLmSql),
         |sc AS (
         |  SELECT l.doc_id, d.lang, l.avg_nll
         |  FROM lm l JOIN documents d USING (doc_id)
         |  WHERE l.avg_nll IS NOT NULL),
         |th AS (
         |  SELECT lang, quantile_cont(avg_nll,
         |    [${1.0 / 3}, ${2.0 / 3}]) AS t
         |  FROM sc GROUP BY 1)
         |SELECT sc.lang,
         |  CASE WHEN avg_nll <= t[1] THEN 'head'
         |       WHEN avg_nll <= t[2] THEN 'middle'
         |       ELSE 'tail' END AS bucket,
         |  COUNT(*) AS n_docs,
         |  ROUND(MIN(avg_nll), 6) AS min_nll,
         |  ROUND(MAX(avg_nll), 6) AS max_nll
         |FROM sc JOIN th USING (lang)
         |GROUP BY 1, 2""".stripMargin,


    "q235_hill_tail" -> {
      val sd = graft.core.Det.sumDetSql("tt", 6)
      s"""WITH b AS (
         |  SELECT source, doc_id, LENGTH(text)::DOUBLE AS len
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, len, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY len DESC, doc_id) AS rnk
         |  FROM b),
         |thr AS (SELECT source, len AS xk FROM r WHERE rnk = 17),
         |t AS (
         |  SELECT r.source, ROUND(ln(r.len / thr.xk), 6) AS tt
         |  FROM r JOIN thr USING (source) WHERE rnk <= 16),
         |g AS (
         |  SELECT source, COUNT(*) AS n_top, $sd AS st
         |  FROM t GROUP BY 1)
         |SELECT g.source, g.n_top, thr.xk AS x_k,
         |  ROUND(st / 16, 6) AS mean_log_excess,
         |  CASE WHEN ROUND(st / 16, 6) > 0
         |       THEN ROUND(1.0::DOUBLE / ROUND(st / 16, 6), 6) END
         |    AS hill_alpha
         |FROM g JOIN thr USING (source)""".stripMargin
    },


    "q236_token_gini" ->
      s"""WITH f AS (
         |  SELECT source, word, COUNT(*) AS c FROM (
         |    SELECT source, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT source, c, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY c, word) AS i
         |  FROM f),
         |g AS (
         |  SELECT source, COUNT(*) AS n_types,
         |    CAST(SUM(c) AS BIGINT) AS total_tokens,
         |    CAST(SUM(i * c) AS BIGINT) AS ic
         |  FROM r GROUP BY 1)
         |SELECT source, n_types, total_tokens,
         |  ROUND((2 * ic - (n_types + 1) * total_tokens)::DOUBLE
         |    / (n_types * total_tokens)::DOUBLE, 6) AS gini
         |FROM g""".stripMargin,


    "q234_mojibake" ->
      """WITH carved AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 13 = 0 THEN replace(text, 'a', 'Ã¡')
        |         ELSE text END AS t
        |  FROM documents),
        |cnt AS (
        |  SELECT source,
        |    (LENGTH(t) - LENGTH(replace(t, 'Ã¡', ''))) // 2
        |    + (LENGTH(t) - LENGTH(replace(t, 'Ã©', ''))) // 2
        |    + (LENGTH(t) - LENGTH(replace(t, '�', ''))) AS bad
        |  FROM carved)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  CAST(SUM(bad) AS BIGINT) AS total_markers,
        |  ROUND(SUM(CASE WHEN bad > 0 THEN 1 ELSE 0 END)::DOUBLE
        |    / COUNT(*), 6) AS flag_rate
        |FROM cnt GROUP BY 1""".stripMargin,


    "q256_lm_persist" ->
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |b2 AS (
         |  SELECT doc_id, bg[1] AS w1, bg[2] AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(
         |          range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         |        FROM wr WHERE len(w) >= 2)),
         |counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2),
         |pd AS (SELECT doc_id, COUNT(*) AS n_bigrams FROM b2 GROUP BY 1),
         |s AS (
         |  SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(CASE WHEN n_bigrams IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_scored
         |  FROM documents d LEFT JOIN pd USING (doc_id))
         |SELECT n_docs, n_scored, n_docs AS n_eq, TRUE AS persist_exact
         |FROM s""".stripMargin,


    "q292_fightin_words" ->
      s"""WITH c AS (
         |  SELECT grp, word, COUNT(*) AS y FROM (
         |    SELECT source AS grp, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |w AS (
         |  SELECT word, CAST(SUM(y) AS BIGINT) AS yw FROM c GROUP BY 1
         |  HAVING CAST(SUM(y) AS BIGINT) >= 25),
         |g AS (SELECT grp, CAST(SUM(y) AS BIGINT) AS ni FROM c
         |      GROUP BY 1),
         |k AS (SELECT c.grp, c.word, y, yw, ni
         |      FROM c JOIN w USING (word) JOIN g USING (grp)),
         |t AS (SELECT CAST(SUM(y) AS BIGINT) AS n,
         |        COUNT(DISTINCT word) AS v FROM k),
         |sc AS (
         |  SELECT grp, word, y, yw,
         |    ROUND(ln((y + 0.01::DOUBLE)
         |      / (ni + 0.01::DOUBLE * v - y - 0.01::DOUBLE)), 6) AS l1,
         |    ROUND(ln(((yw - y) + 0.01::DOUBLE)
         |      / (n - ni + 0.01::DOUBLE * v - (yw - y) - 0.01::DOUBLE)),
         |      6) AS l2,
         |    1.0::DOUBLE / (y + 0.01::DOUBLE)
         |      + 1.0::DOUBLE / ((yw - y) + 0.01::DOUBLE) AS var
         |  FROM k, t)
         |SELECT grp AS source, word, y, yw AS y_total,
         |  ROUND(l1 - l2, 6) + 0.0 AS log_odds,
         |  ROUND((l1 - l2) / sqrt(var), 4) + 0.0 AS z
         |FROM sc""".stripMargin,


    "q293_entropy_rate" ->
      s"""WITH uc AS (
         |  SELECT grp, word, COUNT(*) AS c FROM (
         |    SELECT source AS grp, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |un AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_tokens FROM uc
         |       GROUP BY 1),
         |hu AS (
         |  SELECT grp, MAX(n_tokens) AS n_tokens,
         |    CAST(SUM(CAST(ROUND(c * ln(c::DOUBLE / n_tokens), 6)
         |      AS DECIMAL(24,6))) AS DOUBLE) AS su
         |  FROM uc JOIN un USING (grp) GROUP BY 1),
         |b2 AS (
         |  SELECT grp, bg[1] AS w1, bg[2] AS w2 FROM (
         |    SELECT source AS grp, unnest(list_transform(
         |      range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         |    FROM (SELECT source, doc_id, $WORDS AS w FROM documents)
         |    WHERE len(w) >= 2)),
         |bg AS (SELECT grp, w1, w2, COUNT(*) AS c12 FROM b2
         |       GROUP BY 1, 2, 3),
         |ctx AS (SELECT grp, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg
         |        GROUP BY 1, 2),
         |bn AS (SELECT grp, CAST(SUM(c12) AS BIGINT) AS n_bigrams
         |       FROM bg GROUP BY 1),
         |hc AS (
         |  SELECT grp, CAST(SUM(CAST(ROUND(c12 * ln(c12::DOUBLE / c1), 6)
         |    AS DECIMAL(24,6))) AS DOUBLE) AS sc2
         |  FROM bg JOIN ctx USING (grp, w1) GROUP BY 1)
         |SELECT grp AS source, n_tokens, n_bigrams,
         |  ROUND(-su / n_tokens, 6) AS h_unigram,
         |  ROUND(-sc2 / n_bigrams, 6) AS h_cond,
         |  ROUND(-su / n_tokens - (-sc2 / n_bigrams), 6) + 0.0
         |    AS info_gain
         |FROM hu JOIN hc USING (grp) JOIN bn USING (grp)""".stripMargin,


    "q289_query_likelihood" -> {
      val ts = Bm25Terms
      val tfCols = ts.indices.map(i =>
        s"CAST(SUM(CASE WHEN word = '${ts(i)}' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i")
        .mkString(", ")
      val cfCols = ts.indices.map(i =>
        s"CAST(SUM(tf$i) AS BIGINT) AS cf$i").mkString(", ")
      val contribs = ts.indices.map(i =>
        s"""ROUND(ln((tf$i::DOUBLE + 10.0::DOUBLE * (cf$i::DOUBLE / ct))
           | / (dl::DOUBLE + 10.0::DOUBLE)), 6)""".stripMargin
          .replace("\n", ""))
        .mkString(" + ")
      s"""WITH wr AS (SELECT doc_id, unnest($WORDS) AS word FROM documents),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS dl, $tfCols
         |  FROM wr GROUP BY 1),
         |c AS (SELECT CAST(SUM(dl) AS BIGINT) AS ct, $cfCols FROM pd)
         |SELECT doc_id, dl, ROUND($contribs, 6) + 0.0 AS score
         |FROM pd, c""".stripMargin
    },


    "q272_phrase_search" ->
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, i - 1 AS pos, w[i] AS w1, w[i+1] AS w2
         |  FROM wr, unnest(range(1, len(w))) AS t(i)),
         |top AS (
         |  SELECT w1, w2 FROM bg GROUP BY 1, 2
         |  QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w1, w2) = 1)
         |SELECT doc_id, w1 || ' ' || w2 AS phrase, COUNT(*) AS n_matches,
         |  CAST(MIN(pos) AS BIGINT) AS first_pos
         |FROM bg JOIN top USING (w1, w2)
         |GROUP BY 1, 2""".stripMargin,


    "q275_distinct_n" ->
      s"""WITH u AS (
         |  SELECT source, COUNT(*) AS n_tokens,
         |    COUNT(DISTINCT word) AS n_distinct_1
         |  FROM (SELECT source, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1),
         |b AS (
         |  SELECT source, COUNT(DISTINCT g) AS n_distinct_2 FROM (
         |    SELECT source, unnest(${shinglesSql(2)}) AS g
         |    FROM (SELECT source, $WORDS AS w FROM documents))
         |  GROUP BY 1),
         |t AS (
         |  SELECT source, CAST(SUM(CASE WHEN len(w) > 1 THEN len(w) - 1
         |    ELSE 0 END) AS BIGINT) AS n_bigrams
         |  FROM (SELECT source, $WORDS AS w FROM documents) GROUP BY 1)
         |SELECT source, n_tokens, n_distinct_1,
         |  ROUND(n_distinct_1::DOUBLE / n_tokens, 6) AS distinct_1,
         |  n_bigrams, n_distinct_2,
         |  CASE WHEN n_bigrams > 0 THEN
         |    ROUND(n_distinct_2::DOUBLE / n_bigrams, 6) END AS distinct_2
         |FROM u JOIN b USING (source) JOIN t USING (source)""".stripMargin,


    "q267_textrank" -> {
      val S = graft.ops.PageRank.SCALE
      val iter = (k: Int) =>
        s"""r$k AS (
           |  SELECT n0.node,
           |    (15 * (SELECT $S // n FROM n)
           |      + 85 * COALESCE(m.in_mass, 0)) // 100 AS pr
           |  FROM nodes n0 LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(SUM(r.pr // d.deg) AS BIGINT) AS in_mass
           |    FROM r${k - 1} r JOIN deg d USING (node)
           |    JOIN edges e ON e.src = r.node
           |    GROUP BY 1) m USING (node))""".stripMargin
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |bg AS (
         |  SELECT bg[1] AS w1, bg[2] AS w2
         |  FROM (SELECT unnest(list_transform(range(1, len(w)),
         |          i -> [w[i], w[i+1]])) AS bg
         |        FROM wr WHERE len(w) >= 2)
         |  WHERE bg[1] <> bg[2]),
         |vocab AS (
         |  SELECT word, ROW_NUMBER() OVER (ORDER BY word) AS nid FROM (
         |    SELECT word FROM (SELECT unnest(w) AS word FROM wr)
         |    GROUP BY 1 HAVING COUNT(*) >= 25)),
         |adj AS (
         |  SELECT DISTINCT LEAST(a.nid, b.nid) AS u,
         |    GREATEST(a.nid, b.nid) AS v
         |  FROM bg JOIN vocab a ON a.word = bg.w1
         |  JOIN vocab b ON b.word = bg.w2),
         |edges AS (SELECT u AS src, v AS dst FROM adj
         |          UNION ALL SELECT v, u FROM adj),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst AS node FROM edges),
         |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges
         |        GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT node, (SELECT $S // n FROM n) AS pr FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT v.word, r.pr AS rank_scaled
         |FROM r5 r JOIN vocab v ON v.nid = r.node""".stripMargin
    },


    "q270_burstiness" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |a AS (
         |  SELECT word, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT)
         |    AS tf_total, CAST(SUM(tf * tf) AS BIGINT) AS tf2
         |  FROM tf GROUP BY 1 HAVING COUNT(*) >= 25),
         |m AS (SELECT word, df, tf_total, tf2,
         |  tf_total::DOUBLE / df AS m FROM a)
         |SELECT word, df, tf_total, ROUND(m, 6) AS mean_tf,
         |  ROUND((tf2::DOUBLE / df - m * m) / m, 6) + 0.0 AS vmr
         |FROM m""".stripMargin,


    "q264_misra_gries" ->
      s"""WITH wc AS (
         |  SELECT doc_id % 8 AS shard, word, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |sp AS (
         |  SELECT shard, word, c, ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY c DESC, word) AS rn
         |  FROM wc),
         |pv AS (
         |  SELECT shard, COALESCE(MAX(CASE WHEN rn = 21 THEN c END), 0)
         |    AS pvt FROM sp GROUP BY 1),
         |ss AS (
         |  SELECT word, c - pvt AS e FROM sp JOIN pv USING (shard)
         |  WHERE c > pvt),
         |ms AS (SELECT word, CAST(SUM(e) AS BIGINT) AS se FROM ss
         |  GROUP BY 1),
         |mp AS (
         |  SELECT COALESCE(MAX(CASE WHEN rn = 21 THEN se END), 0)
         |    AS pvt2
         |  FROM (SELECT se, ROW_NUMBER() OVER (ORDER BY se DESC, word)
         |    AS rn FROM ms)),
         |mg AS (
         |  SELECT word, se - pvt2 AS est_count FROM ms, mp
         |  WHERE se > pvt2),
         |ex AS (SELECT word, CAST(SUM(c) AS BIGINT) AS true_count
         |  FROM wc GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM wc)
         |SELECT word, est_count, true_count,
         |  true_count - est_count AS err,
         |  (est_count <= true_count
         |    AND (true_count - est_count) * 21 <= n) AS bound_ok
         |FROM mg JOIN ex USING (word), tot""".stripMargin,


    "q250_langid_confusion" ->
      s"""WITH pred AS ($langSelectSql),
         |j AS (SELECT d.lang, p.pred_lang
         |      FROM documents d JOIN pred p USING (doc_id)),
         |t AS (
         |  SELECT lang, COUNT(*) AS n_true,
         |    CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct
         |  FROM j GROUP BY 1),
         |p AS (SELECT pred_lang AS lang, COUNT(*) AS n_pred
         |      FROM j GROUP BY 1),
         |m AS (
         |  SELECT t.lang, n_true, COALESCE(n_pred, 0) AS n_pred, n_correct,
         |    CASE WHEN COALESCE(n_pred, 0) > 0
         |      THEN n_correct::DOUBLE / n_pred END AS pr,
         |    n_correct::DOUBLE / n_true AS rc
         |  FROM t LEFT JOIN p USING (lang))
         |SELECT lang, n_true, n_pred, n_correct,
         |  ROUND(pr, 6) AS "precision", ROUND(rc, 6) AS recall,
         |  ROUND(CASE WHEN pr + rc > 0.0::DOUBLE
         |    THEN 2.0 * pr * rc / (pr + rc) ELSE 0.0::DOUBLE END, 6) AS f1
         |FROM m""".stripMargin,


    "q252_chao1" ->
      s"""WITH f AS (
         |  SELECT source, word, COUNT(*) AS c FROM (
         |    SELECT source, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |a AS (
         |  SELECT source, COUNT(*) AS n_types,
         |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM f GROUP BY 1)
         |SELECT source, n_types, n1, n2,
         |  ROUND(n_types + (n1 * (n1 - 1))::DOUBLE / (2.0 * (n2 + 1)), 4)
         |    AS chao1
         |FROM a""".stripMargin,


    "q244_good_turing" ->
      s"""WITH f AS (
         |  SELECT source, word, COUNT(*) AS c FROM (
         |    SELECT source, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |nr AS (SELECT source, c AS r, COUNT(*) AS n_r FROM f GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         |          COUNT(*) AS n_types
         |        FROM f GROUP BY 1),
         |n1 AS (SELECT source, n_r AS c1 FROM nr WHERE r = 1),
         |l AS (
         |  SELECT source, r, n_r,
         |    lead(r) OVER (PARTITION BY source ORDER BY r) AS rnext,
         |    lead(n_r) OVER (PARTITION BY source ORDER BY r) AS nnext
         |  FROM nr)
         |SELECT l.source, r, n_r,
         |  ROUND(CASE WHEN rnext = r + 1
         |    THEN (r + 1)::DOUBLE * nnext / n_r END, 6) AS r_star,
         |  ROUND(COALESCE(c1, 0)::DOUBLE / n, 6) AS p_unseen
         |FROM l JOIN tot USING (source) LEFT JOIN n1 USING (source)
         |WHERE r <= 10""".stripMargin,


    "q245_moore_lewis" ->
      s"""WITH wr AS (
         |  SELECT doc_id, lang = 'en' AS sd, $WORDS AS w FROM documents),
         |b2 AS (
         |  SELECT doc_id, sd, bg[1] AS w1, bg[2] AS w2
         |  FROM (SELECT doc_id, sd, unnest(list_transform(
         |          range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         |        FROM wr WHERE len(w) >= 2)),
         |cg AS (SELECT w1, w2, COUNT(*) AS cg12 FROM b2 GROUP BY 1, 2),
         |ci AS (SELECT w1, w2, COUNT(*) AS ci12 FROM b2 WHERE sd
         |       GROUP BY 1, 2),
         |ctxg AS (SELECT w1, CAST(SUM(cg12) AS BIGINT) AS cg1
         |         FROM cg GROUP BY 1),
         |ctxi AS (SELECT w1, CAST(SUM(ci12) AS BIGINT) AS ci1
         |         FROM ci GROUP BY 1),
         |vg AS (SELECT COUNT(DISTINCT word) AS vg
         |       FROM (SELECT unnest(w) AS word FROM wr)),
         |vi AS (SELECT COUNT(DISTINCT word) AS vi
         |       FROM (SELECT unnest(w) AS word FROM wr WHERE sd)),
         |terms AS (
         |  SELECT doc_id,
         |    ROUND(-ln((cg12 + 1.0) / CAST(cg1 + vg AS DOUBLE)), 6) AS ng,
         |    ROUND(-ln((COALESCE(ci12, 0) + 1.0)
         |      / CAST(COALESCE(ci1, 0) + vi AS DOUBLE)), 6) AS ni
         |  FROM b2
         |  JOIN cg USING (w1, w2) JOIN ctxg USING (w1)
         |  LEFT JOIN ci USING (w1, w2) LEFT JOIN ctxi USING (w1)
         |  CROSS JOIN vg CROSS JOIN vi),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams,
         |    ROUND(${graft.core.Det.sumDetSql("ng", 6)} / COUNT(*), 6)
         |      AS avg_nll_gen,
         |    ROUND(${graft.core.Det.sumDetSql("ni", 6)} / COUNT(*), 6)
         |      AS avg_nll_in
         |  FROM terms GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
         |  avg_nll_gen, avg_nll_in,
         |  ROUND(avg_nll_in - avg_nll_gen, 6) AS ml_score,
         |  ROUND(avg_nll_in - avg_nll_gen, 6) < 0.0::DOUBLE AS keep
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,


    "q221_vocab_coverage" ->
      s"""WITH wd AS (SELECT unnest($WORDS) AS word FROM documents),
         |f AS (SELECT word, COUNT(*) AS c FROM wd GROUP BY 1),
         |r AS (
         |  SELECT word, c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rnk
         |  FROM f),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM f),
         |e AS (
         |  SELECT rnk, c, unnest([100, 1000, 10000, 100000]) AS vsz FROM r),
         |g AS (
         |  SELECT vsz, COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS covered
         |  FROM e WHERE rnk <= vsz GROUP BY 1)
         |SELECT CAST(vsz AS BIGINT) AS vocab_size, n_types,
         |  covered AS covered_tokens,
         |  ROUND(covered::DOUBLE / tot, 6) AS coverage,
         |  ROUND((tot - covered)::DOUBLE / tot, 6) AS oov_rate
         |FROM g, tot""".stripMargin,


    "q230_kneser_ney" ->
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |b2 AS (
         |  SELECT doc_id, bg[1] AS w1, bg[2] AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(
         |          range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         |        FROM wr WHERE len(w) >= 2)),
         |counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         |          COUNT(*) AS t1 FROM counts GROUP BY 1),
         |cont AS (SELECT w2, COUNT(*) AS n2 FROM counts GROUP BY 1),
         |nb AS (SELECT COUNT(*) AS nbt FROM counts),
         |terms AS (
         |  SELECT doc_id, c12, ROUND(-ln(
         |    (c12 - 0.75::DOUBLE) / c1 +
         |      ((0.75::DOUBLE * t1) / c1) * (n2::DOUBLE / nbt)), 6) AS nll
         |  FROM b2 LEFT JOIN counts USING (w1, w2) LEFT JOIN ctx USING (w1)
         |  LEFT JOIN cont USING (w2) CROSS JOIN nb),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams,
         |    CAST(COUNT(*) FILTER (WHERE c12 IS NULL) AS BIGINT) AS n_unseen,
         |    CASE WHEN COUNT(nll) > 0 THEN
         |      ROUND(${graft.core.Det.sumDetSql("nll", 6)} / COUNT(nll), 6)
         |    END AS avg_nll_kn
         |  FROM terms GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
         |  COALESCE(n_unseen, 0) AS n_unseen, avg_nll_kn
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,


    "q149_inverted_search" ->
      s"""WITH p AS (
         |  SELECT DISTINCT doc_id, word
         |  FROM (SELECT doc_id, unnest($WORDS) AS word FROM documents)),
         |top AS (
         |  SELECT word FROM (SELECT word, COUNT(*) AS df FROM p GROUP BY 1)
         |  ORDER BY df DESC, word LIMIT 8)
         |SELECT a.word AS word_a, b.word AS word_b, COUNT(*) AS n_docs
         |FROM (SELECT * FROM p WHERE word IN (SELECT word FROM top)) a
         |JOIN (SELECT * FROM p WHERE word IN (SELECT word FROM top)) b
         |  USING (doc_id)
         |WHERE a.word < b.word
         |GROUP BY 1, 2""".stripMargin,


    "q152_unk_mask" ->
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |toks AS (
         |  SELECT doc_id, i, w[i] AS word
         |  FROM wr, unnest(range(1, len(w) + 1)) AS t(i)),
         |dfs AS (
         |  SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         |m AS (
         |  SELECT doc_id, i,
         |    CASE WHEN df < 30 THEN '<unk>' ELSE word END AS word,
         |    CASE WHEN df < 30 THEN 1 ELSE 0 END AS unk
         |  FROM toks JOIN dfs USING (word)),
         |agg AS (
         |  SELECT doc_id, string_agg(word, ' ' ORDER BY i) AS masked,
         |    CAST(SUM(unk) AS BIGINT) AS n_unk, COUNT(*) AS n_tokens
         |  FROM m GROUP BY 1)
         |SELECT d.doc_id, COALESCE(masked, '') AS masked,
         |  COALESCE(n_unk, 0) AS n_unk, COALESCE(n_tokens, 0) AS n_tokens
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,


    "q194_lexical_diversity" ->
      s"""WITH dw AS (
         |  SELECT doc_id, word, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM dw GROUP BY 1),
         |terms AS (
         |  SELECT doc_id, c, n,
         |    ROUND((c::DOUBLE / n::DOUBLE)
         |      * ROUND(ln(c::DOUBLE / n::DOUBLE), 6), 10) AS t
         |  FROM dw JOIN tot USING (doc_id)),
         |agg AS (
         |  SELECT doc_id, MAX(n) AS nt, COUNT(*) AS ty,
         |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |    ROUND(0.0::DOUBLE - ${graft.core.Det.sumDetSql("t", 10)}, 6)
         |      AS entropy
         |  FROM terms GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(nt, 0) AS n_tokens, COALESCE(ty, 0) AS n_types,
         |  CASE WHEN nt IS NOT NULL
         |    THEN ROUND(ty::DOUBLE / nt, 6) + 0.0 END AS ttr,
         |  CASE WHEN ty IS NOT NULL
         |    THEN ROUND(hapax::DOUBLE / ty, 6) + 0.0 END AS hapax_frac,
         |  entropy + 0.0 AS entropy
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,


    "q201_heaps_fit" -> {
      val sd = (e: String) => graft.core.Det.sumDetSql(e, 6)
      s"""WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
         |wr AS (
         |  SELECT (doc_id * 64) // (m + 1) AS bkt, unnest($WORDS) AS word
         |  FROM documents, mx),
         |tok AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS toks
         |        FROM wr GROUP BY 1),
         |typ AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS types FROM (
         |          SELECT word, MIN(bkt) AS bkt FROM wr GROUP BY 1)
         |        GROUP BY 1),
         |c0 AS (
         |  SELECT COALESCE(t.bkt, y.bkt) AS bkt, COALESCE(toks, 0) AS toks,
         |    COALESCE(types, 0) AS types
         |  FROM tok t FULL JOIN typ y ON t.bkt = y.bkt),
         |c1 AS (
         |  SELECT CAST(SUM(toks) OVER cum AS BIGINT) AS ct,
         |    CAST(SUM(types) OVER cum AS BIGINT) AS cy
         |  FROM c0 WINDOW cum AS (ORDER BY bkt
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |t AS (SELECT ct, cy, ROUND(ln(ct), 6) AS x, ROUND(ln(cy), 6) AS y
         |      FROM c1 WHERE ct > 0 AND cy > 0),
         |s AS (
         |  SELECT COUNT(*) AS n, MAX(ct) AS total_tokens,
         |    MAX(cy) AS total_types, ${sd("x")} AS sx, ${sd("y")} AS sy,
         |    ${sd("x * y")} AS sxy, ${sd("x * x")} AS sxx
         |  FROM t)
         |SELECT n AS n_points, total_tokens, total_types,
         |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
         |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
         |    6) AS log_k
         |FROM s""".stripMargin
    },


    "q208_filter_kappa" -> {
      val pairs = Seq(("quality", "gopher", "fa", "fb"),
        ("quality", "perplexity", "fa", "fc"),
        ("gopher", "perplexity", "fb", "fc"))
      val sums = pairs.zipWithIndex.flatMap { case ((_, _, x, y), i) =>
        Seq(s"CAST(SUM(CASE WHEN $x THEN 1 ELSE 0 END) AS BIGINT) AS ka$i",
          s"CAST(SUM(CASE WHEN $y THEN 1 ELSE 0 END) AS BIGINT) AS kb$i",
          s"CAST(SUM(CASE WHEN $x AND $y THEN 1 ELSE 0 END) AS BIGINT) AS kab$i")
      }
      val rows = pairs.zipWithIndex.map { case ((na, nb, _, _), i) =>
        s"""SELECT '$na' AS filter_a, '$nb' AS filter_b, n AS n_docs,
           |  ka$i AS n_keep_a, kb$i AS n_keep_b, kab$i AS n_keep_both,
           |  ROUND(po, 6) AS po, ROUND(pe, 6) AS pe,
           |  CASE WHEN pe <> 1.0
           |    THEN ROUND((po - pe) / (1.0 - pe), 6) END AS kappa
           |FROM (SELECT n, ka$i, kb$i, kab$i,
           |  CAST(kab$i * 2 + n - ka$i - kb$i AS DOUBLE) / n AS po,
           |  (CAST(ka$i AS DOUBLE) / n) * (CAST(kb$i AS DOUBLE) / n)
           |    + (1.0 - CAST(ka$i AS DOUBLE) / n)
           |    * (1.0 - CAST(kb$i AS DOUBLE) / n) AS pe
           |  FROM g)""".stripMargin
      }
      s"""WITH qa AS (
         |  SELECT doc_id, COALESCE(quality_score >= 0.73, false) AS fa
         |  FROM ($qualitySelectSql)),
         |gb AS (SELECT doc_id, keep AS fb FROM ($gopherSelectSql)),
         |pc AS (
         |  SELECT doc_id, COALESCE(avg_nll <= 3.39, false) AS fc
         |  FROM ($bigramLmSql)),
         |j AS (
         |  SELECT qa.doc_id, fa, fb, fc
         |  FROM qa JOIN gb USING (doc_id) JOIN pc USING (doc_id)),
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sums.mkString(",\n  ")}
         |      FROM j)
         |${rows.mkString("\nUNION ALL\n")}""".stripMargin
    },


    "q298_texttiling" ->
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |tok AS (
         |  SELECT doc_id, (i - 1) // 20 AS b, w[i] AS word
         |  FROM wr, unnest(range(1, len(w) + 1)) AS t(i)),
         |cnt AS (
         |  SELECT doc_id, b, word, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3),
         |nrm AS (
         |  SELECT doc_id, b, CAST(SUM(c * c) AS BIGINT) AS n2
         |  FROM cnt GROUP BY 1, 2),
         |dt AS (
         |  SELECT a.doc_id, a.b, CAST(SUM(a.c * bb.c) AS BIGINT) AS dot
         |  FROM cnt a JOIN cnt bb ON bb.doc_id = a.doc_id
         |    AND bb.b = a.b + 1 AND bb.word = a.word
         |  GROUP BY 1, 2),
         |gap AS (
         |  SELECT na.doc_id,
         |    ROUND(COALESCE(dot, 0)::DOUBLE
         |      / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE), 6) AS cs
         |  FROM nrm na JOIN nrm nb ON nb.doc_id = na.doc_id
         |    AND nb.b = na.b + 1
         |  LEFT JOIN dt ON dt.doc_id = na.doc_id AND dt.b = na.b),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS n_gaps,
         |    ${graft.core.Det.avgDetSql("cs", 6)} AS avg_cohesion,
         |    CAST(SUM(CASE WHEN cs < 0.15::DOUBLE THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_boundaries
         |  FROM gap GROUP BY 1),
         |nb2 AS (
         |  SELECT doc_id, CAST(MAX(b) + 1 AS BIGINT) AS n_blocks
         |  FROM cnt GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_blocks, 0) AS n_blocks,
         |  COALESCE(n_gaps, 0) AS n_gaps, avg_cohesion,
         |  COALESCE(n_boundaries, 0) AS n_boundaries
         |FROM documents d LEFT JOIN nb2 USING (doc_id)
         |LEFT JOIN pd USING (doc_id)""".stripMargin,


    "q309_lm_drift" ->
      s"""WITH wr AS (
         |  SELECT doc_id, source,
         |    ('0x' || substr(md5('churn1' || CAST(doc_id AS VARCHAR)),
         |      1, 8))::BIGINT % 2 AS hb2, $WORDS AS w
         |  FROM documents),
         |b2t AS (
         |  SELECT bg[1] AS w1, bg[2] AS w2
         |  FROM (SELECT unnest(list_transform(
         |          range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         |        FROM wr WHERE len(w) >= 2 AND hb2 = 0)),
         |counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2t GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         |          COUNT(*) AS t1 FROM counts GROUP BY 1),
         |cont AS (SELECT w2, COUNT(*) AS n2 FROM counts GROUP BY 1),
         |nb AS (SELECT COUNT(*) AS nbt FROM counts),
         |b2s AS (
         |  SELECT doc_id, bg[1] AS w1, bg[2] AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(
         |          range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         |        FROM wr WHERE len(w) >= 2 AND hb2 = 1)),
         |terms AS (
         |  SELECT doc_id, c12, ROUND(-ln(
         |    (c12 - 0.75::DOUBLE) / c1 +
         |      ((0.75::DOUBLE * t1) / c1) * (n2::DOUBLE / nbt)), 6) AS nll
         |  FROM b2s LEFT JOIN counts USING (w1, w2) LEFT JOIN ctx USING (w1)
         |  LEFT JOIN cont USING (w2) CROSS JOIN nb),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams,
         |    CAST(COUNT(*) FILTER (WHERE c12 IS NULL) AS BIGINT) AS n_unseen,
         |    CASE WHEN COUNT(nll) > 0 THEN
         |      ROUND(${graft.core.Det.sumDetSql("nll", 6)} / COUNT(nll), 6)
         |    END AS avg_nll_kn,
         |    CAST(COUNT(nll) AS BIGINT) AS n_scored
         |  FROM terms GROUP BY 1)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(COALESCE(n_bigrams, 0)) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(COALESCE(n_unseen, 0)) AS BIGINT) AS n_unseen,
         |  CASE WHEN SUM(COALESCE(n_bigrams, 0)) > 0 THEN
         |    CAST(SUM(COALESCE(n_unseen, 0)) AS BIGINT)::DOUBLE
         |      / CAST(SUM(COALESCE(n_bigrams, 0)) AS BIGINT)::DOUBLE
         |  END AS unseen_frac,
         |  CASE WHEN COUNT(avg_nll_kn) > 0 THEN
         |    ROUND(${graft.core.Det.sumDetSql("avg_nll_kn", 6)}
         |      / COUNT(avg_nll_kn), 6)
         |  END AS mean_doc_nll
         |FROM (SELECT doc_id, source FROM wr WHERE hb2 = 1) d
         |LEFT JOIN pd USING (doc_id)
         |GROUP BY 1""".stripMargin
  )
}
