package graft.llm

import java.math.RoundingMode

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Decimal}

import graft.core.Pin.Syntax
import graft.ops.Hll

/** Text-analysis operators: language ID, quality scoring, token counting.
  * All expression-only (whole-stage codegen), mirrored 1:1 in the DuckDB
  * oracle. Heuristics are the engine's own documented definitions — the
  * oracle verifies the computation, not linguistic truth.
  */
object TextAnalysis {

  /** Stopword lists per language for the n-gram/stopword language-ID
    * heuristic. Fixed engine vocabulary, deliberately tiny. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and", "to", "in"),
    "fr" -> Seq("le", "la", "et", "de", "un", "une"),
    "es" -> Seq("el", "los", "y", "de", "un", "una"),
    "de" -> Seq("der", "die", "das", "und", "ein"))

  private def hitCount(wordsCol: Column, list: Seq[String]): Column =
    aggregate(wordsCol, lit(0L),
      (acc, w) => acc + when(w.isInCollection(list), 1L).otherwise(0L))

  /** Language ID: argmax of stopword hits, ties resolved in declaration
    * order (en, fr, es, de), empty docs -> "und". */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withWords = docs.withColumn("__words", TextOps.words(col(textCol)))
    val scored = stopwords.foldLeft(withWords) { case (df, (lang, list)) =>
      df.withColumn(s"s_$lang", hitCount(col("__words"), list))
    }
    val best = stopwords.map(_._1).foldRight(lit("und")) { case (lang, elseCol) =>
      val isMax = stopwords.map(_._1).filterNot(_ == lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _)
      when(col(s"s_$lang") > 0 && isMax, lang).otherwise(elseCol)
    }
    scored
      .withColumn("pred_lang", best)
      .select((Seq(col(idCol), col("pred_lang")) ++
        stopwords.map { case (l, _) => col(s"s_$l") }): _*)
  }

  /** Quality metrics: word counts, uniqueness, average word length,
    * stopword ratio, and a composite score in [0,1]. `extraCols` are
    * carried through untouched (e.g. the source for [[sourceReport]]). */
  def quality(docs: DataFrame, idCol: String, textCol: String,
      extraCols: Seq[String] = Nil): DataFrame = {
    val en = stopwords.head._2
    docs
      .withColumn("__words", TextOps.words(col(textCol)))
      .withColumn("n_words", size(col("__words")).cast("long"))
      .withColumn("n_unique", size(array_distinct(col("__words"))).cast("long"))
      // empty docs: every ratio is NULL (ANSI-safe, and DuckDB's x/0 is
      // NULL too, so the oracle agrees without special-casing)
      .withColumn("uniq_ratio", when(col("n_words") > 0L,
        round(col("n_unique").cast("double") / col("n_words"), 6)))
      .withColumn("avg_word_len", when(col("n_words") > 0L, round(
        aggregate(col("__words"), lit(0L), (a, w) => a + length(w)).cast("double") /
          col("n_words"), 6)))
      .withColumn("stop_ratio", when(col("n_words") > 0L, round(
        hitCount(col("__words"), en).cast("double") / col("n_words"), 6)))
      .withColumn("quality_score", round(
        lit(0.4) * col("uniq_ratio") +
          lit(0.3) * least(col("n_words").cast("double") / 50.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) - col("stop_ratio")), 6))
      .select((extraCols :+ idCol) ++ Seq("n_words", "n_unique",
        "uniq_ratio", "avg_word_len", "stop_ratio", "quality_score")
        map col: _*)
  }

  /** Per-source dataset report card (the "Datasheets for Datasets" /
    * dataset-card summary a curation pipeline publishes per shard):
    * document count, empty-doc count, exact-decimal mean words and mean
    * quality score (over scoreable docs only — avg skips nulls in both
    * engines), and the low-quality fraction below `lowCutoff`. ONE
    * map-only scan (the [[quality]] expressions) into one hash-aggregate
    * on the source key — per-source partials collapse map-side, so a
    * 100 TB corpus pays a shuffle of (#sources × #partitions) rows. */
  def sourceReport(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, lowCutoff: Double = 0.5): DataFrame =
    quality(docs, idCol, textCol, extraCols = Seq(sourceCol))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_words") === 0L, 1L).otherwise(0L)).as("n_empty"),
        round(graft.core.Det.avgDet(col("n_words").cast("double"), 0), 6)
          .as("avg_words"),
        round(graft.core.Det.avgDet(
          when(col("n_words") > 0L, col("quality_score")), 6), 6)
          .as("avg_quality"),
        round(sum(when(col("n_words") > 0L && col("quality_score") < lowCutoff,
            1L).otherwise(0L)).cast("double") /
          count(when(col("n_words") > 0L, col("quality_score"))), 6)
          .as("low_quality_rate"))

  /** Gopher-rule document filtering (Rae et al. 2021, table A1 subset —
    * the heuristic rule stage run before any model-based filter): word
    * count in [minWords, maxWords], mean word length in [3, 10],
    * symbol-to-word ratio ('#' and '…'-as-'...') <= 0.1, bullet-start
    * lines <= 90%, ellipsis-end lines <= 30%, >= 80% of words containing
    * an alphabetic character, and >= 2 distinct English stopwords. Pure
    * per-row expressions (map-only scan, zero shuffles); empty docs fail
    * closed (keep = false, ratios null). */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val en = stopwords.head._2
    val w = TextOps.words(col(textCol))
    val lines = filter(split(col(textCol), "\n"), l => l =!= "")
    val nHash = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val nDots = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3
    val nBullet = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
    val nEllipsis = size(filter(lines, l => l.endsWith("...")))
    val nAlpha = size(filter(w, x => x.rlike("[a-z]")))
    val nStop = size(array_intersect(array_distinct(w),
      array(en.map(lit): _*)))
    docs
      .withColumn("n_words", size(w).cast("long"))
      .withColumn("mean_word_len", when(size(w) > 0, round(
        aggregate(w, lit(0L), (a, x) => a + length(x)).cast("double") /
          size(w), 6)))
      .withColumn("symbol_ratio", when(size(w) > 0,
        round((nHash + nDots).cast("double") / size(w), 6)))
      .withColumn("bullet_ratio", when(size(lines) > 0,
        round(nBullet.cast("double") / size(lines), 6)))
      .withColumn("ellipsis_ratio", when(size(lines) > 0,
        round(nEllipsis.cast("double") / size(lines), 6)))
      .withColumn("alpha_ratio", when(size(w) > 0,
        round(nAlpha.cast("double") / size(w), 6)))
      .withColumn("n_stop_distinct", nStop.cast("long"))
      .withColumn("keep", coalesce(
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_ratio") <= 0.9 &&
          col("ellipsis_ratio") <= 0.3 &&
          col("alpha_ratio") >= 0.8 &&
          col("n_stop_distinct") >= 2L, lit(false)))
      .select(idCol, "n_words", "mean_word_len", "symbol_ratio",
        "bullet_ratio", "ellipsis_ratio", "alpha_ratio", "n_stop_distinct",
        "keep")
  }

  /** Within-group quantile normalization: map a raw score to its exact
    * percentile rank inside its group — the transform that makes
    * heterogeneous per-source score distributions comparable under ONE
    * global threshold (a fixed cutoff on raw scores over- or
    * under-selects whole sources whose scorer calibrates differently).
    * One exchange on the group key; the per-group sort is the ranking
    * cost, and the largest group bounds the task (the standard window
    * skew profile). percent_rank's tie semantics ((rank−1)/(n−1), ties
    * share the min rank) are identical in DuckDB, and the integer
    * division is bit-deterministic — no rounding needed. Null scores are
    * excluded (engines disagree on null ordering inside window sorts). */
  def quantileNormalize(scored: DataFrame, idCol: String, scoreCol: String,
      groupCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(scoreCol))
    scored
      .filter(col(scoreCol).isNotNull)
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("norm_decile",
        least(floor(col("pct_rank") * 10), lit(9.0)).cast("long"))
  }

  /** Per-source boilerplate detection: the most frequent document
    * prefixes and suffixes (fixed `gramLen` chars) with their corpus
    * shares — crawl templates ("subscribe to our newsletter…", cookie
    * banners, footers) concentrate exactly there, and a high top-1 share
    * is the signal to strip before dedup/training. One scan → one
    * (source, kind, gram) hash-aggregate; the per-source top-k is a
    * rank-limited window over the aggregated table (WindowGroupLimit
    * prunes it map-side), so nothing corpus-sized is sorted. */
  def boilerplateGrams(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, gramLen: Int = 16, topK: Int = 3): DataFrame = {
    require(gramLen >= 1 && topK >= 1)
    val t = lower(col(textCol))
    val rows = docs
      .filter(length(t) >= gramLen)
      .select(col(sourceCol).as("source"),
        explode(array(
          struct(lit("prefix").as("kind"),
            t.substr(lit(1), lit(gramLen)).as("gram")),
          struct(lit("suffix").as("kind"),
            t.substr(length(t) - (gramLen - 1), lit(gramLen)).as("gram"))))
          .as("g"))
      .select(col("source"), col("g.kind").as("kind"), col("g.gram").as("gram"))
    val counts = rows.groupBy("source", "kind", "gram")
      .agg(count(lit(1)).as("n"))
    val totals = rows.groupBy("source", "kind").agg(count(lit(1)).as("__tot"))
    val w = Window.partitionBy("source", "kind")
      .orderBy(col("n").desc, col("gram"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .join(totals, Seq("source", "kind"))
      .select(col("source"), col("kind"), col("rank"), col("gram"), col("n"),
        round(col("n").cast("double") / col("__tot"), 6).as("share"))
  }

  /** Heaps'-law vocabulary-growth fit — Zipf's companion diagnostic
    * (Heaps 1978): distinct vocabulary V grows as K·n^β in corpus tokens
    * n (β ≈ 0.4–0.6 for natural text; synthetic/template floods bend the
    * curve). Sampling the growth curve at every document would need a
    * corpus-length prefix scan, so the corpus is cut into `numBuckets`
    * id-ordered epochs instead: per-epoch token counts and
    * first-occurrence type counts are ordinary hash-aggregates (epoch
    * assignment is monotone in the id, so a word's first-occurrence epoch
    * is just min(bucket) — ONE pass, no ordering), and the cumulative
    * curve + log-log least
    * squares then run on `numBuckets` bounded rows. Epoch assignment is
    * pure integer arithmetic (id·B ÷ (maxId+1) — exact on both engines;
    * ids must stay below 2^57/B for the multiply, which a 100 TB corpus'
    * 64-bit ids satisfy with monotone-batch id assignment). Logs pinned
    * to 6 digits, moment sums exact-decimal, like [[zipfFit]]. */
  def heapsFit(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 64): DataFrame = {
    require(numBuckets >= 2)
    val maxId = docs.agg(max(col(idCol)).cast("long").as("__max_id"))
    val words = docs
      .crossJoin(broadcast(maxId))
      // integral `div`, not `/` (which widens to double): exact at any id
      // magnitude, and identical to DuckDB `//` for the non-negative ids
      .select(
        expr(s"CAST($idCol AS BIGINT) * ${numBuckets}L div (__max_id + 1L)")
          .as("__bkt"),
        explode(TextOps.words(col(textCol))).as("word"))
    val tokensPerBucket = words.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("toks"))
    // Bucket assignment is monotone in the id, so a word's
    // first-occurrence epoch is simply min(bucket) — map-side partial
    // min, then a COUNT per bucket = newly-seen types in that epoch.
    val typesPerBucket = words.groupBy(col("word"))
      .agg(min(col("__bkt")).as("__bkt"))
      .groupBy(col("__bkt"))
      .agg(count(lit(1)).as("types"))
    val w = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = tokensPerBucket
      .join(typesPerBucket, Seq("__bkt"), "full_outer")
      .select(col("__bkt"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("types"), lit(0L)).as("types"))
      .withColumn("cum_toks", sum(col("toks")).over(w))
      .withColumn("cum_types", sum(col("types")).over(w))
      .filter(col("cum_toks") > 0L && col("cum_types") > 0L)
      .withColumn("x", round(log(col("cum_toks").cast("double")), 6))
      .withColumn("y", round(log(col("cum_types").cast("double")), 6))
    val s = curve.agg(count(lit(1)).as("n_points"),
      max(col("cum_toks")).as("total_tokens"),
      max(col("cum_types")).as("total_types"),
      graft.core.Det.sumDet(col("x"), 6).as("sx"),
      graft.core.Det.sumDet(col("y"), 6).as("sy"),
      graft.core.Det.sumDet(col("x") * col("y"), 6).as("sxy"),
      graft.core.Det.sumDet(col("x") * col("x"), 6).as("sxx"))
    val nd = col("n_points").cast("double")
    val beta = (nd * col("sxy") - col("sx") * col("sy")) /
      (nd * col("sxx") - col("sx") * col("sx"))
    s.select(col("n_points"), col("total_tokens"), col("total_types"),
      round(beta, 6).as("beta"),
      round((col("sy") - beta * col("sx")) / nd, 6).as("log_k"))
  }

  /** Zipf power-law fit over the corpus word-frequency distribution —
    * the distributional-health statistic of corpus QA (natural text shows
    * ln cnt ≈ intercept + slope·ln rank with slope ≈ −1; template/spam
    * floods flatten it). Least squares over the `topR` most frequent
    * words: the word-count aggregate is the only corpus-sized shuffle
    * (map-side partials on the word key); top-R selection is a
    * distributed TakeOrdered (never a global sort materialization), and
    * the rank window + moment sums then run on R bounded rows. Per-term
    * logs pinned to 6 digits, moment sums exact-decimal — the slope and
    * intercept are bit-identical cross-engine. */
  def zipfFit(docs: DataFrame, textCol: String, topR: Int = 1000): DataFrame = {
    val counts = docs.select(explode(TextOps.words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(topR)
    val w = Window.orderBy(col("cnt").desc, col("word"))
    val t = counts.withColumn("rnk", row_number().over(w))
      .withColumn("x", round(log(col("rnk").cast("double")), 6))
      .withColumn("y", round(log(col("cnt").cast("double")), 6))
    val s = t.agg(count(lit(1)).as("n"),
      graft.core.Det.sumDet(col("x"), 6).as("sx"),
      graft.core.Det.sumDet(col("y"), 6).as("sy"),
      graft.core.Det.sumDet(col("x") * col("y"), 6).as("sxy"),
      graft.core.Det.sumDet(col("x") * col("x"), 6).as("sxx"))
    val nd = col("n").cast("double")
    val slope = (nd * col("sxy") - col("sx") * col("sy")) /
      (nd * col("sxx") - col("sx") * col("sx"))
    s.select(col("n"), round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / nd, 6).as("intercept"))
  }

  /** Token counting: whitespace tokens, regex tokens (letters / digits /
    * other — the BPE-ish pre-tokenizer split), distinct tokens, chars. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__words", TextOps.words(col(textCol)))
      .select(
        col(idCol),
        size(col("__words")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col(textCol), lit("[a-z]+|[0-9]+"), lit(0)))
          .cast("long").as("re_tokens"),
        size(array_distinct(col("__words"))).cast("long").as("distinct_tokens"),
        length(col(textCol)).cast("long").as("n_chars_computed"))

  /** Rolling-hash document fingerprints (order-sensitive). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__words", TextOps.words(col(textCol)))
      .select(col(idCol), TextOps.rollingFingerprint(col("__words")).as("fingerprint"))

  /** Corpus vocabulary statistics — the token-frequency table a tokenizer
    * or filtering pass is built from: per word, document frequency, total
    * occurrences, and smoothed IDF. One explode + one hash-aggregate
    * shuffle on the word key (map-side partial counts); the corpus size
    * rides in as a broadcast scalar. */
  def bpePairCounts(docs: DataFrame, textCol: String,
      minCount: Long = 10): DataFrame = {
    // BPE tokenizer-training seed (Sennrich et al. 2016): corpus-wide
    // counts of adjacent symbol pairs at iteration 0 (symbols = chars,
    // '_' end-of-word marker). Computed over the DISTINCT-word table
    // weighted by word frequency — the pair explode runs once per unique
    // word, not once per corpus occurrence, which is what makes the
    // first merge scan tractable at 100 TB (vocabulary << corpus). Two
    // narrow-key shuffles: word-count aggregate, pair-count aggregate.
    val wordCounts = docs
      .select(explode(TextOps.words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__wc"))
    wordCounts
      // split("") keeps a trailing empty under Java regex semantics —
      // drop empties so the '_' marker is the true last symbol
      .withColumn("__sym",
        filter(split(concat(col("word"), lit("_")), ""), s => length(s) > 0))
      .select(col("word"), col("__wc"),
        posexplode(col("__sym")).as(Seq("__p", "__a")))
      .withColumn("__b", lead(col("__a"), 1).over(
        Window.partitionBy("word").orderBy("__p")))
      .filter(col("__b").isNotNull)
      .groupBy(col("__a").as("sym_a"), col("__b").as("sym_b"))
      .agg(sum(col("__wc")).as("pair_count"))
      .filter(col("pair_count") >= minCount)
  }

  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long = 25): DataFrame = {
    val words = docs.select(col(idCol),
      explode(TextOps.words(col(textCol))).as("word"))
    val total = docs.agg(count(lit(1)).as("__n_docs"))
    words.groupBy("word")
      .agg(countDistinct(col(idCol)).as("df"), count(lit(1)).as("tf"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(total))
      .withColumn("idf", round(
        log((col("__n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .select("word", "df", "tf", "idf")
  }

  /** Per-source token-distribution drift — the corpus-QA panel that
    * catches a source gone bad (scraper drift, encoding rot, template
    * floods) before it trains: per source, token count, vocabulary size,
    * unigram entropy H(s) = -Σ p ln p, and KL(source ‖ corpus)
    * = Σ p ln(p/q), the drift measure against the corpus-wide unigram
    * distribution.
    *
    * Shape: one hash aggregate on (source, word) — map-side partial —
    * then corpus-level word totals derive from THAT table (vocabulary ×
    * sources rows, not a second corpus pass); entropy/KL reduce
    * vocabulary-sized inputs per source. Probabilities are exact bigint
    * ratios, ln is pinned to 6 digits, per-term products round to 10 and
    * sum through exact decimal — reduction order cannot move the hash. */
  def sourceDrift(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val sw = docs.select(col(sourceCol).as("source"),
      explode(TextOps.words(col(textCol))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("__c"))
    val corpus = sw.groupBy("word").agg(sum(col("__c")).as("__cw"))
    val totals = sw.groupBy("source").agg(sum(col("__c")).as("__ts"))
    val corpusTotal = corpus.agg(sum(col("__cw")).as("__tc"))
    val p = col("__c").cast("double") / col("__ts").cast("double")
    val q = col("__cw").cast("double") / col("__tc").cast("double")
    val entTerm = round(p * round(log(p), 6), 10)
    val klTerm = round(p * round(log(p / q), 6), 10)
    sw.join(corpus, Seq("word"))
      .join(broadcast(totals), Seq("source"))
      .crossJoin(broadcast(corpusTotal))
      .groupBy(col("source"))
      .agg(max(col("__ts")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        round(-graft.core.Det.sumDet(entTerm, scale = 10), 6).as("entropy"),
        round(graft.core.Det.sumDet(klTerm, scale = 10), 6).as("kl_corpus"))
  }

  /** Per-document lexical diversity — the quality signals that catch
    * template floods and token-salad spam at DOCUMENT granularity (the
    * per-source panel is [[sourceDrift]]): type-token ratio, hapax
    * fraction (types occurring once), and unigram entropy.
    *
    * Shape: one up-front repartition on the doc id, after which the
    * (id, word) count aggregate, the per-doc total window, and the final
    * roll-up all reuse that ONE exchange (hash(id) satisfies every
    * clustered distribution downstream) — a single shuffle end-to-end
    * plus the left join that keeps wordless documents. Entropy follows
    * the [[sourceDrift]] determinism contract: exact bigint ratios, ln
    * pinned to 6 digits, per-term products rounded to 10 and summed
    * through exact decimal; the sum subtracts FROM 0.0 so a one-type
    * document yields +0.0, not -0.0 (the q130 sign-of-zero class). */
  def lexicalDiversity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dw = docs.repartition(col(idCol))
      .select(col(idCol), explode(TextOps.words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__c"))
    val terms = dw.withColumn("__n",
      sum(col("__c")).over(Window.partitionBy(idCol)))
    val p = col("__c").cast("double") / col("__n").cast("double")
    val entTerm = round(p * round(log(p), 6), 10)
    val agg = terms.groupBy(col(idCol))
      .agg(max(col("__n")).as("__nt"),
        count(lit(1)).as("__ty"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("__hapax"),
        round(lit(0.0) - graft.core.Det.sumDet(entTerm, scale = 10), 6)
          .as("entropy"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"),
        coalesce(col("__ty"), lit(0L)).as("n_types"),
        round(col("__ty").cast("double") / col("__nt"), 6).as("ttr"),
        round(col("__hapax").cast("double") / col("__ty"), 6).as("hapax_frac"),
        col("entropy"))
  }

  /** PII patterns shared by the Spark plan and the DuckDB oracle: written
    * to the common subset of Java regex and RE2 (`[0-9]` not `\d`, `[.]`
    * not `\.`, no lookaround), so both engines count and redact
    * identically. Counts are over the ORIGINAL text (overlap between
    * pattern classes is intentional and documented); redaction applies
    * the patterns in this order. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}[.]){3}[0-9]{1,3}", "<IP>"),
    ("digit_run", "[0-9]{6,}", "<NUM>"))

  /** PII scan + redaction — the policy-filter pass every training corpus
    * goes through: per document, match counts per pattern class and the
    * redacted text (patterns replaced by placeholder tokens, applied in
    * [[PiiPatterns]] order). Expression-only (regexp_extract_all /
    * regexp_replace are codegen'd), no shuffle at all — the ideal 100 TB
    * shape: a pure map over the corpus scan. */
  /** Sketch-accelerated EXACT heavy hitters: all words whose corpus
    * count meets `minCount`. A Count-Min sketch (one treeAggregate pass,
    * ~depth·width·8 bytes of driver state) pre-filters the word stream
    * map-side; CMS never under-estimates, so every true heavy word
    * survives the probe, and the exact groupBy that follows counts ONLY
    * the surviving candidates and re-applies the threshold — over-
    * estimated light words die there. Same prune-then-verify contract as
    * the Bloom decontamination path, aimed at the long-tail regime: at
    * corpus scale the vocabulary is billions of near-unique tokens, and
    * the exact aggregation shuffles the few plausibly-heavy ones instead
    * of all of them. Output (word, cnt), exact. */
  def heavyHitters(docs: DataFrame, textCol: String, minCount: Long,
      eps: Double = 0.0001, confidence: Double = 0.99,
      seed: Int = 17): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.CmsExpressions.register(spark)
    import spark.implicits._
    val words = docs.select(explode(TextOps.words(col(textCol))).as("word"))
    val sketch = words.as[String].rdd.treeAggregate(
      org.apache.spark.util.sketch.CountMinSketch.create(eps, confidence, seed))(
      (s, w) => { s.addBinary(w.getBytes("UTF-8")); s },
      (a, b) => a.mergeInPlace(b))
    val bos = new java.io.ByteArrayOutputStream()
    sketch.writeTo(bos)
    words
      .filter(graft.functions.CmsExpressions.atLeast(col("word"),
        lit(bos.toByteArray), lit(minCount)))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** HyperLogLog distinct-word estimate per source (Flajolet et al. 2007)
    * — completes the sketch trio (Count-Min q121, Bloom q118): the
    * [[Hll]] registers of the portable 60-bit md5 word hash. Scale shape:
    * word-level max collapses map-side into ≤ m rows per source, then one
    * tiny per-source fold — constant state per source no matter the
    * corpus size. Exact distinct included for accuracy reporting (it is
    * the expensive path the sketch replaces at 100 TB).
    * Output: (source, n_distinct_exact, zeros, est_distinct). */
  def hllDistinctWords(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val words = docs.select(col(sourceCol).as("source"),
      explode(TextOps.words(col(textCol))).as("__w"))
    val est = Hll.estimate(Hll.registers(words, Seq("source"),
      TextOps.wordHash60(col("__w"))), Seq("source"))
    val exact = words.groupBy("source")
      .agg(countDistinct(col("__w")).as("n_distinct_exact"))
    est.join(exact, Seq("source"))
      .select(col("source"), col("n_distinct_exact"), col("zeros"),
        col("est").as("est_distinct"))
  }

  def piiScan(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, tok)) => regexp_replace(c, pat, tok)
    }
    docs.select(col(idCol) +: counts :+ redacted.as("redacted"): _*)
  }

  /** fastText-style linear quality classifier over hashed word features
    * (Joulin et al. 2017's bag-of-words architecture; the quality-model
    * stage of GPT-3/LLaMA-class pipelines). Weights are pseudo-random but
    * fully deterministic — w(word) = (h60("clf:"+word) mod 2001 − 1000)
    * / 1000 ∈ [−1, 1] — standing in for a trained model while exercising
    * the production plan shape: margin = Σ w(wordᵢ) / n folded LEFT-TO-
    * RIGHT over the word array (identical association order in the
    * oracle), probability through a logistic link. Pure per-row
    * expression — zero shuffles, zero joins, whole-stage codegen; at
    * 100 TB this is a map-only scan, the cheapest possible plan class.
    * Empty docs: margin/prob null, label false. */
  def hashClassifier(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val w = TextOps.words(col(textCol))
    def weight(x: Column): Column =
      (pmod(TextOps.wordHash60(concat(lit("clf:"), x)), lit(2001L)) - 1000L)
        .cast("double") / 1000.0
    val margin = round(
      aggregate(w, lit(0.0d), (acc, x) => acc + weight(x)) / size(w), 6)
    val prob = round(lit(1.0) / (lit(1.0) + exp(-margin)), 6)
    docs.select(col(idCol), size(w).cast("long").as("n_words"),
        when(size(w) > 0, margin).as("margin"),
        when(size(w) > 0, prob).as("prob"))
      .withColumn("label", coalesce(col("prob") >= threshold, lit(false)))
  }

  /** TRAINED quality classifier — full-batch logistic regression over
    * hashed bag-of-words features (Joulin et al. 2017's fastText
    * architecture; the quality-model stage GPT-3/CCNet-class pipelines
    * actually TRAIN against a target distribution — [[hashClassifier]]
    * exercises the fixed-weight serving plan, this is the learning
    * loop). `target` labels the positive class (CCNet trains
    * wiki-vs-crawl; the registered query trains lang='en' vs rest, the
    * q128 DSIR target); `iters` full-batch gradient steps at rate `lr`
    * from w = 0 over `numBuckets` hashed features, x normalized by doc
    * length. Output: one row per bucket, (bucket, weight).
    *
    * Determinism (the oracle mirrors every step): feature hash is the
    * house md5-prefix chain mod numBuckets; each dot-product/gradient
    * term is an identical-IEEE double product ROUNDED to 12 dp and
    * summed EXACTLY in decimal(38,12) — reduction order cannot shift
    * the result; the margin rounds to 6 dp BEFORE the logistic link
    * and the probability to 6 dp after it (the q129 discipline that
    * keeps the JVM's and DuckDB's libm exp agreeing through rounding);
    * the label is exact 0/1. The oracle unrolls the `iters` steps as
    * CTEs over the same arithmetic.
    *
    * Scale shape: the feature table is one explode + one hash
    * aggregate (map-side partials), checkpointed hash-partitioned and
    * sorted by doc id, and reused by every step; a step is ONE
    * shuffle-free Spark job, a fold over each partition that streams a
    * doc's rows, takes its margin and error, and adds its gradient terms
    * to `numBuckets` exact decimal sums. Those sums and the partition's
    * doc count — the k-means centroid-pull discipline — are the only
    * thing the driver ever holds; the first step's doc count is the
    * gradient's divisor. Nothing unbounded is broadcast or collected;
    * steps are a fixed constant. A corpus with no features keeps every
    * weight at 0. */
  def trainQualityClassifier(docs: DataFrame, idCol: String,
      textCol: String, target: Column, numBuckets: Int = 64,
      iters: Int = 3, lr: Double = 1.0): DataFrame = {
    val feat = classifierFeatures(docs, idCol, textCol, target, numBuckets)
    weightsDf(docs.sparkSession, trainWeights(feat, numBuckets, iters, lr))
  }

  /** The (bucket, 6-dp weight) table from a trained weight vector — the
    * served/persisted artifact shape, factored so the train-only and
    * train-then-serve paths emit byte-identical tables. */
  private def weightsDf(spark: org.apache.spark.sql.SparkSession,
      w: Array[Double]): DataFrame = {
    import spark.implicits._
    w.zipWithIndex.map { case (wt, j) => (j.toLong, wt) }.toSeq
      .toDF("bucket", "__w")
      .select(col("bucket"), round(col("__w"), 6).as("weight"))
  }

  /** [[writeClassifier]] + [[qualityClassifierReportFrom]] fused over ONE
    * feature table (r20, guide §2.4): train, persist the 6-dp weight
    * table, then serve the per-group report from the RE-READ artifact.
    * The serve's weights come from the persisted parquet exactly as in
    * the two-call form — the report stays a pure function of the written
    * artifact — but the hashed-feature table (an input derivation, not
    * artifact state) is built and checkpointed once instead of twice,
    * saving a full docs scan + explode + aggregate + checkpoint. */
  def writeAndServeClassifier(docs: DataFrame, idCol: String,
      textCol: String, target: Column, groupCol: String, path: String,
      numBuckets: Int = 64, iters: Int = 3, lr: Double = 1.0,
      threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val feat = classifierFeatures(docs, idCol, textCol, target, numBuckets)
    graft.core.Tables.writeSmall(
      weightsDf(spark, trainWeights(feat, numBuckets, iters, lr)), path)
    val served = readWeights(spark, path)
    val scored = margins(feat, served).withColumn("__p", sigmoid6(col("__m")))
    reportRollup(docs, idCol, groupCol, scored, threshold)
  }

  /** [[trainQualityClassifier]] + the serving pass + the per-group
    * report a corpus build reads before gating on the classifier:
    * per `groupCol`, document count, positive-label count, kept count
    * (probability ≥ `threshold`), train-accuracy count (kept ==
    * positive), and the exact-decimal mean probability. The training
    * chain is shared with [[trainQualityClassifier]] (same features,
    * same weights); scoring is one more pass over the checkpointed
    * feature table and the rollup collapses to ≤ |groups| rows. */
  def qualityClassifierReport(docs: DataFrame, idCol: String,
      textCol: String, target: Column, groupCol: String,
      numBuckets: Int = 64, iters: Int = 3, lr: Double = 1.0,
      threshold: Double = 0.5): DataFrame = {
    val feat = classifierFeatures(docs, idCol, textCol, target, numBuckets)
    val w = trainWeights(feat, numBuckets, iters, lr)
    val scored = margins(feat, w).withColumn("__p", sigmoid6(col("__m")))
    reportRollup(docs, idCol, groupCol, scored, threshold)
  }

  /** Persist the trained classifier — the weight table [[
    * trainQualityClassifier]] emits (6-dp weights, the served
    * artifact), written once to parquet. The q140/q319 build-once/
    * serve-many discipline applied to the quality model. */
  def writeClassifier(docs: DataFrame, idCol: String, textCol: String,
      target: Column, path: String, numBuckets: Int = 64,
      iters: Int = 3, lr: Double = 1.0): Unit =
    graft.core.Tables.writeSmall(
      trainQualityClassifier(docs, idCol, textCol, target, numBuckets,
        iters, lr), path) // numBuckets rows — one file at any scale

  /** Serve from the PERSISTED classifier: reload the weight table
    * written by [[writeClassifier]] (its row count IS the feature
    * dimensionality — the artifact carries its own shape) and run the
    * [[qualityClassifierReport]] serving pass + rollup from it. The
    * persisted weights are the 6-dp table, so a re-served report is a
    * pure function of the artifact — the oracle proves serving parity
    * by scoring from ROUND(w, 6) in SQL. Driver cost: one bounded
    * numBuckets-row read. */
  def qualityClassifierReportFrom(docs: DataFrame, idCol: String,
      textCol: String, target: Column, groupCol: String,
      weightsPath: String, threshold: Double = 0.5): DataFrame = {
    val w = readWeights(docs.sparkSession, weightsPath)
    val feat = classifierFeatures(docs, idCol, textCol, target, w.length)
    val scored = margins(feat, w).withColumn("__p", sigmoid6(col("__m")))
    reportRollup(docs, idCol, groupCol, scored, threshold)
  }

  /** Reload the persisted weight table as a dense driver array (its
    * row count IS the feature dimensionality) — the single loading
    * path every batch and streaming serve shares. */
  private[graft] def readWeights(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Double] = {
    val rows = graft.core.Tables.readStable(spark, path)
      .collect() // numBuckets rows — the persisted bounded artifact
    val w = Array.fill(rows.length)(0.0)
    rows.foreach(r => w(r.getLong(0).toInt) = r.getDouble(1))
    w
  }

  /** The 6-dp logistic link every scoring path shares (the rounding
    * that keeps both engines' libm exp agreeing). */
  private[graft] def sigmoid6(m: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-m)), 6)

  /** The per-group report tail shared by the live and persisted
    * serving paths. */
  private def reportRollup(docs: DataFrame, idCol: String,
      groupCol: String, scored: DataFrame,
      threshold: Double): DataFrame =
    docs.select(col(idCol).as("__id"), col(groupCol).as("source"))
      .join(scored, Seq("__id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__y")).cast("long").as("n_target"),
        sum(when(col("__p") >= threshold, 1L).otherwise(0L)).as("n_keep"),
        sum(when((col("__p") >= threshold) === (col("__y") === 1.0), 1L)
          .otherwise(0L)).as("n_correct"),
        round(sum(col("__p").cast("decimal(38,6)")).cast("double")
          / count(lit(1)), 6).as("mean_p"))

  /** Hashed-feature table shared by train and serve: one row per
    * (doc, bucket) with x = count/len, plus the label; empty docs are
    * excluded (no features to learn from). Pinned by [[pinFeatures]] at
    * the [[sizedWidth]] of its plan — every gradient step and the
    * scoring pass re-read it. */
  private def classifierFeatures(docs: DataFrame, idCol: String,
      textCol: String, target: Column, numBuckets: Int): DataFrame = {
    val rows = featureRows(docs, idCol, textCol, target, numBuckets)
    pinFeatures(rows, sizedWidth(rows))
  }

  /** The unpinned feature rows (__id, __y, __b, __x) — the column order
    * [[trainWeights]] reads. */
  private[graft] def featureRows(docs: DataFrame, idCol: String,
      textCol: String, target: Column, numBuckets: Int): DataFrame = {
    val w = TextOps.words(col(textCol))
    docs
      .select(col(idCol).as("__id"),
        target.cast("boolean").cast("int").cast("double").as("__y"),
        w.as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col("__id"), col("__y"),
        size(col("__w")).cast("double").as("__n"),
        explode(col("__w")).as("__word"))
      .withColumn("__b",
        pmod(TextOps.wordHash60(concat(lit("qc:"), col("__word"))),
          lit(numBuckets.toLong)))
      .groupBy("__id", "__y", "__n", "__b")
      .agg(count(lit(1)).as("__c"))
      .select(col("__id"), col("__y"), col("__b"),
        (col("__c").cast("double") / col("__n")).as("__x"))
  }

  /** Pins feature rows hash-partitioned by doc id to `width`
    * partitions, each sorted by id, so a doc's rows are contiguous in
    * one partition: a gradient step folds one doc at a time, and the
    * scoring pass's margin aggregation (ClusteredDistribution on
    * (id, y), satisfied by the id subset) runs shuffle-free. The width
    * is an explicit count (never AQE byte-coalescing, the q203 trap)
    * and never affects any aggregated value. */
  private[graft] def pinFeatures(rows: DataFrame, width: Int): DataFrame =
    rows.repartition(width, col("__id")).sortWithinPartitions("__id")
      .pin()

  /** Partition width from Catalyst's size estimate: ceil(bytes/32 MB),
    * clamped to [1, 1 << 20]. The estimate is crude (it propagates the
    * scan size through explode/aggregate multipliers) but the right
    * ORDER at both ends: a few MB of features → 1 partition instead of
    * one per core; a 100 TB corpus → thousands, where a fixed core
    * count would serialize each GD step. Unknown statistics fall back
    * to the default parallelism instead of clamping to 1 << 20 tasks
    * per GD step: an RDD-backed input reports
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue by default), and the
    * plan above it scales that sentinel down by row-width ratios, so
    * the leaves are checked as well as the root. */
  private[graft] def sizedWidth(df: DataFrame): Int = {
    val spark = df.sparkSession
    val plan = df.queryExecution.optimizedPlan
    val bytes = plan.stats.sizeInBytes
    val unknown = spark.sessionState.conf.defaultSizeInBytes
    if ((plan +: plan.collectLeaves()).exists(_.stats.sizeInBytes >= unknown))
      spark.sparkContext.defaultParallelism
    else {
      val target = BigInt(32L << 20)
      ((bytes + target - 1) / target).max(1).min(1 << 20).toInt
    }
  }

  /** Per-doc 6-dp margins against a literal weight vector: terms
    * rounded to 12 dp, summed exactly in decimal (order-free). */
  private def margins(feat: DataFrame, w: Array[Double]): DataFrame = {
    val wArr = array(w.map(lit): _*)
    feat
      .withColumn("__t",
        round(element_at(wArr, (col("__b") + 1).cast("int")) * col("__x"),
          12).cast("decimal(38,12)"))
      .groupBy("__id", "__y").agg(sum(col("__t")).as("__z"))
      .withColumn("__m", round(col("__z").cast("double"), 6))
  }

  /** The gradient loop: `iters` full-batch steps from w = 0, weights
    * on the driver (numBuckets doubles — bounded, like the k-means
    * centroid pulls). A step is one Spark job over the pin from
    * [[pinFeatures]]: [[gradientFold]] per partition, then the driver
    * adds the partitions' exact sums and moves every weight by
    * lr · sum / nDocs. The first step's doc count is nDocs; with no
    * docs the weights stay 0. The arithmetic is that of the Catalyst
    * expressions in [[margins]] and [[sigmoid6]], evaluated as Spark
    * evaluates them, so the weights are bit-identical to the same steps
    * written as Catalyst aggregates (CorpusQaSpec). */
  private[graft] def trainWeights(feat: DataFrame, numBuckets: Int,
      iters: Int, lr: Double): Array[Double] = {
    val (rows, idType) = (feat.queryExecution.toRdd, feat.schema.head.dataType)
    var (w, nDocs) = (Array.fill(numBuckets)(0.0), -1L)
    for (_ <- 1 to iters) {
      val wt = w
      val parts = rows.mapPartitions(it =>
        Iterator.single(gradientFold(it, idType, wt))).collect()
      if (nDocs < 0) nDocs = parts.map(_._2).sum
      if (nDocs > 0) {
        val g = parts.map(_._1).reduce((a, b) => a.indices.map(j => a(j) + b(j)).toArray)
        w = w.indices.map(j =>
          w(j) - lr * (exact(g(j)).toJavaBigDecimal.doubleValue / nDocs)).toArray
      }
    }
    w
  }

  /** One gradient step over one partition of rows (__id, __y, __b,
    * __x) sorted by id. Per doc (a null id is no doc; a doc whose rows
    * carry two labels has one margin per label, as an aggregation by
    * (id, y) has): margin = exact sum of its 12-dp terms w_b·x, rounded
    * to 6 dp; err = sigmoid6(margin) − y, none for a null label; each of
    * the doc's rows adds the 12-dp term err·x to its bucket's sum.
    * Returns the numBuckets sums and the partition's doc count. A task
    * holds one doc's rows and the numBuckets sums. */
  private def gradientFold(rows: Iterator[InternalRow], idType: DataType,
      w: Array[Double]): (Array[Decimal], Long) = {
    val g = Array.fill(w.length)(Decimal(0))
    val (bs, ys, xs) =
      (new ArrayBuilder.ofInt, new ArrayBuilder.ofDouble, new ArrayBuilder.ofDouble)
    var (id, docs): (Any, Long) = (null, 0L)
    def endDoc(): Unit = if (id != null) {
      val (b, y, x) = (bs.result(), ys.result(), xs.result())
      for (label <- y.distinct if !label.isNaN) {
        val z = y.indices.foldLeft(Decimal(0))((z, k) =>
          if (y(k) == label) z + term(w(b(k)) * x(k)) else z)
        val err = sigmoid(halfUp(exact(z).toDouble, 6)) - label
        b.indices.foreach(k => g(b(k)) = g(b(k)) + term(err * x(k)))
      }
      docs += 1; bs.clear(); ys.clear(); xs.clear()
    }
    rows.foreach { r =>
      if (!r.isNullAt(0)) {
        val v = r.get(0, idType)
        if (v != id) { endDoc(); id = InternalRow.copyValue(v) }
        bs += r.getLong(2).toInt
        ys += (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
        xs += r.getDouble(3)
      }
    }
    endDoc()
    (g.map(exact), docs)
  }

  /** Spark's `round(d, scale)` on a double: HALF_UP on its decimal
    * string. */
  private def halfUp(d: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(d).setScale(scale, RoundingMode.HALF_UP)
      .doubleValue

  /** [[sigmoid6]] as Spark evaluates it (StrictMath exp). */
  private def sigmoid(m: Double): Double =
    halfUp(1.0 / (1.0 + StrictMath.exp(-m)), 6)

  /** `round(d, 12).cast("decimal(38,12)")`. */
  private def term(d: Double): Decimal = exact(Decimal(halfUp(d, 12)))

  /** A fresh copy of `d` at decimal(38,12); past precision 38 it fails,
    * as the ANSI decimal cast and sum do. */
  private def exact(d: Decimal): Decimal = {
    val e = d.clone()
    if (!e.changePrecision(38, 12))
      throw new ArithmeticException(s"$d overflows decimal(38,12)")
    e
  }

  /** Reliability diagram + Expected Calibration Error (Guo et al. 2017,
    * "On Calibration of Modern Neural Networks") for the
    * [[hashClassifier]] probability against a caller-supplied boolean
    * truth column, per group (source): equal-width probability bins,
    * per-bin mean confidence vs empirical accuracy, and
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b| — the audit that decides whether
    * a quality-filter score can be thresholded at face value or needs
    * recalibration before it gates a 100 TB corpus.
    *
    * Scale shape: the classifier is a map-only scan; binning adds one
    * (group, bin) hash aggregate with map-side partials (≤ groups·nBins
    * rows out), and the ECE rollup runs on that bounded table. Per-bin
    * confidence sums the 6-dp classifier probs exactly in decimal; the
    * ECE terms n_b·gap_b are identical IEEE products on both engines and
    * sum exactly — reduction order cannot shift the hash. */
  def calibrationEce(docs: DataFrame, idCol: String, textCol: String,
      truth: Column, groupCol: String, nBins: Int = 10): DataFrame = {
    val scored = hashClassifier(docs, idCol, textCol)
      .select(col(idCol), col("prob"))
    val perBin = docs
      .select(col(idCol), col(groupCol).as("source"),
        truth.cast("boolean").as("__y"))
      .join(scored, Seq(idCol))
      .filter(col("prob").isNotNull)
      .withColumn("bin",
        least(floor(col("prob") * nBins), lit(nBins - 1L)).cast("long"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n"),
        graft.core.Det.sumDet(col("prob"), 6).as("__sp"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__npos"))
      .withColumn("conf", round(col("__sp") / col("n"), 6))
      .withColumn("acc", round(col("__npos").cast("double") / col("n"), 6))
      .withColumn("gap", round(abs(col("conf") - col("acc")), 6))
      // ≤ groups·nBins rows over a corpus-scan subtree with two consumers
      // (the ECE rollup and the final join) — materialize once.
      .pin()
    val ece = perBin.groupBy("source")
      .agg(sum(col("n")).as("__N"),
        graft.core.Det.sumDet(round(col("n") * col("gap"), 6), 6)
          .as("__sg"))
      .select(col("source"), round(col("__sg") / col("__N"), 6).as("ece"))
    perBin.join(ece, Seq("source"))
      .select("source", "bin", "n", "conf", "acc", "gap", "ece")
  }

  /** Disparate-impact audit of a quality filter across languages
    * (Feldman et al., KDD 2015, "Certifying and Removing Disparate
    * Impact" — the EEOC 80% rule): per language, the
    * [[hashClassifier]] keep rate; the DI ratio is each group's rate
    * over the best group's, and any group under 0.8 is flagged — the
    * corpus-governance check that a "quality" filter is not just a
    * fluency-in-the-majority-language filter. One map-only scan, one
    * language-bounded aggregate, one broadcast max-rate scalar. */
  def disparateImpact(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, threshold: Double = 0.5): DataFrame = {
    // the classifier formula inlined (q263's single-scan rule): scoring
    // and grouping in ONE corpus pass instead of a corpus self-join
    val w = TextOps.words(col(textCol))
    def weight(x: Column): Column =
      (pmod(TextOps.wordHash60(concat(lit("clf:"), x)), lit(2001L)) - 1000L)
        .cast("double") / 1000.0
    val margin = round(
      aggregate(w, lit(0.0d), (acc, x) => acc + weight(x)) / size(w), 6)
    val prob = round(lit(1.0) / (lit(1.0) + exp(-margin)), 6)
    val label = coalesce(when(size(w) > 0, prob >= threshold), lit(false))
    val rates = docs
      .select(col(groupCol).as("grp"), label.as("label"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("__rate", col("n_keep").cast("double") / col("n_docs"))
      .pin()
    val mx = rates.agg(max(col("__rate")).as("__mx"))
    rates.crossJoin(broadcast(mx))
      .select(col("grp").as(groupCol), col("n_docs"), col("n_keep"),
        round(col("__rate"), 6).as("keep_rate"),
        round(when(col("__mx") > 0.0, col("__rate") / col("__mx")), 6)
          .as("di_ratio"),
        coalesce(when(col("__mx") > 0.0,
          col("__rate") / col("__mx") < 0.8), lit(false))
          .as("below_80pct_rule"))
  }

  /** Brier-score decomposition (Murphy 1973, "A New Vector Partition of
    * the Probability Score"): over the same equal-width bins as
    * [[calibrationEce]], Brier = REL − RES + UNC with
    * REL = Σ n_b(conf_b − acc_b)²/N (calibration error, lower better),
    * RES = Σ n_b(acc_b − ȳ)²/N (resolution — discrimination, higher
    * better), UNC = ȳ(1−ȳ) (irreducible base-rate term). ECE says THAT
    * a filter is miscalibrated; the decomposition says whether
    * recalibrating is worth it (high RES) or the score carries no
    * signal (RES ≈ 0). The direct Brier mean is emitted alongside from
    * its own exactly-summed terms. Per-bin terms round to 6 dp and sum
    * through exact decimal — the ECE determinism discipline. */
  def brierDecomposition(docs: DataFrame, idCol: String, textCol: String,
      truth: Column, groupCol: String, nBins: Int = 10): DataFrame = {
    val scored = hashClassifier(docs, idCol, textCol)
      .select(col(idCol), col("prob"))
    val rows = docs
      .select(col(idCol), col(groupCol).as("source"),
        truth.cast("boolean").as("__y"))
      .join(scored, Seq(idCol))
      .filter(col("prob").isNotNull)
      .withColumn("bin",
        least(floor(col("prob") * nBins), lit(nBins - 1L)).cast("long"))
      .pin()
    val perBin = rows.groupBy("source", "bin")
      .agg(count(lit(1)).as("n"),
        graft.core.Det.sumDet(col("prob"), 6).as("__sp"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__npos"))
      .withColumn("conf", round(col("__sp") / col("n"), 6))
      .withColumn("acc", round(col("__npos").cast("double") / col("n"), 6))
    val base = rows.groupBy("source")
      .agg(count(lit(1)).as("__N"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__Npos"),
        graft.core.Det.sumDet(round(
          (col("prob") - when(col("__y"), 1.0d).otherwise(0.0d)) *
            (col("prob") - when(col("__y"), 1.0d).otherwise(0.0d)), 6), 6)
          .as("__sb"))
      .withColumn("__ybar", round(col("__Npos").cast("double") / col("__N"), 6))
    perBin.join(broadcast(base), Seq("source"))
      .groupBy(col("source"), col("__N"), col("__ybar"), col("__sb"))
      .agg(
        graft.core.Det.sumDet(round(col("n") *
          ((col("conf") - col("acc")) * (col("conf") - col("acc"))), 6), 6)
          .as("__rel"),
        graft.core.Det.sumDet(round(col("n") *
          ((col("acc") - col("__ybar")) * (col("acc") - col("__ybar"))), 6), 6)
          .as("__res"))
      .select(col("source"), col("__N").as("n_docs"),
        col("__ybar").as("base_rate"),
        round(col("__rel") / col("__N"), 6).as("reliability"),
        round(col("__res") / col("__N"), 6).as("resolution"),
        round(col("__ybar") * (lit(1.0) - col("__ybar")), 6)
          .as("uncertainty"),
        round(col("__sb") / col("__N"), 6).as("brier"))
  }

  /** Fightin' Words (Monroe, Colaresi & Quinn 2008, "Fightin' Words:
    * Lexical Feature Selection and Evaluation for Identifying the
    * Content of Political Conflict"): per (group, word) over the
    * ≥`minCount` vocabulary, the Dirichlet-smoothed log-odds of the
    * word in the group vs the REST of the corpus, z-scored by the
    * delta's approximate variance 1/(y+α) + 1/(y′+α) — the
    * statistically honest "which words characterize this source"
    * ranking (raw log-odds overweight rare words; the z fixes it).
    * Output only observed (group, word) cells.
    *
    * Scale shape: one token scan into (group, word) counts, then
    * vocab×groups-bounded joins with broadcast corpus scalars. The two
    * lns pin to 6 dp; everything else is a fixed-order expression. */
  def fightinWords(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, alphaW: Double = 0.01,
      minCount: Long = 25): DataFrame = {
    val c = docs.select(col(groupCol).as("grp"),
        explode(TextOps.words(col(textCol))).as("word"))
      .groupBy("grp", "word").agg(count(lit(1)).as("y"))
      .pin()
    val w = c.groupBy("word").agg(sum(col("y")).as("__yw"))
      .filter(col("__yw") >= minCount)
    val g = c.groupBy("grp").agg(sum(col("y")).as("__ni"))
    val keep = c.join(w, Seq("word")).join(g, Seq("grp"))
    val tot = keep.agg(sum(col("y")).as("__N"),
      countDistinct(col("word")).as("__V"))
    val aw = lit(alphaW)
    val scored = keep.crossJoin(broadcast(tot))
      .withColumn("__a0", aw * col("__V"))
      .withColumn("__yr", col("__yw") - col("y"))
      .withColumn("__l1", round(log(
        (col("y") + aw) / (col("__ni") + col("__a0") - col("y") - aw)), 6))
      .withColumn("__l2", round(log(
        (col("__yr") + aw) /
          (col("__N") - col("__ni") + col("__a0") - col("__yr") - aw)), 6))
      .withColumn("__var",
        lit(1.0) / (col("y") + aw) + lit(1.0) / (col("__yr") + aw))
    scored.select(col("grp").as(groupCol), col("word"), col("y"),
      col("__yw").as("y_total"),
      round(col("__l1") - col("__l2"), 6).as("log_odds"),
      round((col("__l1") - col("__l2")) / sqrt(col("__var")), 4)
        .as("z"))
  }

  /** Markov entropy rate of the corpus bigram chain per group (Shannon
    * 1948 §7): the conditional entropy H(W₂|W₁) = −Σ c₁₂·ln(c₁₂/c₁)/NB
    * against the unigram entropy H(W) = −Σ c·ln(c/N)/N — their gap is
    * how much one word of context predicts the next, i.e. the
    * sequential-structure signal that distinguishes real prose from
    * shuffled-word spam at equal unigram statistics.
    *
    * Scale shape: the bigram and unigram count tables are the q230
    * shapes (vocab²/vocab-bounded with map-side combine); each entropy
    * term rounds to 6 dp and sums through exact decimal. */
  /** TextTiling-style topical cohesion (Hearst 1997, "TextTiling:
    * Segmenting Text into Multi-paragraph Subtopic Passages", collapsed
    * to its lexical-cohesion core): tokens split into fixed
    * `blockTokens`-token blocks; adjacent blocks compare by cosine over
    * their term-frequency vectors; a gap whose cosine falls below
    * `boundaryBelow` is a topic boundary. Low mean cohesion with many
    * boundaries marks concatenation artifacts (scraped pages glued into
    * one "document") — a segmentation-before-training signal that
    * doc-level quality scores miss.
    *
    * Cross-engine exactness: block term counts are integers, so the
    * dot product and squared norms are EXACT integer sums (blocks are
    * ≤ `blockTokens` tokens — all products fit 2^53); the cosine does
    * one double division against an IEEE-exact sqrt of an exact integer
    * product, rounded to 6 dp before any aggregation (per-doc means go
    * through exact decimal). One token scan; the adjacent-gap join is
    * block-keyed on (doc, block) — never cross-document. */
  def textTiling(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 20, boundaryBelow: Double = 0.15): DataFrame = {
    val counts = docs
      .select(col(idCol),
        posexplode(TextOps.words(col(textCol))).as(Seq("__pos", "__w")))
      .select(col(idCol), expr(s"__pos div $blockTokens").as("__b"),
        col("__w"))
      .groupBy(col(idCol), col("__b"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .pin() // gap join + norms share one token scan
    val norms = counts.groupBy(col(idCol), col("__b"))
      .agg(sum(col("__c") * col("__c")).as("__n2"))
    val dots = counts.as("a")
      .join(counts.as("b"),
        col(s"a.$idCol") === col(s"b.$idCol") &&
          col("a.__b") + 1 === col("b.__b") && col("a.__w") === col("b.__w"))
      .groupBy(col(s"a.$idCol").as(idCol), col("a.__b").as("__b"))
      .agg(sum(col("a.__c") * col("b.__c")).as("__dot"))
    val gaps = norms.as("na")
      .join(norms.as("nb"),
        col(s"na.$idCol") === col(s"nb.$idCol") &&
          col("na.__b") + 1 === col("nb.__b"))
      .select(col(s"na.$idCol").as(idCol), col("na.__b").as("__b"),
        col("na.__n2").as("__na"), col("nb.__n2").as("__nb"))
      .join(dots, Seq(idCol, "__b"), "left")
      .select(col(idCol),
        round(coalesce(col("__dot"), lit(0L)).cast("double") /
          sqrt(col("__na").cast("double") * col("__nb").cast("double")), 6)
          .as("__cos"))
    val perDoc = gaps.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_gaps"),
        // UNROUNDED: sum is exact decimal, so the one double division
        // is bit-identical cross-engine — rounding it would re-enter
        // the double-rounding boundary class (hit at the gate scale on
        // this query's first run)
        graft.core.Det.avgDet(col("__cos"), 6).as("avg_cohesion"),
        sum(when(col("__cos") < boundaryBelow, 1L).otherwise(0L))
          .as("n_boundaries"))
    docs.select(col(idCol))
      .join(counts.groupBy(col(idCol))
        .agg((max(col("__b")) + 1).cast("long").as("n_blocks")),
        Seq(idCol), "left")
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
        col("avg_cohesion"),
        coalesce(col("n_boundaries"), lit(0L)).as("n_boundaries"))
  }

  def entropyRate(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val toks = docs.select(col(groupCol).as("grp"), col(idCol),
      posexplode(TextOps.words(col(textCol))).as(Seq("pos", "word")))
    val uc = toks.groupBy("grp", "word").agg(count(lit(1)).as("c"))
    val un = uc.groupBy("grp").agg(sum(col("c")).as("n_tokens"))
    val hUni = uc.join(broadcast(un), Seq("grp"))
      .withColumn("__t", round(col("c") *
        log(col("c").cast("double") / col("n_tokens")), 6))
      .groupBy("grp")
      .agg(max(col("n_tokens")).as("n_tokens"),
        graft.core.Det.sumDet(col("__t"), 6).as("__su"))
    val bg = toks
      .withColumn("w2", lead(col("word"), 1).over(byPos))
      .filter(col("w2").isNotNull)
      .groupBy(col("grp"), col("word").as("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .pin()
    val ctx = bg.groupBy("grp", "w1").agg(sum(col("c12")).as("__c1"))
    val bn = bg.groupBy("grp").agg(sum(col("c12")).as("n_bigrams"))
    val hCond = bg.join(ctx, Seq("grp", "w1"))
      .withColumn("__t", round(col("c12") *
        log(col("c12").cast("double") / col("__c1")), 6))
      .groupBy("grp")
      .agg(graft.core.Det.sumDet(col("__t"), 6).as("__sc"))
      .join(bn, Seq("grp"))
    hUni.join(hCond, Seq("grp"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("n_bigrams"),
        round(-col("__su") / col("n_tokens"), 6).as("h_unigram"),
        round(-col("__sc") / col("n_bigrams"), 6).as("h_cond"),
        round(-col("__su") / col("n_tokens") -
          (-col("__sc") / col("n_bigrams")), 6).as("info_gain"))
  }

  /** OOV masking: every word whose corpus document frequency is below
    * `minDf` becomes `<unk>` — the closed-vocabulary normalization step
    * before tokenizer training / n-gram LM fitting (rare-word cutoffs in
    * the Mikolov word2vec / BNC tradition).
    *
    * Scale shape: document frequencies are one hash-aggregate over the
    * DISTINCT (doc, word) stream; the token stream then left-joins the
    * RARE slice only (on real corpora the rare vocabulary is huge in
    * TERMS but tiny in TOKEN hits, so the join's build side is the df
    * table, shuffled once on the word key — never a broadcast assumption).
    * Reassembly sorts each document's surviving (pos, word) pairs inside
    * one per-doc aggregate — no window, map-side partials collapse the
    * token stream to one row per document. */
  def unkMask(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(TextOps.words(col(textCol))).as(Seq("__pos", "word")))
    val rare = toks.select(col(idCol), col("word")).distinct()
      .groupBy("word").agg(count(lit(1)).as("__df"))
      .filter(col("__df") < minDf)
    val masked = toks.join(rare.select(col("word"), lit(1L).as("__rare")),
        Seq("word"), "left")
      .select(col(idCol), col("__pos"),
        when(col("__rare").isNotNull, lit("<unk>")).otherwise(col("word"))
          .as("__w"),
        coalesce(col("__rare"), lit(0L)).as("__u"))
    val agg = masked.groupBy(idCol)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__w")))),
          s => s.getField("__w"))).as("masked"),
        sum(col("__u")).as("n_unk"),
        count(lit(1)).as("n_tokens"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("masked"), lit("")).as("masked"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** PMI collocations (Church & Hanks 1990): pointwise mutual information
    * of adjacent word pairs with corpus count >= `minCount` —
    * pmi = ln(P(a,b) / (P(a)·P(b))) over exact integer unigram/bigram
    * counts, so the only float op is one ln in a fixed expression order.
    * One exchange on the doc id for the lead window (the
    * [[graft.llm.Pipeline.repetitionStats]] bigram shape), bounded
    * aggregates after; the unigram table broadcasts (vocabulary <<
    * corpus). The collocation-mining primitive behind phrase detection /
    * tokenizer-seeding decisions. */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 30L): DataFrame = {
    val words = docs.select(col(idCol),
      posexplode(TextOps.words(col(textCol))).as(Seq("__pos", "word")))
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val bigrams = words.withColumn("__next", lead(col("word"), 1).over(w))
      .filter(col("__next").isNotNull)
    val uni = words.groupBy("word").agg(count(lit(1)).as("c"))
    val big = bigrams.groupBy(col("word").as("w1"), col("__next").as("w2"))
      .agg(count(lit(1)).as("c12"))
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val nBig = big.agg(sum(col("c12")).as("n_big"))
    big.filter(col("c12") >= minCount)
      .join(broadcast(uni.select(col("word").as("w1"), col("c").as("c1"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("word").as("w2"), col("c").as("c2"))),
        Seq("w2"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(col("c12").cast("double") * col("n_tok") * col("n_tok") /
          (col("n_big").cast("double") * col("c1") * col("c2"))), 6)
          .as("pmi"))
  }

  /** Per-source-pair vocabulary overlap: Jaccard of the distinct-word
    * sets of every source pair — the provenance analytic answering "do
    * these crawls draw from the same language register?" at the VOCAB
    * level ([[graft.llm.Dedup.crossSourceDups]] answers it at the
    * document level). Distinct (source, word) collapses map-side; the
    * word-keyed self-join fans out at most |sources|² per word — bounded
    * by the source dimension, never the corpus. */
  def vocabOverlap(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val sv = docs.select(col(sourceCol).as("source"),
      explode(TextOps.words(col(textCol))).as("word")).distinct()
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("n"))
    sv.as("a")
      .join(sv.as("b"),
        col("a.word") === col("b.word") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")),
        Seq("source_b"))
      .withColumn("jaccard", round(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")), 6))
  }

  /** Simple Good–Turing smoothed frequency table (Good 1953; Gale &
    * Sampson 1995) per source: the frequency-of-frequencies N_r over the
    * word-count table, the Turing estimate r* = (r+1)·N_{r+1}/N_r for
    * each observed low count, and the unseen-mass estimate p0 = N_1/N —
    * the smoothing audit behind every count-based LM filter. r* is null
    * when N_{r+1} is unobserved (the raw Turing estimator is undefined
    * there; full SGT interpolates — out of scope by design). Shapes: one
    * corpus scan into a (source, word) hash aggregate, then everything
    * runs on the count-of-counts table, bounded by distinct counts —
    * metadata-sized at any corpus scale. */
  def goodTuring(docs: DataFrame, textCol: String, sourceCol: String,
      maxR: Int = 10): DataFrame = {
    val f = docs.select(col(sourceCol).as("source"),
        explode(TextOps.words(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val nr = f.groupBy(col("source"), col("c").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val tot = f.groupBy("source")
      .agg(sum(col("c")).as("__n"), count(lit(1)).as("n_types"))
    val n1 = nr.filter(col("r") === 1)
      .select(col("source"), col("n_r").as("__n1"))
    val w = Window.partitionBy("source").orderBy("r")
    nr.withColumn("__rnext", lead(col("r"), 1).over(w))
      .withColumn("__nnext", lead(col("n_r"), 1).over(w))
      .join(tot, Seq("source"))
      .join(n1, Seq("source"), "left")
      .filter(col("r") <= maxR)
      .select(col("source"), col("r"), col("n_r"),
        round(when(col("__rnext") === col("r") + 1,
          (col("r") + 1).cast("double") * col("__nnext") / col("n_r")), 6)
          .as("r_star"),
        round(coalesce(col("__n1"), lit(0L)).cast("double") /
          col("__n"), 6).as("p_unseen"))
  }

  /** Bias-corrected Chao1 species-richness estimate (Chao 1984, 1987) of
    * each source's vocabulary: V + N1(N1−1)/(2(N2+1)) from the singleton
    * and doubleton type counts — "how many word types does this crawl
    * REALLY have", the capture-recapture complement to q201's Heaps
    * extrapolation. One corpus scan into the (source, word) aggregate;
    * everything after is per-source scalars. */
  def chao1(docs: DataFrame, textCol: String, sourceCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"),
        explode(TextOps.words(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .withColumn("chao1", round(col("n_types") +
        (col("n1") * (col("n1") - 1)).cast("double") /
          (lit(2.0) * (col("n2") + 1)), 4))

  /** Confusion matrix + per-class precision/recall/F1 of the [[langId]]
    * stopword heuristic against the labeled `lang` column — the
    * classifier-evaluation audit for the language-ID filter stage
    * (complements q226's calibration ECE, which scores probabilities;
    * this scores the hard decision). Two label-bounded hash aggregates
    * over the scored scan. Languages the heuristic has no stopword list
    * for (e.g. zh) surface as recall 0, not as silent drops. */
  def langIdConfusion(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val j = docs.select(col(idCol), col(langCol).as("lang"))
      .join(langId(docs, idCol, textCol).select(col(idCol),
        col("pred_lang")), Seq(idCol))
    val t = j.groupBy("lang")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
          .as("n_correct"))
    val p = j.groupBy(col("pred_lang").as("lang"))
      .agg(count(lit(1)).as("n_pred"))
    val prec = when(col("n_pred") > 0,
      col("n_correct").cast("double") / col("n_pred"))
    val rec = col("n_correct").cast("double") / col("n_true")
    t.join(p, Seq("lang"), "left")
      .na.fill(0L, Seq("n_pred"))
      .withColumn("precision", round(prec, 6))
      .withColumn("recall", round(rec, 6))
      .withColumn("f1", round(when(prec + rec > 0.0,
        lit(2.0) * prec * rec / (prec + rec)).otherwise(0.0), 6))
      .select("lang", "n_true", "n_pred", "n_correct", "precision",
        "recall", "f1")
  }

  /** Fleiss' kappa (Fleiss 1971, "Measuring nominal scale agreement
    * among many raters") across three deterministic binary keep/reject
    * raters — word-count ≥ 50, alphabetic-word ratio ≥ 0.8 (integer
    * form 5·nAlpha ≥ 4·nWords, exact), ≥ 2 distinct English stopwords
    * (the three hard Gopher rules as independent judges). Chance-
    * corrected agreement beyond what the category base rates predict —
    * the multi-rater extension of q208's pairwise Cohen kappa.
    *
    * Per item with x keep-votes of n=3, Σ_j n_ij(n_ij−1) =
    * x(x−1) + (3−x)(2−x); P̄ and P_e derive from the two INTEGER corpus
    * sums Σx and Σ[x(x−1)+(3−x)(2−x)], so the only doubles are four
    * final divisions — one map-only scan, one 1-row aggregate, exact at
    * any scale. κ undefined (null) when P_e = 1. */
  def fleissKappa(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val en = stopwords.head._2
    val w = TextOps.words(col(textCol))
    val nW = size(w)
    val r1 = (nW >= 50).cast("int")
    val r2 = (nW > 0 &&
      size(filter(w, x => x.rlike("[a-z]"))) * 5 >= nW * 4).cast("int")
    val r3 = (size(array_intersect(array_distinct(w),
      array(en.map(lit): _*))) >= 2).cast("int")
    docs.select((r1 + r2 + r3).cast("long").as("__x"))
      .select(col("__x"),
        (col("__x") * (col("__x") - 1) +
          (lit(3L) - col("__x")) * (lit(2L) - col("__x"))).as("__q"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__x")).as("__sx"),
        sum(col("__q")).as("__sq"))
      .select(col("n_docs"),
        (col("__sq").cast("double") / (lit(6.0) * col("n_docs")))
          .as("__pbar"),
        (col("__sx").cast("double") / (lit(3.0) * col("n_docs")))
          .as("__pk"))
      .select(col("n_docs"), col("__pbar"),
        (col("__pk") * col("__pk") +
          (lit(1.0) - col("__pk")) * (lit(1.0) - col("__pk"))).as("__pe"))
      .select(col("n_docs"), round(col("__pbar"), 6).as("p_bar"),
        round(col("__pe"), 6).as("p_e"),
        round(when(col("__pe") =!= 1.0,
          (col("__pbar") - col("__pe")) / (lit(1.0) - col("__pe"))), 6)
          .as("kappa"))
  }

  /** Per-source Spearman rank correlation (Spearman 1904; the
    * tie-corrected form = Pearson on average ranks) between two quality
    * scores — the [[hashClassifier]] margin and the mean word length —
    * answering "do these two filters RANK documents the same way?",
    * which kappa's binary agreement cannot.
    *
    * Average ranks are held as the exact INTEGER 2·rank_avg =
    * 2·rank_min + ties − 1; every Pearson sum is then integer
    * arithmetic carried in DECIMAL(38,0) (n·Σxy − Σx·Σy overflows a
    * long at corpus scale), converted to double once through a STRING
    * round-trip (decimal-string parse is correctly rounded by spec on
    * both engines; a direct DECIMAL→DOUBLE cast can differ by 1 ulp).
    * Scale: windows partition by source — the quantile-norm profile;
    * the largest source bounds the sort task. */
  def spearmanScores(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val w = TextOps.words(col(textCol))
    val mwl = when(size(w) > 0, round(
      aggregate(w, lit(0L), (a, x) => a + length(x)).cast("double") /
        size(w), 6))
    // margin inlined (the hashClassifier formula) so both scores come
    // from ONE corpus scan — calling the classifier and re-joining on id
    // would self-join the corpus for a value computable in place
    def weight(x: Column): Column =
      (pmod(TextOps.wordHash60(concat(lit("clf:"), x)), lit(2001L)) - 1000L)
        .cast("double") / 1000.0
    val margin = when(size(w) > 0, round(
      aggregate(w, lit(0.0d), (acc, x) => acc + weight(x)) / size(w), 6))
    val scored = docs.select(col(idCol), col(groupCol).as("source"),
        margin.as("margin"), mwl.as("__mwl"))
      .filter(col("margin").isNotNull && col("__mwl").isNotNull)
    def ar2(c: String): Column =
      rank().over(Window.partitionBy("source").orderBy(col(c))) * 2 +
        count(lit(1)).over(Window.partitionBy("source", c)) - 1
    val ranked = scored
      .withColumn("__rx", ar2("margin").cast("long"))
      .withColumn("__ry", ar2("__mwl").cast("long"))
    def dsum(c: Column): Column =
      sum(c.cast("decimal(38,0)")).cast("decimal(38,0)")
    def d2d(c: Column): Column = c.cast("string").cast("double")
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n"), dsum(col("__rx")).as("__sx"),
        dsum(col("__ry")).as("__sy"),
        dsum(col("__rx") * col("__rx")).as("__sxx"),
        dsum(col("__ry") * col("__ry")).as("__syy"),
        dsum(col("__rx") * col("__ry")).as("__sxy"))
      .select(col("source"), col("n"),
        round(d2d(col("n") * col("__sxy") - col("__sx") * col("__sy")) /
          sqrt(d2d(col("n") * col("__sxx") - col("__sx") * col("__sx")) *
            d2d(col("n") * col("__syy") - col("__sy") * col("__sy"))), 6)
          .as("rho_spearman"))
  }

  /** Misra–Gries heavy hitters as a MERGEABLE summary (Misra & Gries
    * 1982; merge rule from Agarwal et al. 2012, "Mergeable Summaries"):
    * per shard, exact word counts reduce to the ≤k words whose count
    * exceeds the shard's (k+1)-th largest (estimate = count − that
    * pivot); shard summaries merge by summing estimates and subtracting
    * the merged (k+1)-th largest again. The theorem: merged estimates
    * keep the one-sided MG guarantee est ≤ true ≤ est + N/(k+1) over the
    * TOTAL token count N — audited here per surviving word against the
    * exact corpus counts (`bound_ok` must be all-true; the integer form
    * (true − est)·(k+1) ≤ N avoids division).
    *
    * Scale shape: the shard stage is one (shard, word) aggregate with
    * map-side combine + a per-shard window on its own top slice; the
    * merge touches ≤ shards·k rows. This is the sketch that lets a
    * 100 TB crawl keep per-shard top-word summaries as metadata and
    * re-merge them per source/snapshot without rescanning text. */
  def misraGries(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20, numShards: Int = 8): DataFrame = {
    val words = docs.select(
      pmod(col(idCol), lit(numShards.toLong)).as("shard"),
      explode(TextOps.words(col(textCol))).as("word"))
    val counts = words.groupBy("shard", "word")
      .agg(count(lit(1)).as("c")).pin()
    def summarize(df: DataFrame, grpCol: Option[String], est: Column,
        word: Column): DataFrame = {
      val part = grpCol.map(g => Window.partitionBy(g))
        .getOrElse(Window.partitionBy(lit(1)))
      val byEst = part.orderBy(est.desc, word)
      df.withColumn("__rn", row_number().over(byEst))
        .withColumn("__pivot", coalesce(
          max(when(col("__rn") === k + 1, est)).over(part), lit(0L)))
        .filter(est > col("__pivot"))
        .withColumn("__est", est - col("__pivot"))
    }
    val shardSumm = summarize(counts, Some("shard"), col("c"), col("word"))
      .select(col("word"), col("__est").as("e"))
    val merged = summarize(
      shardSumm.groupBy("word").agg(sum(col("e")).as("se")),
      None, col("se"), col("word"))
      .select(col("word"), col("__est").as("est_count"))
    val exact = counts.groupBy("word").agg(sum(col("c")).as("true_count"))
    val total = counts.agg(sum(col("c")).as("__n"))
    merged.join(exact, Seq("word"))
      .crossJoin(broadcast(total))
      .select(col("word"), col("est_count"), col("true_count"),
        (col("true_count") - col("est_count")).as("err"),
        (col("est_count") <= col("true_count") &&
          (col("true_count") - col("est_count")) * (k + 1) <= col("__n"))
          .as("bound_ok"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    * Bringing Order into Text"): PageRank over the word co-occurrence
    * graph — window 2, i.e. adjacent-word pairs, undirected — restricted
    * to words with corpus count ≥ `minCount` so the graph is
    * vocab-bounded. Node ids are the qualifying vocab's row numbers
    * (deterministic order-by-word; bounded table, so the global window
    * is fine); ranks come from the shared scaled-integer
    * [[graft.ops.PageRank]] loop — exact cross-engine, no float
    * summation anywhere. Output: (word, rank_scaled) — the corpus
    * keyword table a retrieval/labeling pipeline seeds from.
    *
    * Scale shape: one corpus scan builds both the vocab counts and the
    * adjacent-pair rows; everything after the vocab joins is bounded by
    * the qualifying vocabulary and its pair set. */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 25, iters: Int = 5): DataFrame = {
    val words = docs.select(col(idCol),
      posexplode(TextOps.words(col(textCol))).as(Seq("pos", "word")))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .withColumn("nid",
        row_number().over(Window.orderBy("word")).cast("long"))
      .pin()
    val byPos = Window.partitionBy(idCol).orderBy("pos")
    val adj = words
      .withColumn("w2", lead(col("word"), 1).over(byPos))
      .filter(col("w2").isNotNull && col("word") =!= col("w2"))
      .join(vocab.select(col("word"), col("nid").as("__a")), Seq("word"))
      .join(vocab.select(col("word").as("w2"), col("nid").as("__b")),
        Seq("w2"))
      .select(least(col("__a"), col("__b")).as("u"),
        greatest(col("__a"), col("__b")).as("v"))
      .distinct()
    graft.ops.PageRank.run(
      adj.select(col("u").as("src"), col("v").as("dst"))
        .union(adj.select(col("v").as("src"), col("u").as("dst"))),
      iters)
      .join(vocab.select(col("nid").as("node"), col("word")), Seq("node"))
      .select(col("word"), col("rank_scaled"))
  }

  /** Word burstiness (Church & Gale 1995 / Katz 1996): content words
    * clump — given a word appears in a document at all, it tends to
    * recur — while function words spread evenly. Per word with df ≥
    * `minDf`: mean within-document term frequency E[tf | tf>0] and the
    * variance-to-mean ratio of tf over the documents CONTAINING the
    * word (VMR 0 = perfectly even, >1 = overdispersed/bursty) — the
    * signal that separates topical vocabulary from glue.
    *
    * One (doc, word) aggregate then one vocab-bounded aggregate; df,
    * Σtf, Σtf² are integers, so the only doubles are the final
    * divisions in a pinned operation order. */
  def burstiness(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long = 25): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(TextOps.words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__tf"))
    tf.groupBy("word")
      .agg(count(lit(1)).as("df"), sum(col("__tf")).as("tf_total"),
        sum(col("__tf") * col("__tf")).as("__tf2"))
      .filter(col("df") >= minDf)
      .withColumn("__m", col("tf_total").cast("double") / col("df"))
      .select(col("word"), col("df"), col("tf_total"),
        round(col("__m"), 6).as("mean_tf"),
        round((col("__tf2").cast("double") / col("df") -
          col("__m") * col("__m")) / col("__m"), 6).as("vmr"))
  }

  /** Distinct-n diversity (Li et al. 2016, "A Diversity-Promoting
    * Objective Function for Neural Conversation Models"): per group,
    * distinct unigrams / total tokens and distinct bigrams / total
    * bigrams — the standard degenerate-repetition metric for generated
    * or crawled text (low distinct-2 = template spam). Two hash
    * aggregates with map-side partials; counts are exact integers, the
    * two ratios divide once. */
  def distinctN(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val w = TextOps.words(col(textCol))
    val uni = docs.select(col(groupCol).as("grp"), explode(w).as("g"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("g")).as("n_distinct_1"))
    val bi = docs.select(col(groupCol).as("grp"),
        explode(TextOps.shingles(w, 2)).as("g"))
      .groupBy("grp").agg(countDistinct(col("g")).as("n_distinct_2"))
    val biTot = docs.select(col(groupCol).as("grp"),
        greatest(size(w) - 1, lit(0)).cast("long").as("__nb"))
      .groupBy("grp").agg(sum(col("__nb")).as("n_bigrams"))
    uni.join(bi, Seq("grp")).join(biTot, Seq("grp"))
      .select(col("grp").as(groupCol), col("n_tokens"),
        col("n_distinct_1"),
        round(col("n_distinct_1").cast("double") / col("n_tokens"), 6)
          .as("distinct_1"),
        col("n_bigrams"), col("n_distinct_2"),
        when(col("n_bigrams") > 0, round(
          col("n_distinct_2").cast("double") / col("n_bigrams"), 6))
          .as("distinct_2"))
  }

  /** k-ary randomized response (Warner 1965; the direct-encoding local-DP
    * mechanism RAPPOR generalizes): each token occurrence reports its
    * true word with probability p, otherwise a (hash-)uniform draw from
    * the global vocabulary; the collector DEBIASES observed counts with
    * est = (obs − n·(1−p)/V) / (p − (1−p)/V). ε-LDP with
    * ε = ln(1 + V·p/(1−p)). The mechanism is seeded per occurrence
    * (hash of doc, position), so the whole privacy channel is
    * deterministic and oracle-checkable; p's threshold is pre-scaled to
    * the 2^60 integer hash grid — no float comparison.
    *
    * Scale shape: one corpus scan; the vocabulary (bounded) broadcasts
    * as a sorted array for the uniform draw; per-word aggregate +
    * debias expression. Output joins estimated vs true counts. */
  def randomizedResponse(docs: DataFrame, idCol: String, textCol: String,
      p: Double = 0.75): DataFrame = {
    val thr = (p * math.pow(2.0, 60)).toLong
    val toks = docs.select(col(idCol),
      posexplode(TextOps.words(col(textCol))).as(Seq("pos", "word")))
    // ONE vocab-bounded count table feeds truth, the vocabulary array,
    // and the scalars — checkpointed so the corpus scans stay at the
    // 2-scan floor (per-occurrence hashes + this count pass)
    val truth = toks.groupBy("word").agg(count(lit(1)).as("true_count"))
      .pin()
    val stats = truth.agg(sort_array(collect_list(col("word"))).as("__v"),
      count(lit(1)).as("__vn"), sum(col("true_count")).as("__n"))
    val reported = toks.crossJoin(broadcast(stats))
      .withColumn("__h", TextOps.wordHash60(concat(lit("rr:"),
        col(idCol).cast("string"), lit(":"), col("pos").cast("string"))))
      .withColumn("__rep", when(col("__h") < thr, col("word"))
        .otherwise(element_at(col("__v"),
          (pmod(TextOps.wordHash60(concat(lit("rrpick:"),
            col(idCol).cast("string"), lit(":"),
            col("pos").cast("string"))), col("__vn")) + 1).cast("int"))))
    val obs = reported.groupBy(col("__rep").as("word"))
      .agg(count(lit(1)).as("obs_count"))
    obs.join(truth, Seq("word"), "full")
      .crossJoin(broadcast(stats.select(col("__n"), col("__vn"))))
      .select(col("word"),
        coalesce(col("true_count"), lit(0L)).as("true_count"),
        coalesce(col("obs_count"), lit(0L)).as("obs_count"),
        round((coalesce(col("obs_count"), lit(0L)).cast("double") -
          col("__n") * (lit(1.0) - p) / col("__vn")) /
          (lit(p) - (lit(1.0) - p) / col("__vn")), 4).as("est_count"))
  }

  /** Split-conformal coverage audit (Vovk et al. 2005; the split form
    * popularized by Lei et al. 2018): calibration docs (id % 5 ≠ 0)
    * supply the nonconformity scores — the [[hashClassifier]] margin —
    * and q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest; exchangeability then
    * guarantees E[coverage] ≥ 1−α on the held-out split (id % 5 = 0).
    * The audit that turns a raw filter score into a threshold with a
    * finite-sample guarantee before it gates a corpus.
    *
    * Scale shape: the quantile is one global-order selection over the
    * calibration slice (rank windows range-partition; the selected VALUE
    * broadcasts as a 1-row scalar), coverage is one aggregate over the
    * test slice. Margins are 6-dp rationals — the rank selection and the
    * ≤ comparison are exact on both engines. */
  def conformalCoverage(docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.1): DataFrame = {
    val scored = hashClassifier(docs, idCol, textCol)
      .select(col(idCol), col("margin"))
      .filter(col("margin").isNotNull)
      .withColumn("__cal", pmod(col(idCol), lit(5L)) =!= 0L)
      .pin()
    val cal = scored.filter(col("__cal"))
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("margin"), col(idCol))))
    val qhat = cal
      .withColumn("__ncal", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("__idx",
        ceil((col("__ncal") + 1) * (1.0 - alpha)).cast("long"))
      .filter(col("__rn") === least(col("__idx"), col("__ncal")))
      .select(col("__ncal").as("n_cal"), col("__idx").as("q_index"),
        col("margin").as("qhat"))
    scored.filter(!col("__cal"))
      .crossJoin(broadcast(qhat))
      .groupBy("n_cal", "q_index", "qhat")
      .agg(count(lit(1)).as("n_test"),
        round(sum((col("margin") <= col("qhat")).cast("long"))
          .cast("double") / count(lit(1)), 6).as("coverage"))
  }
}
