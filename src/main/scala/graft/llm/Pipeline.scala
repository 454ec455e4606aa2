package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pin.Syntax

/** Training-data pipeline operators beyond dedup/similarity: term
  * weighting, retrieval scoring, sequence packing, stratified sampling,
  * repetition filtering, and deterministic sharding.
  *
  * Everything is expression + shuffle-frugal aggregation (whole-stage
  * codegen; the only shuffles are the per-doc / per-word hash aggregates
  * a 100 TB corpus genuinely needs), and every output is integer- or
  * pinned-digit-deterministic so the DuckDB oracle hash-matches.
  */
object Pipeline {

  /** One (id, word) row per word occurrence, pre-partitioned on the doc id
    * so the downstream window/aggregate reuse one exchange. */
  private def wordRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .repartition(col(idCol))
      .select(col(idCol),
        posexplode(TextOps.words(col(textCol))).as(Seq("__pos", "word")))

  /** TF-IDF top-k terms per document.
    *
    * Shape: one hash-aggregate on (id, word) for term frequencies, one on
    * word for document frequencies (vocabulary-sized — AQE broadcasts it
    * back), corpus size rides in as a broadcast scalar. The top-k window
    * runs on the (id)-partitioned tf rows. idf matches
    * [[TextAnalysis.vocabulary]]: ln((N+1)/(df+1)), pinned to 6 digits
    * (libm ln differs across engines by 1 ulp); tf * idf is then IEEE-exact.
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val words = wordRows(docs, idCol, textCol)
    val tf = words.groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    // Document frequency from the tf rows, not a second pass over the raw
    // word rows: tf is already distinct (id, word), so COUNT(*) per word
    // equals COUNT(DISTINCT id), and both tf consumers hang off the one
    // repartition exchange — the corpus is scanned and exploded once.
    val dfTab = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("__n_docs"))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("word"))
    tf.join(dfTab, Seq("word"))
      .crossJoin(broadcast(total))
      .withColumn("idf", round(log((col("__n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("tfidf", round(col("tf") * col("idf"), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("word"), col("tf"), col("tfidf"), col("rnk"))
  }

  /** BM25 document scoring against a fixed query-term set (Robertson
    * k1/b defaults). Per-document work is ONE hash-aggregate over the word
    * rows (doc length + one conditional tf per query term — query terms
    * are a literal list, so tfs land in fixed columns and the final score
    * is a fixed-order sum, not a reassociating aggregate). Corpus stats
    * (N, avgdl, per-term df) are two scalar aggregates broadcast back.
    * Scored set = documents with at least one word; only score > 0 rows
    * are emitted. idf = ln(1 + (N - df + .5)/(df + .5)) pinned to 6
    * digits; the remaining arithmetic is IEEE-exact on both engines. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct)
    val words = wordRows(docs, idCol, textCol)
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, 1L).otherwise(0L)).as(s"__tf$i")
    }
    // Per-doc state is the thing that is always safe to pin at scale:
    // one row per document carrying dl + the per-term tfs. EVERY corpus
    // statistic derives from it (df_t = docs with tf_t > 0), so the word
    // rows are scanned exactly once.
    val perDoc = words.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfAggs: _*)
      // pinned: the per-doc table is re-read by the corpus-stats aggregate
      // AND the scoring join, and recomputing the word-row scan twice
      // costs more than the pin. Not usable from a streaming plan
      // (streaming parity specs cover the stateless ops only).
      .pin()
    val statAggs = Seq(count(lit(1)).as("__n"), sum(col("dl")).as("__sum_dl")) ++
      terms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val corpus = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val scored = perDoc
      .crossJoin(broadcast(corpus))
      .withColumn("__avgdl", col("__sum_dl").cast("double") / col("__n"))
    val contribs = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val idf = round(log(lit(1.0) +
        (col("__n") - col(s"__df$i") + 0.5) / (col(s"__df$i") + 0.5)), 6)
      // (1.0 - b) is exact in binary; (k1 + 1.0) is the same IEEE sum the
      // oracle's (1.2 + 1.0) constant-folds to — association mirrored.
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") / col("__avgdl")))
    }
    // Fixed left-to-right addition order — mirrored verbatim in the oracle.
    scored
      .withColumn("score", round(contribs.reduceLeft(_ + _), 6))
      .filter(col("score") > 0)
      .select(Seq(col(idCol), col("dl")) ++
        terms.indices.map(i => col(s"__tf$i").as(s"tf_${terms(i)}")) :+
        col("score"): _*)
  }

  /** Sequence packing — the concatenate-and-chunk training layout: within
    * each `streamCol` stream, documents are laid end-to-end in id order
    * and cut into `ctxLen`-token context windows. Emits each document's
    * start offset, pack id, offset inside the pack, and whether it spans a
    * pack boundary.
    *
    * The cumulative offset is a per-stream window sum of token counts —
    * integer-exact, one shuffle on the stream key. Packing per stream
    * (not globally) is deliberate: a single global cumsum serializes the
    * corpus through one partition, while streams (source shards) are the
    * unit real pipelines pack and shuffle independently. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      streamCol: String, ctxLen: Long = 2048L): DataFrame = {
    require(ctxLen > 0, "context length must be positive")
    val w = Window.partitionBy(streamCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(streamCol), col(idCol),
        size(TextOps.words(col(textCol))).cast("long").as("n_tok"))
      .withColumn("start_off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"start_off div $ctxLen"))
      .withColumn("pack_off", col("start_off") % ctxLen)
      .withColumn("spans_boundary",
        (expr(s"(start_off + n_tok - 1) div $ctxLen") > col("pack_id")) &&
          col("n_tok") > 0)
  }

  /** Packed-example boundary metadata on top of [[packSequences]]: one
    * row per (pack, document segment) with the in-pack offset/length and
    * doc start/end flags — exactly what block-diagonal attention masking
    * and loss masking need to keep packed documents from attending
    * across boundaries. A document spanning k packs explodes to k rows
    * (bounded by n_tok/ctxLen + 1); everything else is integer
    * arithmetic on the pack cumsum — no new shuffle beyond the packing
    * window's. */
  def packBoundaries(docs: DataFrame, idCol: String, textCol: String,
      streamCol: String, ctxLen: Long = 2048L): DataFrame = {
    val lastPack = expr(s"(start_off + n_tok - 1) div $ctxLen")
    packSequences(docs, idCol, textCol, streamCol, ctxLen)
      .filter(col("n_tok") > 0)
      .withColumn("p", explode(sequence(col("pack_id"), lastPack)))
      .select(col(streamCol), col("p").as("pack_id"), col(idCol),
        (greatest(col("start_off"), col("p") * ctxLen) - col("p") * ctxLen)
          .as("seg_start"),
        (least(col("start_off") + col("n_tok"), (col("p") + 1) * ctxLen) -
          greatest(col("start_off"), col("p") * ctxLen)).as("seg_len"),
        (col("p") === col("pack_id")).as("is_doc_start"),
        (col("p") === lastPack).as("is_doc_end"))
  }

  /** Fixed-window document chunking — the context-window preparation step
    * that precedes packing when documents must NOT cross example
    * boundaries (the SFT/eval layout, vs [[packSequences]]' concatenated
    * pre-training layout): each document is cut into `chunkWords`-word
    * windows every `strideWords` words, plus one tail chunk flush with
    * the document end so no suffix is dropped; documents shorter than
    * one window yield a single whole-document chunk.
    *
    * Pure per-row expression work (split + sequence + explode + slice):
    * zero shuffle, whole-stage codegen, embarrassingly parallel at
    * 100 TB — output grows by ~chunkWords/strideWords x. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 64, strideWords: Int = 32): DataFrame = {
    require(chunkWords > 0 && strideWords > 0 && strideWords <= chunkWords,
      "need 0 < strideWords <= chunkWords")
    docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__ws"))
      .withColumn("__n", size(col("__ws")))
      .filter(col("__n") > 0)
      .withColumn("start", explode(
        when(col("__n") <= chunkWords, array(lit(0)))
          .otherwise(array_distinct(concat(
            sequence(lit(0), col("__n") - chunkWords - 1, lit(strideWords)),
            array(col("__n") - chunkWords))))))
      .select(
        col(idCol),
        col("start").cast("long").as("start_word"),
        least(lit(chunkWords), col("__n") - col("start"))
          .cast("long").as("n_words"),
        concat_ws(" ", slice(col("__ws"), col("start") + 1, lit(chunkWords)))
          .as("chunk"))
  }

  /** Length-bucketed batching — the padding-minimizing batch layout for
    * variable-length examples: each document lands in the smallest
    * power-of-two length bucket holding it, and consecutive documents of
    * one (stream, bucket) fill fixed-capacity batches
    * (`capacity div bucket` rows each). Per-document padding waste is
    * `(bucket - n_words) / bucket` — exact binary arithmetic (power-of-
    * two denominator), so the oracle hash-matches without pinning.
    *
    * The batch numbering window partitions by (stream, shard, bucket):
    * the salted-hash shard key (same convention as [[shardAssign]])
    * bounds every sort group to ~N/(streams*shards*buckets) rows, so a
    * single giant source never becomes one window task — the exposure
    * class the round-9 dup-n-gram rework removed. Batches never mix
    * shards, which is how real pipelines batch anyway. */
  def lengthBucketedBatches(docs: DataFrame, idCol: String, textCol: String,
      streamCol: String, capacity: Int = 2048, shards: Int = 16,
      salt: String = "lbb1"): DataFrame = {
    require(capacity >= 16, "capacity must hold at least one max-size row")
    require(shards > 0)
    val buckets = Iterator.iterate(16)(_ * 2).takeWhile(_ <= capacity).toSeq
    val n = col("n_words")
    // smallest power-of-two bucket >= n_words (floor 16); oversize rows
    // get their own bucket == capacity truncation bucket
    val bucket = buckets.init.foldRight(lit(buckets.last)) {
      case (b, e) => when(n <= b, b).otherwise(e)
    }
    val w = Window.partitionBy(col(streamCol), col("shard"), col("bucket"))
      .orderBy(col(idCol))
    docs
      .select(col(idCol), col(streamCol),
        size(TextOps.words(col(textCol))).cast("long").as("n_words"))
      .filter(n > 0)
      .withColumn("bucket", bucket.cast("long"))
      .withColumn("shard", TextOps.wordHash60(
        concat(lit(salt), col(idCol).cast("string"))) % shards)
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("batch_id", expr(s"(__rn - 1) div ($capacity div bucket)"))
      .withColumn("pad_frac",
        (col("bucket") - least(n, col("bucket"))).cast("double") / col("bucket"))
      .drop("__rn")
  }

  /** Deterministic stratified sampling: per stratum (e.g. language) keep a
    * fixed permille of documents, chosen by a salted md5 bucket of the doc
    * id — reproducible across runs, engines, and cluster sizes (no RNG,
    * no partition dependence). Pure filter: no shuffle at all. */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String,
      ratesPermille: Map[String, Int], defaultPermille: Int,
      salt: String = "smp1"): DataFrame = {
    require((ratesPermille.values.toSeq :+ defaultPermille)
      .forall(r => r >= 0 && r <= 1000))
    val bucket = TextOps.wordHash60(
      concat(lit(salt), col(idCol).cast("string"))) % 1000
    val rate = ratesPermille.foldRight(lit(defaultPermille)) {
      case ((s, r), e) => when(col(stratumCol) === s, r).otherwise(e)
    }
    docs
      .withColumn("bucket", bucket)
      .withColumn("rate_permille", rate)
      .filter(col("bucket") < col("rate_permille"))
      .select(col(idCol), col(stratumCol), col("bucket"), col("rate_permille"))
  }

  /** Weight-sensitive fixed-size sampling per stratum — PRIORITY SAMPLING
    * (Duffield, Lund & Thorup 2007, "Priority sampling for estimation of
    * arbitrary subset sums"): each item draws a deterministic salted-md5
    * uniform u ∈ (0,1] and gets priority q = u / w; the k SMALLEST
    * priorities per stratum are the sample, so a document's inclusion
    * probability is ∝ its weight (here: a size/quality column), with
    * Horvitz-Thompson-style weights recoverable from the threshold. The
    * published E-S reservoir variant ranks by u^(1/w) — an equivalent
    * order reached through `pow`/`log`, which are NOT bit-identical
    * across libm implementations; priority sampling's single IEEE
    * division is, which is why it is the engine's cross-engine form.
    *
    * Scale shape: one map pass for priorities, then per-stratum top-k via
    * a rank window — Spark's WindowGroupLimit pushes the k-filter
    * map-side, so the exchange carries ≤ k rows per partition per
    * stratum, never the corpus. Zero RNG state: any engine recomputes
    * the same sample from the ids alone. Output: (stratum, id, weight,
    * priority, rnk 1..k). */
  def prioritySample(docs: DataFrame, idCol: String, stratumCol: String,
      weightCol: String, k: Int, salt: String = "ps1"): DataFrame = {
    // u in (0,1]: (h+1) / 2^32 over the first-8-hex md5 int — never 0,
    // so q = u/w stays finite for any positive weight
    val u = (conv(substr(md5(concat(lit(salt), col(idCol).cast("string"))),
      lit(1), lit(8)), 16, 10).cast("double") + 1.0) / 4294967296.0
    docs
      .withColumn("weight", col(weightCol).cast("double"))
      .filter(col("weight") > 0)
      .withColumn("priority", u / col("weight"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(stratumCol)
          .orderBy(col("priority"), col(idCol))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(stratumCol), col(idCol), col("weight"),
        col("priority"), col("rnk"))
  }

  /** Deterministic per-epoch shuffle order: every (epoch, document) gets
    * a salt-keyed md5 rank, documents land in hash shards, and the
    * position within (epoch, shard) is the training read order — the
    * "reshuffle each epoch" primitive with zero RNG state: any worker
    * can recompute any epoch's order from the ids alone, and resuming
    * mid-epoch is a filter, not a replay. Bounded ×epochs explode, one
    * exchange on (epoch, shard); the per-shard window sorts bounded
    * groups (shard count scales with the corpus, the q80/q150 sharding
    * argument). */
  def epochShuffle(docs: DataFrame, idCol: String, epochs: Int,
      numShards: Int): DataFrame = {
    val h = conv(substr(md5(concat(col("epoch").cast("string"), lit(":"),
      col(idCol).cast("string"))), lit(1), lit(15)), 16, 10).cast("long")
    docs
      .select(col(idCol),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(numShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch", "shard")
          .orderBy(col("__h"), col(idCol))).cast("long"))
      .select(col(idCol), col("epoch"), col("shard"), col("pos"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two score tables —
    * the hybrid-retrieval merge (lexical BM25 list ⊕ dense ANN list).
    * Scale shape: each ranking contributes only its top-`topN` ids via a
    * distributed TakeOrdered (no global window over the corpus — rank
    * positions beyond the cut contribute ≤ 1/(k+topN) and are dropped,
    * the standard fused-list construction); the rank assignment and
    * full-outer fuse then run on the 2·topN-row bounded set. Ties break
    * to the lower id. Output: (id, rank_a, rank_b — 0 when absent from
    * that list, rrf). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      scoreColA: String, scoreColB: String, topN: Int = 20,
      kRrf: Int = 60): DataFrame = {
    def top(df: DataFrame, sc: String, rName: String) = df
      .select(col(idCol), col(sc).cast("double").as("__s"))
      .orderBy(col("__s").desc, col(idCol)).limit(topN)
      .withColumn(rName,
        row_number().over(Window.orderBy(col("__s").desc, col(idCol))))
      .select(col(idCol), col(rName))
    top(a, scoreColA, "rank_a")
      .join(top(b, scoreColB, "rank_b"), Seq(idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0)), 6))
      .select(col(idCol),
        coalesce(col("rank_a"), lit(0)).cast("long").as("rank_a"),
        coalesce(col("rank_b"), lit(0)).cast("long").as("rank_b"),
        col("rrf"))
  }

  /** Token-budget epoch planning (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): given a total training-token
    * budget and target mixture weights, how many EPOCHS of each source
    * does the plan imply — flagging sources pushed past `maxEpochs`
    * (beyond ~4 repeats the marginal value of repeated data decays).
    * One corpus scan (per-source token sums with map-side partials) plus
    * per-row literal arithmetic on the bounded source dimension; sources
    * absent from `weights` get weight 0. Output: (source, n_tokens,
    * weight, alloc_tokens, epochs, over_cap). */
  def tokenBudget(docs: DataFrame, sourceCol: String, textCol: String,
      budgetTokens: Long, weights: Map[String, Double],
      maxEpochs: Double = 4.0): DataFrame = {
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(0.0d)) {
      case (acc, (s, wt)) => when(col(sourceCol) === s, lit(wt)).otherwise(acc)
    }
    docs
      .groupBy(col(sourceCol))
      .agg(sum(size(TextOps.words(col(textCol))).cast("long")).as("n_tokens"))
      .select(col(sourceCol), col("n_tokens"), w.as("weight"),
        round(lit(budgetTokens) * w, 6).as("alloc_tokens"),
        round(lit(budgetTokens) * w / col("n_tokens"), 6).as("epochs"),
        (lit(budgetTokens) * w / col("n_tokens") > maxEpochs).as("over_cap"))
  }

  /** Deterministic train/val/test holdout assignment: a salt-free md5
    * bucket of the document id (the same 32-bit md5-prefix family as the
    * MinHash base hash — oracle-portable integer arithmetic) lands each
    * doc in one of 100 buckets, split 80/10/10. Content-independent and
    * stable across runs/engines — re-ingesting a grown corpus never moves
    * an old document across the split boundary, which is the property a
    * training pipeline needs to keep eval uncontaminated. Output is the
    * per-(source, split) report card (map-only assignment + one
    * aggregation). */
  def splitAssign(docs: DataFrame, idCol: String, sourceCol: String,
      sizeCol: String): DataFrame = {
    val bucket =
      conv(substr(md5(col(idCol).cast("string")), lit(1), lit(8)), 16, 10)
        .cast("long") % 100
    docs
      .withColumn("__b", bucket)
      .withColumn("split",
        when(col("__b") < 80, "train").when(col("__b") < 90, "val")
          .otherwise("test"))
      .groupBy(col(sourceCol), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col(sizeCol)).as("n_chars_total"))
  }

  /** Per-document repetition statistics (the Gopher-class repetition
    * filters): duplicate-word fraction and the most-frequent-bigram
    * fraction, plus a composite flag. Two aggregates over one exchange on
    * the doc id: word stats, and bigram counts via posexplode + window
    * lead (codegen'd — the array-HOF form evaluates interpreted). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
      maxTopBigramFrac: Double = 0.06, maxDupWordFrac: Double = 0.55): DataFrame = {
    val words = wordRows(docs, idCol, textCol)
    val wordStats = words.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_words"),
      countDistinct(col("word")).as("n_distinct"))
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val bigramStats = words
      .withColumn("__next", lead(col("word"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(idCol), concat_ws(" ", col("word"), col("__next")).as("bigram"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        sum(col("__c")).as("n_bigrams"),
        max(col("__c")).as("max_bigram_n"))
    wordStats.join(bigramStats, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams", "max_bigram_n"))
      .withColumn("dup_word_frac", round(
        lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 6))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0, round(
          col("max_bigram_n").cast("double") / col("n_bigrams"), 6))
          .otherwise(lit(0.0)))
      .withColumn("flagged",
        (col("top_bigram_frac") > maxTopBigramFrac) ||
          (col("dup_word_frac") > maxDupWordFrac))
      .select(idCol, "n_words", "n_distinct", "n_bigrams", "max_bigram_n",
        "dup_word_frac", "top_bigram_frac", "flagged")
  }

  /** Per-row expression form of [[repetitionStats]] for ingest-time
    * scoring: a document is one row, so the word/bigram statistics are
    * array expressions over it — no aggregation, no shuffle, and therefore
    * legal in a streaming append sink (countDistinct is not). Value-equal
    * to the batch form (StreamingSpec asserts it); the batch path keeps
    * the explode/agg shape because array lambda HOFs evaluate interpreted,
    * which is the wrong trade for a full-corpus scan but irrelevant for
    * per-event ingest. */
  def repetitionStatsExpr(docs: DataFrame, idCol: String, textCol: String,
      maxTopBigramFrac: Double = 0.06, maxDupWordFrac: Double = 0.55): DataFrame =
    docs.select(col(idCol), col(textCol))
      .withColumn("__w", expr(s"filter(split(lower($textCol), ' '), x -> x != '')"))
      .filter(size(col("__w")) > 0)
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("__w"))).cast("long"))
      // sequence(1, 0) descends — guard the 1-word case explicitly
      .withColumn("__bg", expr(
        """if(size(__w) < 2, array(),
          |  array_sort(transform(sequence(1, size(__w) - 1),
          |    i -> concat_ws(' ', element_at(__w, i), element_at(__w, i + 1)))))"""
          .stripMargin))
      .withColumn("n_bigrams", size(col("__bg")).cast("long"))
      .withColumn("max_bigram_n", expr(
        """aggregate(__bg,
          |  named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
          |  (acc, x) -> named_struct(
          |    'prev', x,
          |    'run', if(acc.prev is not null and x = acc.prev, acc.run + 1L, 1L),
          |    'best', greatest(acc.best,
          |      if(acc.prev is not null and x = acc.prev, acc.run + 1L, 1L))),
          |  acc -> acc.best)""".stripMargin))
      .withColumn("dup_word_frac", round(
        lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 6))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0, round(
          col("max_bigram_n").cast("double") / col("n_bigrams"), 6))
          .otherwise(lit(0.0)))
      .withColumn("flagged",
        (col("top_bigram_frac") > maxTopBigramFrac) ||
          (col("dup_word_frac") > maxDupWordFrac))
      .select(idCol, "n_words", "n_distinct", "n_bigrams", "max_bigram_n",
        "dup_word_frac", "top_bigram_frac", "flagged")

  /** Train/test decontamination — the benchmark-leakage check run before
    * any evaluation split ships: the corpus is split by a salted hash
    * bucket (train = bucket < trainPermille), and every test document is
    * scored by its exact word-n-gram overlap with ANY train document.
    * Output: one row per contaminated test doc with the number of shared
    * distinct shingles and of distinct train docs sharing them.
    *
    * Shape: the split filter is applied to DOCUMENTS, below the shingle
    * explode, so the two sides are disjoint halves of the corpus and every
    * document is shingled exactly once; the equi-join on the shingle key
    * then confines comparison to equal shingles (no cross join), exactly
    * like MinHash candidate generation. The join shuffles (shingle, id)
    * pairs once and aggregates map-side. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, trainPermille: Int = 900,
      salt: String = "split1"): DataFrame = {
    val bucket = TextOps.wordHash60(
      concat(lit(salt), col(idCol).cast("string"))) % 1000
    val train = Dedup.shingleRows(docs.filter(bucket < trainPermille),
      idCol, textCol, shingleN)
      .select(col("shingle"), col(idCol).as("__tid"))
    val test = Dedup.shingleRows(docs.filter(bucket >= trainPermille),
      idCol, textCol, shingleN)
      .select(col(idCol), col("shingle"))
    test.join(train, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("__tid")).as("n_train_docs"))
  }

  /** [[decontaminate]] with a Bloom pre-filter on the train side — the
    * 100 TB shape of test-set decontamination. The plain form shuffles
    * EVERY train shingle into the equi-join even though only the tiny
    * fraction colliding with test shingles can ever match. Here a Bloom
    * filter is built over the test-side shingles (the small side: a
    * benchmark suite, not the corpus) and probed map-side inside the
    * train scan, so the shuffle carries only probable matches plus an
    * fpp-bounded trickle of false positives.
    *
    * Output is EXACTLY [[decontaminate]]'s: the Bloom probe admits every
    * true match (put and probe both use the shingle's UTF-8 bytes, so a
    * present key cannot probe false) and the exact equi-join after the
    * filter discards the false positives it let through. At 1% fpp the
    * broadcast state is ~1.2 bytes/shingle versus ~50 for the raw
    * broadcast-join alternative — the regime where the test set is too
    * big to broadcast raw but its sketch is not. */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, trainPermille: Int = 900, salt: String = "split1",
      fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.BloomExpressions.register(spark)
    import spark.implicits._
    val bucket = TextOps.wordHash60(
      concat(lit(salt), col(idCol).cast("string"))) % 1000
    val train = Dedup.shingleRows(docs.filter(bucket < trainPermille),
      idCol, textCol, shingleN)
      .select(col("shingle"), col(idCol).as("__tid"))
    val test = Dedup.shingleRows(docs.filter(bucket >= trainPermille),
      idCol, textCol, shingleN)
      .select(col(idCol), col("shingle"))
    // Sketch build: per-partition put + driver merge (treeAggregate — the
    // same shape DataFrameStatFunctions.bloomFilter runs). Sized by the
    // test-side row count (an overestimate of distincts: more bits,
    // lower fpp — never fewer).
    val shingles = test.select(col("shingle")).as[String]
    val expected = math.max(1L, shingles.count())
    val filter = shingles.rdd.treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(expected, fpp))(
      (f, s) => { f.putBinary(s.getBytes("UTF-8")); f },
      (a, b) => a.mergeInPlace(b))
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    val pruned = train.filter(graft.functions.BloomExpressions.mightContain(
      col("shingle"), lit(bos.toByteArray)))
    test.join(pruned, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("__tid")).as("n_train_docs"))
  }

  /** Temperature-scaled source mixture (the UniMax / multilingual-sampling
    * family, Chung et al. 2023; Conneau & Lample 2019 §3.1): sampling
    * share p_i ∝ tokens_i^α with α = 1/2, so low-resource sources are
    * up-weighted relative to proportional sampling without hand-set
    * weights (the complement of [[mixtureExpansion]], which takes explicit
    * target weights). α is FIXED at 1/2 because sqrt is correctly rounded
    * in IEEE arithmetic on every engine — a general pow() is not
    * bit-portable, and the whole point of the 6-digit pins below is that
    * the keep/drop decision compares identical doubles on both sides.
    *
    * Per-source token totals in one aggregation (map-side partials),
    * temperature shares through round-6 + exact decimal (order-free), then
    * a pure-expression document pass: keep_rate_i = min(1, B·p_i /
    * tokens_i) and a salted-hash bucket decides each document — zero RNG,
    * one shuffle, 100 TB-safe. Output: (id, source, n_tok, share,
    * keep_rate, kept). */
  def temperatureMixture(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, tokenBudget: Long,
      salt: String = "temp1"): DataFrame =
    temperatureMixtureApply(docs,
      temperatureStats(docs, textCol, sourceCol),
      idCol, textCol, sourceCol, tokenBudget, salt)

  /** The batch half of [[temperatureMixture]]: per-source token totals and
    * 6-digit sqrt shares. Computed once over the (static) corpus; tiny. */
  def temperatureStats(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    docs
      .groupBy(col(sourceCol))
      .agg(sum(size(TextOps.words(col(textCol))).cast("long")).as("__src_tokens"))
      .withColumn("__s", round(sqrt(col("__src_tokens").cast("double")), 6))

  /** The per-document half of [[temperatureMixture]]: a pure expression
    * pass against broadcast stats — STATELESS, so it runs unchanged on a
    * STREAM of documents joined stream-static against the stats of the
    * (static) reference corpus, the same shape as
    * [[graft.streaming.StreamingSqa.incrementalDedupStream]]. The share
    * total folds the tiny stats table driver-side through exact decimal
    * (order-free, same pin as the batch form). */
  def temperatureMixtureApply(docs: DataFrame, srcStats: DataFrame,
      idCol: String, textCol: String, sourceCol: String, tokenBudget: Long,
      salt: String = "temp1"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tot = srcStats.agg(
      sum(col("__s").cast(DecimalType(24, 6))).cast("double").as("__stot"))
    val bucket = TextOps.wordHash60(
      concat(lit(salt), col(idCol).cast("string"))) % 1000
    docs
      .select(col(idCol), col(sourceCol),
        size(TextOps.words(col(textCol))).cast("long").as("n_tok"))
      .join(broadcast(srcStats), Seq(sourceCol))
      .crossJoin(broadcast(tot))
      .withColumn("share", round(col("__s") / col("__stot"), 6))
      .withColumn("keep_rate", least(lit(1.0),
        round(lit(tokenBudget) * col("share") / col("__src_tokens"), 6)))
      .withColumn("kept",
        (bucket.cast("double") / 1000.0) < col("keep_rate"))
      .select(col(idCol), col(sourceCol), col("n_tok"), col("share"),
        col("keep_rate"), col("kept"))
  }

  /** Corpus mixture expansion — the per-source epoch weighting applied
    * before training: given target mixture weights and a total token
    * budget, each source's repeat factor is budget*weight / source_tokens,
    * and every document deterministically receives floor(factor) copies
    * plus one more iff its salted hash bucket falls below the fractional
    * part (so expected copies = factor exactly, with zero RNG).
    *
    * One aggregation on the source key (map-side partial sums), broadcast
    * back — the doc-level pass is then a pure expression. */
  def mixtureExpansion(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weights: Map[String, Double], tokenBudget: Long,
      salt: String = "mix1"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0))
    val srcStats = docs
      .groupBy(col(sourceCol))
      .agg(sum(size(TextOps.words(col(textCol))).cast("long")).as("__src_tokens"))
    val weight = weights.foldRight(lit(0.0)) { case ((s, v), e) =>
      when(col(sourceCol) === s, v).otherwise(e)
    }
    val bucket = TextOps.wordHash60(
      concat(lit(salt), col(idCol).cast("string"))) % 1000
    docs
      .select(col(idCol), col(sourceCol),
        size(TextOps.words(col(textCol))).cast("long").as("n_tok"))
      .join(broadcast(srcStats), Seq(sourceCol))
      .withColumn("factor",
        lit(tokenBudget) * weight / col("__src_tokens").cast("double"))
      .withColumn("n_copies",
        (floor(col("factor")) +
          when((bucket.cast("double") / 1000.0) < (col("factor") - floor(col("factor"))),
            1L).otherwise(0L)).cast("long"))
      .select(col(idCol), col(sourceCol), col("n_tok"),
        round(col("factor"), 6).as("factor"), col("n_copies"))
  }

  /** Bigram-LM document scoring — the CCNet-class LM-quality filter
    * (Wenzek et al. 2020): train an add-one-smoothed bigram model on the
    * corpus itself in one scan, then score every document by its average
    * negative log-likelihood, -1/n · Σ ln P(wᵢ | wᵢ₋₁) with
    * P(w₂|w₁) = (c(w₁,w₂)+1) / (c(w₁·)+V). Low scores ≈ repetitive,
    * in-distribution text; high scores ≈ noise — the standard
    * perplexity-bucket filter signal.
    *
    * Shape: bigram rows via posexplode + lead (codegen), ONE hash
    * aggregate on the bigram key (map-side partial; context counts derive
    * from the bigram table, not a second corpus pass), V as a broadcast
    * scalar, then a join back on the bigram key — both sides already
    * hash-partitioned on it. Per-term ln is pinned to 6 digits (libm),
    * the per-doc sum routes through exact decimal so reduction order
    * cannot shift the hash. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = wordRows(docs, idCol, textCol)
      .withColumn("w2", lead(col("word"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("word").as("w1"), col("w2"))
    val counts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    val ctx = counts.groupBy("w1").agg(sum(col("__c12")).as("__c1"))
    val vocab = docs.select(
      explode(TextOps.words(col(textCol))).as("word"))
      .agg(countDistinct(col("word")).as("__v"))
    val nll = round(-log(
      (col("__c12") + 1.0) / (col("__c1") + col("__v")).cast("double")), 6)
    // Context counts join the vocab²-bounded count table, not the
    // corpus-sized bigram rows — those shuffle exactly once, on (w1, w2).
    val model = counts.join(ctx, Seq("w1"))
    val scored = bigrams
      .join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.core.Det.sumDet(nll, scale = 6).as("__sum_nll"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__sum_nll") / col("n_bigrams"), 6).as("avg_nll"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_nll"))
  }

  /** Moore–Lewis contrastive data selection (Moore & Lewis, ACL 2010):
    * score every document by the cross-entropy DIFFERENCE between an
    * in-domain bigram LM (trained on the seed subset) and a general LM
    * (trained on the whole corpus); ml_score = H_in − H_gen, keep when
    * negative — "looks more like the seed than like the average crawl".
    * Both models are [[bigramLmScore]]'s add-one family with each
    * model's OWN vocabulary size, so unseen seed bigrams degrade to
    * 1/V_in smoothly. Shapes: the bigram rows come from one corpus
    * window pass (shared lineage for both count tables and the scoring
    * join, like q85); both models live in vocab²-bounded tables and the
    * in-domain counts LEFT-join onto the general model's keys (a subset
    * — no second corpus-keyed join). */
  def mooreLewisScore(docs: DataFrame, idCol: String, textCol: String,
      seed: Column): DataFrame = {
    val rows = docs.withColumn("__seed", seed)
      .repartition(col(idCol))
      .select(col(idCol), col("__seed"),
        posexplode(TextOps.words(col(textCol))).as(Seq("__pos", "word")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = rows
      .withColumn("w2", lead(col("word"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("__seed"), col("word").as("w1"), col("w2"))
    val cg = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__cg12"))
    val ci = bigrams.filter(col("__seed"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("__ci12"))
    val ctxg = cg.groupBy("w1").agg(sum(col("__cg12")).as("__cg1"))
    val ctxi = ci.groupBy("w1").agg(sum(col("__ci12")).as("__ci1"))
    val vg = rows.agg(countDistinct(col("word")).as("__vg"))
    val vi = rows.filter(col("__seed"))
      .agg(countDistinct(col("word")).as("__vi"))
    val model = cg.join(ctxg, Seq("w1"))
      .join(ci, Seq("w1", "w2"), "left")
      .join(ctxi, Seq("w1"), "left")
    val nllG = round(-log((col("__cg12") + 1.0) /
      (col("__cg1") + col("__vg")).cast("double")), 6)
    val nllI = round(-log((coalesce(col("__ci12"), lit(0L)) + 1.0) /
      (coalesce(col("__ci1"), lit(0L)) + col("__vi")).cast("double")), 6)
    val scored = bigrams.join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(vg)).crossJoin(broadcast(vi))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.core.Det.sumDet(nllG, scale = 6).as("__sg"),
        graft.core.Det.sumDet(nllI, scale = 6).as("__si"))
      .withColumn("avg_nll_gen", round(col("__sg") / col("n_bigrams"), 6))
      .withColumn("avg_nll_in", round(col("__si") / col("n_bigrams"), 6))
      .withColumn("ml_score",
        round(col("avg_nll_in") - col("avg_nll_gen"), 6))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll_gen"), col("avg_nll_in"), col("ml_score"),
        (col("ml_score") < 0.0).as("keep"))
  }

  /** Interpolated Kneser–Ney bigram LM scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999 empirical study) — the smoothing actually used by
    * production n-gram LM filters, vs [[bigramLmScore]]'s add-one:
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/N1+(··)
    *
    * with discount D = 0.75. All four count tables fall out of ONE bigram
    * hash aggregate: contexts and type fan-outs N1+(w1·) aggregate the
    * model table by w1, continuation counts N1+(·w2) by w2, the bigram
    * type total is a 1-row broadcast scalar. Scored corpus-on-itself, so
    * every scored bigram has c12 ≥ 1 > D and the discounted term stays
    * positive. The model table (vocab²-bounded) is checkpointed once —
    * its four consumers must not replan the corpus pass. Per-term ln is
    * pinned to 6 digits; per-doc sums route through exact decimal. */
  def kneserNeyLmScore(docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame =
    kneserNeyScore(docs, idCol, textCol,
      kneserNeyModel(docs, idCol, textCol), discount)

  /** The Kneser–Ney model TABLE: one row per observed bigram carrying
    * every count the smoothing formula needs — c12, the context totals
    * c1 / type fan-outs t1, the continuation counts n2, and the bigram
    * type total nb (a global scalar folded in as a column so the model
    * is ONE self-contained vocab²-bounded artifact that persists,
    * reloads, and merges like any other table — the q140/q253 workflow
    * family, exercised by q256). */
  def kneserNeyModel(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = wordRows(docs, idCol, textCol)
      .withColumn("w2", lead(col("word"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("word").as("w1"), col("w2"))
    // The model table is vocab²-bounded; its four consumers (ctx, cont,
    // the type total, the scoring join) must not each replan the corpus
    // pass. The bigram ROWS stay un-checkpointed deliberately — caching
    // a token-stream-sized table trades storage for the same q85-shaped
    // second pass the scoring join costs anyway.
    val counts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
      .pin()
    val ctx = counts.groupBy("w1")
      .agg(sum(col("__c12")).as("__c1"), count(lit(1)).as("__t1"))
    val cont = counts.groupBy("w2").agg(count(lit(1)).as("__n2"))
    val totB = counts.agg(count(lit(1)).as("__nb"))
    counts.join(ctx, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(totB))
  }

  /** Score a corpus against a (possibly reloaded) [[kneserNeyModel]].
    *
    * The model join is a LEFT join: in the train-once / score-new-crawls
    * deployment a fresh crawl carries bigrams absent from the model, and
    * an inner join would silently drop them — biasing `avg_nll_kn`
    * optimistic on exactly the out-of-domain text an LM filter exists to
    * catch. Unseen bigrams are counted in `n_bigrams` and surfaced as
    * `n_unseen`; the average NLL is over the SEEN bigrams (the only ones
    * the model defines a probability for), so a scorer can gate on
    * `n_unseen / n_bigrams` explicitly instead of being lied to. On
    * corpus-on-itself scoring (q230/q256) every bigram is seen, so the
    * values are unchanged and `n_unseen` is identically 0. */
  def kneserNeyScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, discount: Double = 0.75): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = wordRows(docs, idCol, textCol)
      .withColumn("w2", lead(col("word"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("word").as("w1"), col("w2"))
    val nll = round(-log(
      (col("__c12") - discount) / col("__c1") +
        (lit(discount) * col("__t1") / col("__c1")) *
          (col("__n2").cast("double") / col("__nb"))), 6)
    val scored = bigrams
      .join(model, Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("__c12")).as("__n_seen"),
        graft.core.Det.sumDet(nll, scale = 6).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        (col("n_bigrams") - col("__n_seen")).as("n_unseen"),
        when(col("__n_seen") > 0,
          round(col("__sum") / col("__n_seen"), 6)).as("avg_nll_kn"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        col("avg_nll_kn"))
  }

  /** Perplexity-style quality filtering over the corpus-trained bigram LM
    * (the CCNet/Gopher "LM filter" stage re-expressed on the in-engine
    * model): every document gets its [[bigramLmScore]] average NLL, an
    * integer histogram bucket (floor of avg_nll), and a keep flag at
    * `cutoff` nats. Documents with no bigrams score null and are dropped
    * (kept = false) — same semantics as a reference pipeline that filters
    * on a score only defined for scoreable docs. Adds only per-row
    * expressions on top of the LM score's plan: no new shuffle. */
  def perplexityFilter(docs: DataFrame, idCol: String, textCol: String,
      cutoff: Double = 6.0): DataFrame =
    bigramLmScore(docs, idCol, textCol)
      .withColumn("bucket", floor(col("avg_nll")))
      .withColumn("kept", coalesce(col("avg_nll") <= cutoff, lit(false)))

  /** DoReMi-style domain mixture weights (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * collapsed to its one-shot core): per-domain EXCESS loss — here the
    * add-one bigram-LM avg NLL ([[bigramLmScore]], the "proxy") minus the
    * add-one unigram-LM avg NLL (the "reference"; structure the bigram
    * model can exploit but the unigram cannot) — exponentiated into
    * softmax mixture weights. Domains whose text is predictable given
    * context beyond unigram frequency get down-weighted; high-excess
    * (hard-to-model) domains get up-weighted, exactly the DoReMi update
    * direction with the trained-model losses swapped for in-engine LMs.
    *
    * Scale shape: the unigram pass is one vocab hash aggregate + a
    * token→vocab join that shuffles the token stream once on the word
    * key; the bigram pass is q85's (one bigram-key aggregate, corpus
    * rows shuffle once); everything downstream is bounded by the domain
    * count. The softmax max/denominator are 1-row broadcast scalars, and
    * every fractional term is digit-pinned before its exact decimal sum.
    * No new corpus scan shape at 100 TB — two LM passes, each
    * single-shuffle. */
  def doremiWeights(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextOps.words(col(textCol))).as("word"))
    val uc = toks.groupBy("word").agg(count(lit(1)).as("__cw"))
    val nv = uc.agg(sum(col("__cw")).as("__n"), count(lit(1)).as("__v"))
    val unll = round(-log((col("__cw") + 1.0) /
      (col("__n") + col("__v")).cast("double")), 6)
    val uniDoc = toks.join(uc, Seq("word")).crossJoin(broadcast(nv))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nt"),
        graft.core.Det.sumDet(unll, 6).as("__su"))
      .select(col(idCol), round(col("__su") / col("__nt"), 6).as("__uni"))
    val bi = bigramLmScore(docs, idCol, textCol)
      .select(col(idCol), col("avg_nll"))
    val perDoc = docs.select(col(idCol), col(groupCol).as("source"))
      .join(uniDoc, Seq(idCol))
      .join(bi, Seq(idCol))
      .filter(col("avg_nll").isNotNull)
      .withColumn("__ex", round(col("avg_nll") - col("__uni"), 6))
    // The domain table is tiny but its subtree is the whole two-LM
    // pipeline; the softmax needs it three times (max, numerator,
    // denominator), so materialize ONCE — without this the corpus is
    // scanned 36× (measured), with it the LMs run in one pass.
    val perSrc = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(graft.core.Det.sumDet(col("__ex"), 6) / count(lit(1)), 6)
          .as("excess_nll"))
      .pin()
    val mx = perSrc.agg(max(col("excess_nll")).as("__mx"))
    val numbered = perSrc.crossJoin(broadcast(mx))
      .withColumn("__num", round(exp(col("excess_nll") - col("__mx")), 8))
    val den = numbered.agg(
      graft.core.Det.sumDet(col("__num"), 8).as("__den"))
    numbered.crossJoin(broadcast(den))
      .select(col("source"), col("n_docs"), col("excess_nll"),
        round(col("__num") / col("__den"), 6).as("weight"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): estimate target and raw
    * distributions over HASHED bigram features (`numBuckets` buckets of
    * the portable 60-bit md5 hash), then weight every document by its
    * log-likelihood ratio log p_target(x) − log p_raw(x)
    * = Σ_b c_x(b) · [ln p̂_t(b) − ln p̂_r(b)] with add-one smoothing.
    * `targetPred` marks the in-target rows (e.g. `col("lang") === "en"` —
    * the high-quality / in-domain sample the corpus is being filtered
    * toward).
    *
    * Shape: the corpus is exploded to bigram rows ONCE (reusing the
    * id-partitioned word rows); both bucket histograms (raw and target)
    * aggregate from those same rows onto the `numBuckets`-sized key, so
    * each is a fixed-size table that broadcasts back onto the per-doc
    * bucket counts — at 100 TB the only corpus-sized shuffle is the one
    * (id, bucket) hash-aggregate, which rides the existing id exchange
    * (HashPartitioning(id) satisfies the (id, bucket) clustering).
    * Per-term log-ratios are pinned to 6 digits; the per-doc weighted sum
    * routes through exact decimal so reduction order cannot shift the
    * oracle hash. Docs with no bigrams get logw = null, kept = false. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, numBuckets: Int = 4096,
      cutoff: Double = 0.0): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = docs
      .repartition(col(idCol))
      .select(col(idCol), targetPred.as("__tgt"),
        posexplode(TextOps.words(col(textCol))).as(Seq("__pos", "word")))
      .withColumn("w2", lead(col("word"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("__tgt"),
        pmod(TextOps.wordHash60(concat_ws(" ", col("word"), col("w2"))),
          lit(numBuckets.toLong)).as("__b"))
    val perDoc = bigrams.groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val raw = bigrams.groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    val tgt = bigrams.filter(col("__tgt"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val totals = bigrams.agg(
      count(lit(1)).as("__nr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__nt"))
    // Full bucket table (raw left-joined with target: a bucket absent from
    // the target sample still contributes its smoothed ln(1/(Nt+B)) term).
    val ratio = raw.join(tgt, Seq("__b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__b"), round(
        log((coalesce(col("__ct"), lit(0L)) + 1.0) /
          (col("__nt") + numBuckets).cast("double")) -
        log((col("__cr") + 1.0) /
          (col("__nr") + numBuckets).cast("double")), 6).as("__lr"))
    val scored = perDoc.join(broadcast(ratio), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_feat"),
        graft.core.Det.sumDet(col("__c") * col("__lr"), scale = 6).as("__s"))
      .select(col(idCol), col("n_feat"), round(col("__s"), 6).as("logw"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        col("logw"),
        coalesce(col("logw") >= cutoff, lit(false)).as("kept"))
  }

  /** Deterministic corpus sharding — the reproducible "global shuffle"
    * before training: shard = salted hash of the id mod `numShards`,
    * position within the shard = rank by (hash, id). One shuffle on the
    * shard key; shard sizes are balanced by the uniform hash, so the
    * per-shard window does not skew. */
  /** Shard-rebalance audit: what fraction of the corpus MOVES when the
    * shard count grows n → n+1, under plain mod-hashing vs rendezvous
    * (highest-random-weight) hashing (Thaler & Ravishankar 1998). Mod
    * moves ≈ n/(n+1) of all keys (nearly everything reshuffles);
    * rendezvous moves only the ≈ 1/(n+1) won by the new shard — the
    * measured argument for HRW/consistent placement before a 100 TB
    * corpus commits to a shard scheme.
    *
    * Map-only: per doc, the mod shard is one hash, the HRW shard is
    * argmax over per-shard hashes — packed as h32·16+s so the argmax is
    * a single integer GREATEST, portable to DuckDB; both movement flags
    * fold into ONE aggregate and the two report rows explode from it. */
  def rebalanceAudit(docs: DataFrame, idCol: String,
      fromShards: Int): DataFrame = {
    val n = fromShards
    require(n >= 1 && n + 1 <= 16, "packing reserves 4 bits for the shard")
    def h32(s: Int): Column =
      conv(substr(md5(concat(lit(s"hrw:$s:"), col(idCol).cast("string"))),
        lit(1), lit(8)), 16, 10).cast("long")
    val hMod = TextOps.wordHash60(concat(lit("shard1"), col(idCol).cast("string")))
    val movedMod = pmod(hMod, lit(n.toLong)) =!= pmod(hMod, lit(n.toLong + 1))
    def hrwShard(k: Int): Column =
      greatest((0 until k).map(s => h32(s) * 16L + s): _*) % 16L
    val movedHrw = hrwShard(n) =!= hrwShard(n + 1)
    val g = docs.agg(count(lit(1)).as("__n"),
      sum(when(movedMod, 1L).otherwise(0L)).as("__mm"),
      sum(when(movedHrw, 1L).otherwise(0L)).as("__mh"))
    g.select(explode(array(
        struct(lit("mod").as("method"), col("__n").as("n_docs"),
          col("__mm").as("n_moved")),
        struct(lit("rendezvous").as("method"), col("__n").as("n_docs"),
          col("__mh").as("n_moved")))).as("p"))
      .select(col("p.*"))
      .withColumn("moved_frac",
        round(col("n_moved").cast("double") / col("n_docs"), 6))
  }

  /** Neyman (minimum-variance) sampling allocation: split a sampling
    * budget across strata proportionally to N_h·S_h (stratum size ×
    * score standard deviation) — the classical optimum for estimating
    * the corpus mean under a fixed budget (Neyman 1934), and the
    * statistically-grounded replacement for proportional quotas when
    * strata differ in score spread.
    *
    * One pass: per-stratum (n, Σx, Σx²) through the engine's exact
    * decimal sums over 6-digit-rounded scores (order-independent, the
    * q131/q201 moment pattern), variance by the computational formula on
    * those sums, then shares against a broadcast total. The share
    * denominator Σ_h N_h·S_h sums the bounded stratum table in exact
    * decimal too — every double op left in the plan is a single IEEE
    * division/sqrt, so the oracle matches bit-for-bit. */
  def neymanAllocation(scored: DataFrame, stratumCol: String,
      scoreCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    val x = round(col(scoreCol), 6)
    val perStratum = scored
      .filter(col(scoreCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        graft.core.Det.sumDet(x, 6).as("__sx"),
        graft.core.Det.sumDet(x * x, 6).as("__sxx"))
      .withColumn("mean_score",
        round(col("__sx") / col("n_docs"), 6))
      // computational form on the exact sums; single-member strata S=0
      .withColumn("var_score",
        when(col("n_docs") > 1L,
          round((col("__sxx") - col("__sx") * col("__sx") / col("n_docs"))
            / (col("n_docs") - 1L), 6))
          .otherwise(lit(0.0)))
      .withColumn("__ns", round(col("n_docs") * sqrt(col("var_score")), 6))
    val tot = perStratum.agg(
      graft.core.Det.sumDet(col("__ns"), 6).as("__tot"))
    perStratum.crossJoin(broadcast(tot))
      .withColumn("alloc_share",
        when(col("__tot") > 0.0, round(col("__ns") / col("__tot"), 6))
          .otherwise(lit(0.0)))
      .withColumn("n_alloc",
        floor(col("alloc_share") * budget + 0.5).cast("long"))
      .select(col("stratum"), col("n_docs"), col("mean_score"),
        col("var_score"), col("alloc_share"), col("n_alloc"))
  }

  /** Corpus snapshot diff — the add/remove/change audit between two
    * crawls or build generations of the same corpus, the first question a
    * re-train decision asks ("how much actually changed since the last
    * build?"). Per (source, status ∈ added|removed|changed|unchanged):
    * document count plus char volume on each side.
    *
    * Shape: content is collapsed to an md5 content hash map-side (the
    * text column never crosses the wire — at 100 TB the shuffle carries
    * 32-byte digests, not documents), then ONE full-outer shuffle join on
    * the id, then a tiny hash-aggregate on (source, status). On a real
    * deployment both snapshots would be bucketed by id and the join is
    * exchange-free; here Catalyst plans the sort-merge join. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, sourceCol: String): DataFrame = {
    def sideTab(d: DataFrame, tag: String): DataFrame =
      d.select(col(idCol),
        col(sourceCol).as(s"__src_$tag"),
        md5(col(textCol)).as(s"__h_$tag"),
        length(col(textCol)).cast("long").as(s"__chars_$tag"))
    val o = sideTab(oldDocs, "o")
    val n = sideTab(newDocs, "n")
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__h_o").isNull, lit("added"))
          .when(col("__h_n").isNull, lit("removed"))
          .when(col("__h_o") === col("__h_n"), lit("unchanged"))
          .otherwise(lit("changed")))
      .groupBy(coalesce(col("__src_n"), col("__src_o")).as("source"),
        col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__chars_o"), lit(0L))).as("chars_old"),
        sum(coalesce(col("__chars_n"), lit(0L))).as("chars_new"))
  }

  def shardAssign(docs: DataFrame, idCol: String, numShards: Int,
      salt: String = "shard1"): DataFrame = {
    require(numShards > 0)
    val h = TextOps.wordHash60(concat(lit(salt), col(idCol).cast("string")))
    val w = Window.partitionBy("shard").orderBy(col("__h"), col(idCol))
    docs
      .select(col(idCol))
      .withColumn("__h", h)
      .withColumn("shard", col("__h") % numShards)
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Cluster-balanced sampling — equal representation per cluster (the
    * diversity-preserving selection step after k-means / SemDeDup-style
    * clustering): keep up to `perCluster` members of each cluster, chosen
    * by salted-hash rank (random-but-reproducible across engines and
    * cluster sizes, like [[stratifiedSample]]). One window over the
    * cluster key — the assignment table is (id, cluster), never the
    * vectors, so the pass is narrow at any corpus size. Output keeps the
    * cluster size so downstream reweighting can correct the flattening. */
  def clusterBalancedSample(assign: DataFrame, idCol: String,
      clusterCol: String, perCluster: Int, salt: String = "cbs1"): DataFrame = {
    require(perCluster > 0)
    val h = TextOps.wordHash60(concat(lit(salt), col(idCol).cast("string")))
    val w = Window.partitionBy(clusterCol).orderBy(col("__h"), col(idCol))
    assign
      .select(col(idCol), col(clusterCol))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(clusterCol)))
      .withColumn("__h", h)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= perCluster)
      .select(col(idCol), col(clusterCol), col("cluster_size"),
        col("sample_rank"))
  }

  /** Inverted-index posting list: one (word, id) row per DISTINCT word per
    * document — the retrieval index layout (word-partitioned on disk at
    * corpus scale, so a term lookup prunes to its posting partitions). */
  def invertedPostings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(array_distinct(TextOps.words(col(textCol)))).as("word"))

  /** Boolean-AND retrieval over the inverted index: for every unordered
    * pair of the `topK` highest-df terms (deterministic tie-break on the
    * word), the count of documents containing BOTH — i.e. a posting-list
    * intersection, the core primitive of conjunctive search.
    *
    * Scale shape: the index build is one hash-aggregate; the query-term
    * dimension is `topK` rows and is BROADCAST into a semi-join, so the
    * postings that reach the doc-keyed intersection join are only the
    * query terms' — corpus-size-independent once the terms are fixed. The
    * self-join on the doc id then touches ≤ topK rows per document. */
  def invertedSearch(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 8): DataFrame = {
    require(topK >= 2)
    val postings = invertedPostings(docs, idCol, textCol)
    val top = postings.groupBy("word").agg(count(lit(1)).as("__df"))
      .orderBy(col("__df").desc, col("word")).limit(topK)
    val p = postings.join(broadcast(top.select("word")), Seq("word"),
      "leftsemi")
    val a = p.select(col(idCol), col("word").as("word_a"))
    val b = p.select(col(idCol), col("word").as("word_b"))
    a.join(b, Seq(idCol))
      .filter(col("word_a") < col("word_b"))
      .groupBy("word_a", "word_b")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Ponte & Croft
    * 1998; smoothing per Zhai & Lafferty 2001): score(q, d) =
    * Σ_t ln((tf_td + μ·P(t|C)) / (dl_d + μ)) — the third classic
    * lexical scorer beside TF-IDF (q75) and BM25 (q76), with a proper
    * probabilistic smoothing story (document language model shrunk
    * toward the collection model by pseudo-count μ). Query terms must
    * occur in the collection (P(t|C) > 0), as with the BM25 terms.
    *
    * Scale shape: the BM25 per-doc discipline verbatim — ONE word-row
    * scan into a checkpointed per-doc (dl, tf…) table; the collection
    * stats are a 1-row broadcast; scoring is a map-only expression with
    * each ln pinned to 6 dp and the (≤|terms|) term sum in one fixed
    * association order. */
  def queryLikelihood(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], mu: Double = 10.0): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct)
    val words = wordRows(docs, idCol, textCol)
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, 1L).otherwise(0L)).as(s"__tf$i")
    }
    val perDoc = words.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfAggs: _*)
      .pin()
    val statAggs = Seq(sum(col("dl")).as("__ct")) ++
      terms.indices.map(i => sum(col(s"__tf$i")).as(s"__cf$i"))
    val corpus = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val contribs = terms.indices.map { i =>
      round(log(
        (col(s"__tf$i").cast("double") +
          lit(mu) * (col(s"__cf$i").cast("double") / col("__ct"))) /
          (col("dl").cast("double") + lit(mu))), 6)
    }
    perDoc.crossJoin(broadcast(corpus))
      .select(col(idCol), col("dl"),
        round(contribs.reduce(_ + _), 6).as("score"))
  }

  /** Positional exact-phrase search, end-to-end: resolve the corpus's
    * most frequent bigram (deterministic argmax, count ties to the
    * lexicographically lowest pair) and return every document containing
    * it as an ADJACENT pair, with match count and first position — the
    * inverted-index-with-positions operator behind exact-phrase
    * retrieval (bag-of-words indexes cannot distinguish "new york" from
    * "york new"; the position join can).
    *
    * Scale shape: one corpus scan into (doc, pos, w1, w2) rows, pinned
    * once for its two consumers; the phrase-count table is
    * vocab²-bounded with map-side combine, and the 1-row argmax
    * broadcasts back as an equi-join key. */
  def phraseSearch(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val byPos = Window.partitionBy(idCol).orderBy("pos")
    val bg = docs.select(col(idCol),
        posexplode(TextOps.words(col(textCol))).as(Seq("pos", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(byPos))
      .filter(col("w2").isNotNull)
      .pin()
    val top = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__c"))
      .agg(min_by(struct(col("w1"), col("w2")),
        struct(-col("__c"), col("w1"), col("w2"))).as("__p"))
      .select(col("__p.w1").as("__p1"), col("__p.w2").as("__p2"))
    bg.join(broadcast(top),
        col("w1") === col("__p1") && col("w2") === col("__p2"))
      .groupBy(col(idCol), col("__p1"), col("__p2"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
      .select(col(idCol),
        concat_ws(" ", col("__p1"), col("__p2")).as("phrase"),
        col("n_matches"), col("first_pos"))
  }

  /** Greedy maximum-coverage document selection (the classic greedy with
    * Nemhauser/Wolsey/Fisher 1978's 1−1/e guarantee): `k` rounds, each
    * picking the document that covers the most not-yet-covered distinct
    * words, ties to the lowest doc id — the "smallest seed set that
    * spans the vocabulary" curation primitive (data-efficient fine-tune
    * sets, eval-suite seeding).
    *
    * Scale shape: inherently k sequential jobs (greedy is adaptive —
    * round r's objective depends on rounds 1..r−1), like the k-center
    * coreset: each round is one anti-join + one map-side-combinable
    * count aggregate + an argmax reduced to a SINGLE collected row; the
    * covered-word set (≤ vocabulary) is pinned per round but the last.
    * Output per round: pick, marginal gain, cumulative coverage fraction. */
  def maxCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, shingleN: Int = 3): DataFrame = {
    require(k >= 1 && k <= 50, "fixed small round count")
    val spark = docs.sparkSession
    import spark.implicits._
    // coverage universe: distinct `shingleN`-word shingles (phrase
    // contexts) — a far larger, more discriminative universe than bare
    // words; shingleN = 1 degrades to word coverage
    val units =
      if (shingleN <= 1) array_distinct(TextOps.words(col(textCol)))
      else TextOps.shingles(TextOps.words(col(textCol)), shingleN)
    val dw = docs.select(col(idCol).as("doc"), explode(units).as("word"))
      .pin()
    val totalWords = dw.select("word").distinct().count()
    var covered: DataFrame = null
    val picks = collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var r = 1
    var exhausted = false
    // greedy stops when the vocabulary is exhausted (every word covered)
    // — the oracle's per-level CTEs go empty at the same round
    while (r <= k && !exhausted) {
      val remaining =
        if (covered == null) dw else dw.join(covered, Seq("word"), "left_anti")
      val best = remaining.groupBy("doc").agg(count(lit(1)).as("__gain"))
        .agg(min_by(struct(col("doc"), col("__gain")),
          struct(-col("__gain"), col("doc"))).as("__b"))
        .select(col("__b.doc"), col("__b.__gain")).head()
      if (best.isNullAt(0)) exhausted = true
      else {
        picks += ((r, best.getLong(0), best.getLong(1)))
        // the k-th pick's covered set is never read: not pinned
        if (r < k) {
          val newWords = dw.filter(col("doc") === best.getLong(0)).select("word")
          covered = (if (covered == null) newWords
            else covered.union(newWords).distinct()).pin()
        }
        r += 1
      }
    }
    val cum = picks.scanLeft(0L)(_ + _._3).tail
    picks.zip(cum).map { case ((r, d, g), c) => (r, d, g, c) }.toSeq
      .toDF("pick_round", "doc_id", "gain", "cum_words")
      // Spark's round (not driver math.rint) so the rounding mode is the
      // same one every other query's oracle mirrors
      .withColumn("coverage_frac",
        round(col("cum_words").cast("double") / totalWords, 6))
  }
}
