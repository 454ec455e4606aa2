package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pin.Syntax
import graft.core.Tables
import graft.llm.{Dedup, EmbeddingOps, Multimodal, Pipeline, Similarity, TextAnalysis, TextOps, VectorOps}

/** Pipeline-governance operators: sampling, sharding, mixtures,
  * split assignment, calibration/fairness/privacy audits, sketch
  * persistence. Split from LlmQueries (r16 verdict #8) — entries
  * and oracles moved verbatim; shared SQL helpers live in
  * [[LlmQueries]]. */
object LlmGovernanceQueries {

  import LlmQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Label-noise detection by neighbor agreement (the Cleanlab-style
    // corpus-QA signal): the near-dup pair set joined to labels on both
    // sides, rolled up into a neighbor-label co-occurrence matrix. An
    // off-diagonal cell with high mass = two labels whose examples are
    // near-duplicates of each other — mislabeled or leaky classes.
    // sum_cos routes through the exact DECIMAL cast (core.Det rule) so
    // the aggregate is reduction-order independent.
    "q106_label_agreement" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.embeddingDupPairs(
        emb, "vec_id", "embedding", threshold = 0.3)
      val lab = emb.select(col("vec_id"), col("label"))
      pairs
        .join(lab.select(col("vec_id").as("id_a"), col("label").as("label_a")), "id_a")
        .join(lab.select(col("vec_id").as("id_b"), col("label").as("label_b")), "id_b")
        .groupBy(
          least(col("label_a"), col("label_b")).as("label_lo"),
          greatest(col("label_a"), col("label_b")).as("label_hi"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(col("cos").cast("decimal(24,6)")).cast("double").as("sum_cos"))
    }),


    // The canonical training-data selection: English, above the quality
    // bar, sane length, and one representative per near-dup cluster —
    // every upstream operator composed into one plan.
    "q71_corpus_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lang = TextAnalysis.langId(docs, "doc_id", "text")
        .select("doc_id", "pred_lang")
      val qual = TextAnalysis.quality(docs, "doc_id", "text")
        .select("doc_id", "quality_score", "n_words")
      val clusters = Dedup.dedupClusters(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)
        .select("doc_id", "cluster_id")
      docs.select("doc_id", "source")
        .join(lang, Seq("doc_id"))
        .join(qual, Seq("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .filter(col("pred_lang") === "en" &&
          col("quality_score") >= 0.72 &&
          col("n_words").between(10, 500) &&
          (col("cluster_id").isNull || col("cluster_id") === col("doc_id")))
        .select("doc_id", "source", "pred_lang", "quality_score", "n_words")
    }),


    "q77_seq_pack" -> ((s, dir) =>
      Pipeline.packSequences(Tables.documents(s, dir), "doc_id", "text",
        streamCol = "source", ctxLen = 2048L)),


    "q78_strat_sample" -> ((s, dir) =>
      Pipeline.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        ratesPermille = SampleRates, defaultPermille = 50)),


    "q80_shards" -> ((s, dir) =>
      Pipeline.shardAssign(Tables.documents(s, dir), "doc_id", numShards = 16)),


    "q82_mixture" -> ((s, dir) =>
      Pipeline.mixtureExpansion(Tables.documents(s, dir), "doc_id", "text",
        sourceCol = "source", weights = MixWeights, tokenBudget = 100000L)),


    // Temperature-scaled source sampling (UniMax family, alpha = 1/2):
    // per-source sqrt-token shares -> deterministic per-doc keep decision.
    "q135_temperature_mix" -> ((s, dir) =>
      Pipeline.temperatureMixture(Tables.documents(s, dir), "doc_id",
        "text", sourceCol = "source", tokenBudget = 20000L)),


    // HyperLogLog per-source distinct-word estimate (sketch trio with CMS
    // q121 and Bloom q118); exact distinct alongside for accuracy.
    "q139_hll_distinct" -> ((s, dir) =>
      TextAnalysis.hllDistinctWords(Tables.documents(s, dir), "text",
        "source")),


    // Deterministic 80/10/10 holdout by md5 bucket of the doc id, with
    // the per-(source, split) report card.
    "q144_split_assign" -> ((s, dir) =>
      Pipeline.splitAssign(Tables.documents(s, dir), "doc_id", "source",
        "n_chars")),


    // Mergeable bottom-k uniform sample (Cohen & Kaplan 2007) — the
    // SAMPLING member of q231's mergeable-sketch family: per source, the
    // 64 docs with the smallest salted-md5 hash rank are a uniform sample
    // that re-merges across shards by union-then-bottom-k. Spark executes
    // exactly that merge shape — WindowGroupLimit pushes the rank filter
    // into per-partition partial top-k before the exchange. The
    // sample-estimated length quantiles are audited against the exact
    // percentiles in the same row.
    "q232_bottomk_sample" -> ((s, dir) => {
      // localCheckpoint: the exact side and the sample side otherwise
      // each re-scan the text column for its length — the narrow
      // (source, id, len, hash) projection is what both consume.
      val base = Tables.documents(s, dir).select(col("source"), col("doc_id"),
        length(col("text")).cast("double").as("len"),
        md5(concat(lit("bk1"), col("doc_id").cast("string"))).as("__h"))
        .pin()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("__h"), col("doc_id"))
      val samp = base.withColumn("__rnk", row_number().over(w))
        .filter(col("__rnk") <= 64)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sample"),
          graft.ops.Quantiles.pcts(s, col("len"), Seq(0.5, 0.9)).as("__e"))
      val exact = base.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          graft.ops.Quantiles.pcts(s, col("len"), Seq(0.5, 0.9)).as("__x"))
      exact.join(samp, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_sample"),
          round(col("__x")(0), 4).as("exact_p50"),
          round(col("__e")(0), 4).as("est_p50"),
          round(col("__x")(1), 4).as("exact_p90"),
          round(col("__e")(1), 4).as("est_p90"),
          round(abs(col("__e")(0) - col("__x")(0)) / col("__x")(0), 4)
            .as("err_p50"),
          round(abs(col("__e")(1) - col("__x")(1)) / col("__x")(1), 4)
            .as("err_p90"))
    }),


    // Count-min sketch (Cormode & Muthukrishnan 2005): 4 rows x 256
    // buckets of exact counter mass, estimates = min over rows — the
    // bounded-memory frequency table whose one-sided error the query
    // audits against the exact counts for the 20 highest-df words. The
    // sketch builds from the VOCAB count table (one hash aggregate over
    // 4x|vocab| bucket rows, mergeable across shards by +), never from
    // token rows; the probe side is 20 words broadcast against 1024
    // sketch cells.
    "q233_countmin" -> ((s, dir) => {
      val W = 256
      val freq = Tables.documents(s, dir)
        .select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n_exact"))
        .pin() // sketch build + top-20 probe share one scan
      val base =
        conv(substr(md5(col("word")), lit(1), lit(8)), 16, 10).cast("long")
      def bucketOf(j: Int) =
        ((lit(Dedup.HASH_A(j)) * base + lit(Dedup.HASH_B(j))) %
          Dedup.MINHASH_P % W).cast("int")
      val sketch = freq
        .select(col("n_exact"), posexplode(
          array((0 until 4).map(bucketOf): _*)).as(Seq("j", "bucket")))
        .groupBy("j", "bucket").agg(sum("n_exact").as("__c"))
      val top = freq
        .orderBy(col("n_exact").desc, col("word")).limit(20)
        .select(col("word"), col("n_exact"), posexplode(
          array((0 until 4).map(bucketOf): _*)).as(Seq("j", "bucket")))
      broadcast(top).join(sketch, Seq("j", "bucket"))
        .groupBy("word")
        .agg(max("n_exact").as("n_exact"), min("__c").as("n_est"))
        .withColumn("overcount", col("n_est") - col("n_exact"))
    }),


    // Moments sketch (Gan et al., VLDB 2018): per-source power sums of
    // ln(doc length) — a constant-size, merge-by-+ aggregate — with
    // Cornish-Fisher quantile recovery from (mean, sd, skew, excess
    // kurtosis), audited against the exact percentiles. THE mergeable
    // quantile primitive at 100 TB: shards ship five numbers per group,
    // the re-merge is addition, the estimate is driver-cheap algebra —
    // and unlike KLL/t-digest the sketch is deterministic, so the audit
    // is hash-exact. Each power term pins to 8 dp before the exact
    // decimal sum (q201's idiom) so shard order can never move a digit;
    // the CF coefficients are precomputed Scala doubles interpolated
    // verbatim into the oracle so both engines run identical IEEE ops.
    "q237_moments_quantile" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("source"),
          round(log(length(col("text")).cast("double")), 8).as("__t"))
        .withColumn("__t2", round(col("__t") * col("__t"), 8))
        .withColumn("__t3", round(col("__t2") * col("__t"), 8))
        .withColumn("__t4", round(col("__t3") * col("__t"), 8))
      val g = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        graft.core.Det.sumDet(col("__t"), 8).as("__s1"),
        graft.core.Det.sumDet(col("__t2"), 8).as("__s2"),
        graft.core.Det.sumDet(col("__t3"), 8).as("__s3"),
        graft.core.Det.sumDet(col("__t4"), 8).as("__s4"),
        graft.ops.Quantiles.pcts(s, col("__t"), Seq(0.5, 0.9)).as("__q"))
        .withColumn("__n", col("n_docs").cast("double"))
        .withColumn("__mu", col("__s1") / col("__n"))
        .withColumn("__m2",
          col("__s2") / col("__n") - col("__mu") * col("__mu"))
        .withColumn("__sd", sqrt(col("__m2")))
        .withColumn("__sk",
          (col("__s3") / col("__n") - lit(3.0) * col("__mu") * col("__m2")
            - col("__mu") * col("__mu") * col("__mu")) /
            (col("__m2") * col("__sd")))
        .withColumn("__ku",
          (col("__s4") / col("__n")
            - lit(4.0) * col("__mu") * (col("__s3") / col("__n"))
            + lit(6.0) * col("__mu") * col("__mu") *
              (col("__s2") / col("__n"))
            - lit(3.0) * col("__mu") * col("__mu") * col("__mu") *
              col("__mu")) / (col("__m2") * col("__m2")) - lit(3.0))
      def cf(z: Double): org.apache.spark.sql.Column =
        col("__mu") + col("__sd") * lit(z) +
          col("__sd") * col("__sk") * lit(CfK1(z)) +
          col("__sd") * col("__ku") * lit(CfK2(z)) +
          col("__sd") * col("__sk") * col("__sk") * lit(CfK3(z))
      g.select(col("source"), col("n_docs"),
        round(col("__mu"), 6).as("mean_ln"),
        round(col("__sd"), 6).as("sd_ln"),
        round(col("__sk"), 6).as("skew"),
        round(col("__ku"), 6).as("ex_kurt"),
        round(cf(0.0), 6).as("est_p50"),
        round(col("__q")(0), 6).as("exact_p50"),
        round(abs(cf(0.0) - col("__q")(0)), 6).as("err_p50"),
        round(cf(Z90), 6).as("est_p90"),
        round(col("__q")(1), 6).as("exact_p90"),
        round(abs(cf(Z90) - col("__q")(1)), 6).as("err_p90"))
    }),


    // UniMax mixture allocation (Chung et al. 2023): given token budget
    // B = 2x corpus and epoch cap E = 4, allocate uniformly across
    // sources subject to alloc_i <= E*n_i — the waterfilling closed
    // form. The corpus reduces to ONE hash aggregate (per-source token
    // counts); everything after runs on the |sources|-row table:
    // ascending-cap prefix sums decide which sources saturate, the
    // survivors split the remainder evenly. The saturation decision is
    // exact integer algebra; doubles appear only in the emitted
    // allocation, so the plan is hash-exact at any scale.
    "q238_unimax" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, dir)
        .select(col("source"),
          size(TextOps.words(col("text"))).cast("long").as("__w"))
        .groupBy("source").agg(sum(col("__w")).as("n_tokens"))
        .withColumn("cap_tokens", col("n_tokens") * lit(4L))
      val tot = tok.agg((sum(col("n_tokens")) * lit(2L)).as("__B"),
        count(lit(1)).as("__k"))
      val w = W.orderBy(col("cap_tokens"), col("source"))
      val ranked = tok.crossJoin(broadcast(tot))
        .withColumn("__i", row_number().over(w).cast("long"))
        .withColumn("__pref", sum(col("cap_tokens")).over(
          w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("__sat",
          col("cap_tokens") * (col("__k") - col("__i") + lit(1L)) <=
            col("__B") - (col("__pref") - col("cap_tokens")))
        .pin() // bounded |sources| rows; two consumers
      val mrow = ranked.agg(
        max(when(col("__sat"), col("__i")).otherwise(0L)).as("__m"),
        max(when(col("__sat"), col("__pref")).otherwise(0L)).as("__pm"))
      val alloc =
        when(col("__i") <= col("__m"), col("cap_tokens").cast("double"))
          .otherwise((col("__B") - col("__pm")).cast("double") /
            (col("__k") - col("__m")).cast("double"))
      ranked.crossJoin(broadcast(mrow))
        .select(col("source"), col("n_tokens"), col("cap_tokens"),
          round(alloc, 4).as("alloc_tokens"),
          round(alloc / col("n_tokens").cast("double"), 6).as("epochs"),
          (col("__i") <= col("__m")).cast("int").as("saturated"))
    }),


    // AMS second-frequency-moment sketch (Alon, Matias & Szegedy 1996):
    // F2 = sum c_w^2 per source — the repetition-mass scalar — from 16
    // independent +/-1 sign-hash estimators Y_j = sum s_j(w)*c_w. Each
    // Y_j is an exact integer sum over the VOCAB table (mergeable by +
    // across shards: the sketch row is (source, j, Y_j)); the estimate
    // is mean(Y_j^2), exact integers until the final division. Audited
    // against the exact F2 off the same vocab scan.
    "q243_ams_f2" -> ((s, dir) => {
      val nEst = 16
      val freq = Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .pin() // sketch and exact sides share the vocab scan
      val signs = freq.select(col("source"), col("c"), posexplode(
        array((0 until nEst).map { j =>
          (lit(1L) - lit(2L) * TextOps.wordHash60(
            concat(lit(s"ams$j:"), col("w"))).bitwiseAND(lit(1L)))
        }: _*)).as(Seq("j", "s")))
      val sk = signs.groupBy("source", "j")
        .agg(sum(col("s") * col("c")).as("y"))
      val est = sk.groupBy("source")
        .agg((sum(col("y") * col("y")).cast("double") /
          lit(nEst.toDouble)).as("__est"))
      val exact = freq.groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum(col("c") * col("c")).as("f2_exact"))
      exact.join(est, Seq("source"))
        .withColumn("f2_est", round(col("__est"), 4))
        .withColumn("rel_err",
          round(abs(col("__est") - col("f2_exact").cast("double")) /
            col("f2_exact").cast("double"), 6))
        .select("source", "n_types", "f2_exact", "f2_est", "rel_err")
    }),


    // Competence-based curriculum pacing (Platanios et al., NAACL 2019):
    // difficulty = corpus length CDF, competence c(t) = sqrt(t/T), so a
    // doc unlocks at step t = ceil(T·cdf²) — the data-ordering schedule
    // for curriculum training, closed-form (no per-step scan). The
    // global rank is NOT a global-sort window (single partition at
    // corpus scale): ranks = per-length local row_number (distributed
    // by length) + a prefix-sum offset over the BOUNDED distinct-length
    // table, broadcast back. T=1000. Ratios of exact integers squared
    // in double are engine-identical; ceil on them likewise.
    "q251_curriculum" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(TextOps.words(col("text"))).cast("long").as("n_words"))
      val cnt = docs.groupBy("n_words").agg(count(lit(1)).as("__c"))
      val pre = cnt.withColumn("__before",
          coalesce(sum(col("__c")).over(W.orderBy("n_words")
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .select(col("n_words"), col("__before"))
      val tot = docs.agg(count(lit(1)).as("__n"))
      val wd = W.partitionBy("n_words").orderBy("doc_id")
      docs.join(broadcast(pre), Seq("n_words"))
        .withColumn("__rn", col("__before") + row_number().over(wd))
        .crossJoin(broadcast(tot))
        .withColumn("cdf",
          round(col("__rn").cast("double") / col("__n"), 6))
        .withColumn("unlock_step", ceil(lit(1000.0) *
          (col("__rn").cast("double") / col("__n")) *
          (col("__rn").cast("double") / col("__n"))).cast("long"))
        .select("doc_id", "source", "n_words", "cdf", "unlock_step")
    }),


    // AMS-sketch shard workflow (the q231 pattern on q243's F2 sketch):
    // per-shard (source, j, Y) sign-sum sketches persist to parquet,
    // re-merge by plain SUM, and must equal the direct corpus sketch
    // EXACTLY (integer linearity of Y_j = Σ s_j(w)·c_w) — the
    // incremental-crawl form: each crawl ships sketch rows, never
    // re-scans history. The f2 estimate off the MERGED sketch is the
    // cross-engine-checked value.
    "q253_ams_shard_merge" -> ((s, dir) => {
      val nEst = 16
      def signs(wcol: org.apache.spark.sql.Column) =
        array((0 until nEst).map { j =>
          (lit(1L) - lit(2L) * TextOps.wordHash60(
            concat(lit(s"ams$j:"), wcol)).bitwiseAND(lit(1L)))
        }: _*)
      val docs = Tables.documents(s, dir)
      val path = s"${IoQueries.sinkDir}/q253_ams_shards"
      // count word types per (source, shard) FIRST so the 16 sign
      // hashes run once per TYPE, not per token occurrence (Σ_occ sg =
      // sg·c exactly) — ~100× fewer md5 evaluations at sf0.1
      graft.core.Tables.writeSmall(
        docs.select(col("source"), (col("doc_id") % 4).as("shard"),
            explode(TextOps.words(col("text"))).as("w"))
          .groupBy("source", "shard", "w").agg(count(lit(1)).as("__c"))
          .select(col("source"), col("shard"), col("__c"),
            posexplode(signs(col("w"))).as(Seq("j", "sg")))
          .groupBy("source", "shard", "j")
          .agg(sum(col("sg") * col("__c")).as("y")), path)
      val merged = graft.core.Tables.readStable(s, path)
        .groupBy("source", "j")
        .agg(sum(col("y")).as("y_m"),
          countDistinct(col("shard")).as("__ns"))
      val direct = docs.select(col("source"),
          explode(TextOps.words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .select(col("source"), col("c"),
          posexplode(signs(col("w"))).as(Seq("j", "sg")))
        .groupBy("source", "j").agg(sum(col("sg") * col("c")).as("y_d"))
      merged.join(direct, Seq("source", "j"))
        .groupBy("source")
        .agg(max(col("__ns")).as("n_shards"),
          sum(when(col("y_m") === col("y_d"), 1L).otherwise(0L))
            .as("n_eq"),
          (sum(col("y_m") * col("y_m")).cast("double") /
            lit(nEst.toDouble)).as("__est"))
        .select(col("source"), col("n_shards"), col("n_eq"),
          round(col("__est"), 4).as("f2_est"),
          (col("n_eq") === nEst).as("merge_exact"))
    }),


    // Rendezvous (highest-random-weight) hashing shard assignment
    // (Thaler & Ravishankar 1998) + the consistent-remap audit: argmax
    // over per-(doc, shard) hashes for 4 shards, again for 5 — HRW
    // guarantees every reassigned doc moves TO the new shard (never
    // between old ones) and ~1/5 of each shard moves, which the query
    // verifies (n_moved_elsewhere must be 0). Pure map-side expression
    // work + one doc-keyed aggregate pair — the shard-topology-change
    // operator a 100 TB store runs on every capacity change.
    "q257_rendezvous" -> ((s, dir) => {
      val hs = Tables.documents(s, dir).select(col("doc_id"),
          posexplode(array((0 until 5).map { sh =>
            TextOps.wordHash60(concat(lit(s"hrw$sh:"),
              col("doc_id").cast("string")))
          }: _*)).as(Seq("s", "h")))
      def arg(df: org.apache.spark.sql.DataFrame, name: String) =
        df.groupBy("doc_id")
          .agg(max_by(col("s"), struct(col("h"), col("s"))).as(name))
      arg(hs.filter(col("s") < 4), "shard4")
        .join(arg(hs, "shard5"), Seq("doc_id"))
        .groupBy(col("shard4").as("shard"))
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("shard5") =!= col("shard4"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("shard5") =!= col("shard4") &&
            col("shard5") =!= 4, 1L).otherwise(0L))
            .as("n_moved_elsewhere"))
        .withColumn("moved_frac",
          round(col("n_moved").cast("double") / col("n_before"), 6))
    }),


    // Fleiss' kappa across three deterministic binary keep raters (the
    // hard Gopher rules as independent judges) — multi-rater
    // chance-corrected filter agreement, integer sums throughout.
    "q262_fleiss_kappa" -> ((s, dir) =>
      TextAnalysis.fleissKappa(Tables.documents(s, dir), "doc_id", "text")),


    // Per-source tie-corrected Spearman rank correlation between the
    // classifier margin and mean word length — do the two filters RANK
    // documents the same way? Integer average-ranks in DECIMAL(38,0),
    // string-routed to double once.
    "q263_spearman_filters" -> ((s, dir) =>
      TextAnalysis.spearmanScores(Tables.documents(s, dir), "doc_id",
        "text", "source")),


    // Split-conformal coverage audit (Vovk/Lei): calibration-split
    // margin quantile as the keep threshold, coverage on the held-out
    // split — the finite-sample-guaranteed way to threshold a filter.
    "q266_conformal" -> ((s, dir) =>
      TextAnalysis.conformalCoverage(Tables.documents(s, dir), "doc_id",
        "text", alpha = 0.1)),


    // Greedy maximum-coverage seed-set selection (Nemhauser 1978's
    // 1-1/e greedy): 5 adaptive rounds, each one anti-join + count
    // aggregate + single-row argmax — the vocabulary-spanning
    // curation primitive.
    "q269_max_coverage" -> ((s, dir) =>
      Pipeline.maxCoverage(Tables.documents(s, dir), "doc_id", "text",
        k = 5)),


    // Chinchilla-optimal token-budget audit (Hoffmann et al. 2022,
    // "Training Compute-Optimal Large Language Models" — the ~20
    // tokens/parameter rule): for a model-size grid, whether this
    // corpus's token mass — total, and exact-dedup effective (tokens of
    // keeper docs only) — covers the compute-optimal budget, and how
    // many epochs of the deduped corpus the budget implies. One corpus
    // scan + a 16-byte-key dedup aggregate; the grid is a 6-row literal.
    "q278_chinchilla_budget" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val docs = Tables.documents(s, dir)
      val toks = docs
        .withColumn("__n", size(TextOps.words(col("text"))).cast("long"))
        .withColumn("__h", md5(col("text").cast("binary")))
        .join(Dedup.exactGroups(docs, "doc_id", "text")
          .select(col("text_hash").as("__h"), col("keep_id")), Seq("__h"))
        .agg(sum(col("__n")).as("corpus_tokens"),
          sum(when(col("doc_id") === col("keep_id"), col("__n"))
            .otherwise(0L)).as("effective_tokens"))
      Seq(("125M", 125000000L), ("350M", 350000000L),
        ("1.3B", 1300000000L), ("2.7B", 2700000000L),
        ("6.7B", 6700000000L), ("13B", 13000000000L))
        .toDF("model", "params")
        .crossJoin(broadcast(toks))
        .select(col("model"), col("params"),
          (col("params") * 20).as("need_tokens"),
          col("corpus_tokens"), col("effective_tokens"),
          round(col("corpus_tokens").cast("double") /
            (col("params") * 20), 8).as("coverage"),
          round((col("params") * 20).cast("double") /
            col("effective_tokens"), 2).as("epochs_needed"))
    }),


    // Disparate-impact audit (Feldman 2015 / EEOC 80% rule) of the
    // quality classifier across languages — keep-rate ratios vs the
    // best-treated group; the governance check that "quality" is not
    // just majority-language fluency.
    "q279_disparate_impact" -> ((s, dir) =>
      TextAnalysis.disparateImpact(Tables.documents(s, dir), "doc_id",
        "text", "lang", threshold = 0.5)),


    // Brier-score decomposition (Murphy 1973): reliability, resolution,
    // uncertainty per source over the q226 bins — says whether a
    // miscalibrated filter score is worth recalibrating (resolution)
    // or carries no signal.
    "q281_brier_decomposition" -> ((s, dir) =>
      TextAnalysis.brierDecomposition(Tables.documents(s, dir), "doc_id",
        "text", col("lang") === "en", "source", nBins = 10)),


    // k-ary randomized response (Warner 1965) with debiased collection —
    // the local-DP frequency channel, seeded per occurrence so the whole
    // mechanism is deterministic and oracle-checkable.
    "q277_randomized_response" -> ((s, dir) =>
      TextAnalysis.randomizedResponse(Tables.documents(s, dir), "doc_id",
        "text", p = 0.75)),


    // Reliability diagram + ECE of the q129 hash classifier against the
    // lang='en' weak truth, per source: is the quality score calibrated
    // enough to threshold at face value?
    "q226_calibration_ece" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.calibrationEce(docs, "doc_id", "text",
        col("lang") === "en", "source", nBins = 10)
    }),


    // DoReMi-lite domain mixture weights: per-source excess NLL (bigram
    // proxy minus unigram reference LM) softmaxed into sampling weights.
    "q227_doremi_weights" -> ((s, dir) =>
      Pipeline.doremiWeights(Tables.documents(s, dir), "doc_id", "text",
        "source")),


    // Confident-learning label-noise matrix over kNN vote fractions:
    // per-class mean-self-confidence thresholds, confident-joint counts.
    "q229_confident_joint" -> ((s, dir) =>
      Similarity.confidentJoint(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", k = 5)),


    // Deterministic per-epoch shuffle order: 3 epochs, 8 hash shards,
    // md5-ranked position within (epoch, shard).
    "q173_epoch_shuffle" -> ((s, dir) =>
      Pipeline.epochShuffle(Tables.documents(s, dir), "doc_id",
        epochs = 3, numShards = 8)),


    // Packed-example boundary segments (ctx 256): per (pack, doc) the
    // in-pack offset/length + doc start/end flags — the block-diagonal
    // attention/loss-mask metadata for q77-style packing.
    "q174_pack_boundaries" -> ((s, dir) =>
      Pipeline.packBoundaries(Tables.documents(s, dir), "doc_id", "text",
        streamCol = "source", ctxLen = 256L)),


    // Soft-dedup sampling realized: deterministic weighted Bernoulli
    // keep-decision from the q155 1/cluster_size weights.
    "q171_weighted_sample" -> ((s, dir) =>
      Dedup.weightedSample(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)),


    // Weight-sensitive fixed-size sampling per source (Duffield-Lund-
    // Thorup priority sampling): inclusion probability ∝ n_chars, one
    // map pass + a WindowGroupLimit-pruned per-stratum top-k. The
    // cross-engine-safe cousin of E-S reservoir sampling (single IEEE
    // division, no pow/log).
    "q188_priority_sample" -> ((s, dir) =>
      Pipeline.prioritySample(Tables.documents(s, dir), "doc_id", "source",
        "n_chars", k = 20)),


    // Per-source quantile normalization of the quality score: raw
    // scores map to within-source percentile ranks, so one global
    // threshold selects fairly across sources whose scorers calibrate
    // differently — the normalization step upstream of every
    // "keep the global top X%" decision.
    "q209_quantile_norm" -> ((s, dir) => {
      val q = TextAnalysis.quality(Tables.documents(s, dir), "doc_id",
        "text", extraCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("quality_score"))
      TextAnalysis.quantileNormalize(q, "doc_id", "quality_score", "source")
    }),


    // Shard-rebalance audit: fraction of docs that move when shards grow
    // 8 -> 9, mod-hash vs rendezvous — the measured case for HRW
    // placement before committing a 100 TB corpus to a shard scheme.
    "q212_rebalance" -> ((s, dir) =>
      Pipeline.rebalanceAudit(Tables.documents(s, dir), "doc_id",
        fromShards = 8)),


    // Dedup-adjusted effective token mass per source: raw token counts
    // vs the soft-weight (1/cluster_size) discounted mass, plus the
    // inflation ratio — the "how much of this source is really new
    // signal" number that token budgets (q150) should consume instead
    // of raw counts. Rides the q155 cluster weights + one token scan.
    "q211_effective_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = Dedup.softDedupWeights(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)
      docs.select(col("doc_id"), col("source"),
          size(TextOps.words(col("text"))).cast("long").as("toks"))
        .join(w.select(col("doc_id"), col("weight")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("raw_tokens"),
          round(graft.core.Det.sumDet(col("toks") * col("weight"), 6), 6)
            .as("effective_tokens"))
        .withColumn("inflation",
          when(col("effective_tokens") > 0.0,
            round(col("raw_tokens") / col("effective_tokens"), 6)))
    }),


    // Neyman minimum-variance sampling allocation: a 100-doc labeling
    // budget split across sources proportional to N_h * S_h — the
    // classical optimum for estimating the corpus mean quality, and the
    // principled replacement for proportional quotas (q77) when strata
    // differ in score spread.
    "q210_neyman_alloc" -> ((s, dir) => {
      val q = TextAnalysis.quality(Tables.documents(s, dir), "doc_id",
        "text", extraCols = Seq("source"))
        .select(col("source"), col("quality_score"))
      Pipeline.neymanAllocation(q, "source", "quality_score", budget = 100L)
    }),


    // Moments-sketch shard persist → re-merge (q237 under the q231
    // workflow): per (source, doc-shard) power sums of ln(len) persist
    // as EXACT DECIMALS (persisting the double cast would re-round the
    // re-merge), reload, merge by +, and the Cornish-Fisher quantile
    // estimates must equal the corpus-at-once sketch value-for-value —
    // decimal addition is exact and associative, so they do.
    "q295_moments_persist" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val path = s"${IoQueries.sinkDir}/q295_moment_shards"
      val base = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          round(log(length(col("text")).cast("double")), 8).as("__t"))
        .withColumn("__t2", round(col("__t") * col("__t"), 8))
        .withColumn("__t3", round(col("__t2") * col("__t"), 8))
        .withColumn("__t4", round(col("__t3") * col("__t"), 8))
        .pin() // shard side + direct side share one scan
      def dsum8(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(24, 8)))
      graft.core.Tables.writeSmall(
        base.withColumn("shard", pmod(col("doc_id"), lit(4L)))
          .groupBy("source", "shard")
          .agg(count(lit(1)).as("n"), dsum8(col("__t")).as("s1"),
            dsum8(col("__t2")).as("s2"), dsum8(col("__t3")).as("s3"),
            dsum8(col("__t4")).as("s4")), path)
      val merged = graft.core.Tables.readStable(s, path).groupBy("source")
        .agg(countDistinct(col("shard")).as("n_shards"),
          sum(col("n")).as("n_docs"),
          sum(col("s1")).cast("double").as("__s1"),
          sum(col("s2")).cast("double").as("__s2"),
          sum(col("s3")).cast("double").as("__s3"),
          sum(col("s4")).cast("double").as("__s4"))
      val direct = base.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          dsum8(col("__t")).cast("double").as("__s1"),
          dsum8(col("__t2")).cast("double").as("__s2"),
          dsum8(col("__t3")).cast("double").as("__s3"),
          dsum8(col("__t4")).cast("double").as("__s4"))
      def cfCols(df: DataFrame): DataFrame = df
        .withColumn("__n", col("n_docs").cast("double"))
        .withColumn("__mu", col("__s1") / col("__n"))
        .withColumn("__m2",
          col("__s2") / col("__n") - col("__mu") * col("__mu"))
        .withColumn("__sd", sqrt(col("__m2")))
        .withColumn("__sk",
          (col("__s3") / col("__n") - lit(3.0) * col("__mu") * col("__m2")
            - col("__mu") * col("__mu") * col("__mu")) /
            (col("__m2") * col("__sd")))
        .withColumn("__ku",
          (col("__s4") / col("__n")
            - lit(4.0) * col("__mu") * (col("__s3") / col("__n"))
            + lit(6.0) * col("__mu") * col("__mu") *
              (col("__s2") / col("__n"))
            - lit(3.0) * col("__mu") * col("__mu") * col("__mu") *
              col("__mu")) / (col("__m2") * col("__m2")) - lit(3.0))
      def cf(z: Double): org.apache.spark.sql.Column =
        col("__mu") + col("__sd") * lit(z) +
          col("__sd") * col("__sk") * lit(CfK1(z)) +
          col("__sd") * col("__ku") * lit(CfK2(z)) +
          col("__sd") * col("__sk") * col("__sk") * lit(CfK3(z))
      val m = cfCols(merged).select(col("source"), col("n_shards"),
        col("n_docs"), round(cf(0.0), 6).as("est_p50"),
        round(cf(Z90), 6).as("est_p90"))
      val d = cfCols(direct).select(col("source"),
        round(cf(0.0), 6).as("__d50"), round(cf(Z90), 6).as("__d90"))
      m.join(d, Seq("source"))
        .select(col("source"), col("n_shards"), col("n_docs"),
          col("est_p50"), col("est_p90"),
          (col("est_p50") <=> col("__d50") &&
            col("est_p90") <=> col("__d90")).as("persist_exact"))
    })
  )

  def oracleSql: Map[String, String] = Map(

    // Training-data selection composing lang-ID + quality + dedup
    // clustering: English, quality bar, length band, and only the
    // cluster-minimum representative of each near-dup component.
    "q71_corpus_select" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |lang AS ($langSelectSql),
         |qual AS ($qualitySelectSql)
         |SELECT d.doc_id, d.source, l.pred_lang, q.quality_score, q.n_words
         |FROM documents d
         |JOIN lang l USING (doc_id)
         |JOIN qual q USING (doc_id)
         |LEFT JOIN comp c USING (doc_id)
         |WHERE l.pred_lang = 'en' AND q.quality_score >= 0.72
         |  AND q.n_words BETWEEN 10 AND 500
         |  AND (c.cluster_id IS NULL OR c.cluster_id = d.doc_id)""".stripMargin,


    "q77_seq_pack" ->
      """SELECT source, doc_id, n_tok, start_off,
        |  start_off // 2048 AS pack_id,
        |  start_off % 2048 AS pack_off,
        |  ((start_off + n_tok - 1) // 2048 > start_off // 2048)
        |    AND n_tok > 0 AS spans_boundary
        |FROM (
        |  SELECT source, doc_id, n_tok,
        |    COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_off
        |  FROM (SELECT source, doc_id,
        |          len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS n_tok
        |        FROM documents))""".stripMargin,


    "q78_strat_sample" -> {
      val arms = SampleRates.toSeq
        .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
      s"""SELECT doc_id, lang, bucket, rate_permille FROM (
         |  SELECT doc_id, lang,
         |    ('0x' || substr(md5('smp1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      % 1000 AS bucket,
         |    CASE $arms ELSE 50 END AS rate_permille
         |  FROM documents)
         |WHERE bucket < rate_permille""".stripMargin
    },


    // Mirrors Pipeline.temperatureMixture: sqrt is correctly rounded in
    // IEEE arithmetic on both engines; shares/rates pinned at 6 digits on
    // both sides BEFORE the keep comparison; the source-share sum routes
    // through exact decimal (order-free).
    "q135_temperature_mix" ->
      s"""WITH st AS (
         |  SELECT source, CAST(SUM(len($WORDS)) AS BIGINT) AS src_tokens
         |  FROM documents GROUP BY 1),
         |ss AS (SELECT source, src_tokens,
         |  ROUND(sqrt(src_tokens::DOUBLE), 6) AS s FROM st),
         |tot AS (SELECT CAST(SUM(CAST(s AS DECIMAL(24,6))) AS DOUBLE)
         |  AS stot FROM ss),
         |d AS (SELECT doc_id, source, CAST(len($WORDS) AS BIGINT) AS n_tok,
         |  ('0x' || substr(md5('temp1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |    % 1000 AS bucket
         |  FROM documents)
         |SELECT doc_id, source, n_tok, share, keep_rate,
         |  bucket::DOUBLE / 1000.0 < keep_rate AS kept
         |FROM (
         |  SELECT d.doc_id, d.source, d.n_tok, d.bucket,
         |    ROUND(s / stot, 6) AS share,
         |    LEAST(CAST(1.0 AS DOUBLE),
         |      ROUND(20000 * ROUND(s / stot, 6) / src_tokens, 6)) AS keep_rate
         |  FROM d JOIN ss USING (source) CROSS JOIN tot)""".stripMargin,


    // Mirrors TextAnalysis.hllDistinctWords: bin()-length integer ranks,
    // exact-integer register sums (HUGEINT ≙ Spark's DECIMAL(38,0)), the
    // double ops in identical order, estimate pinned to 4 digits.
    "q139_hll_distinct" ->
      s"""WITH w AS (
         |  SELECT source, unnest($WORDS) AS word FROM documents),
         |h AS (
         |  SELECT source, word,
         |    ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv
         |  FROM w),
         |r AS (
         |  SELECT source, hv & 63 AS bucket,
         |    MAX(CASE WHEN (hv >> 6) = 0 THEN 55
         |        ELSE 55 - length(bin(hv >> 6)) END) AS m
         |  FROM h GROUP BY 1, 2),
         |agg AS (
         |  SELECT source, COUNT(*) AS n_present,
         |    SUM((1::BIGINT << (60 - m))::HUGEINT) AS psum
         |  FROM r GROUP BY 1),
         |ex AS (SELECT source, COUNT(DISTINCT word) AS n_distinct_exact
         |       FROM w GROUP BY 1)
         |SELECT source, n_distinct_exact, zeros,
         |  CASE WHEN raw <= 160.0 AND zeros > 0
         |    THEN ROUND(64 * ln(CAST(64.0 AS DOUBLE) / zeros), 4)
         |    ELSE ROUND(raw, 4) END AS est_distinct
         |FROM (
         |  SELECT agg.source, ex.n_distinct_exact,
         |    64 - n_present AS zeros,
         |    CAST(2904.064 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
         |      / CAST(psum + (64 - n_present)::HUGEINT
         |          * 1152921504606846976::HUGEINT AS DOUBLE) AS raw
         |  FROM agg JOIN ex USING (source))""".stripMargin,


    "q82_mixture" -> {
      val arms = MixWeights.toSeq
        .map { case (s, v) => s"WHEN source = '$s' THEN $v" }.mkString(" ")
      s"""WITH st AS (SELECT source, CAST(SUM(len($WORDS)) AS BIGINT) AS src_tokens
         |  FROM documents GROUP BY 1),
         |d AS (SELECT doc_id, source, len($WORDS) AS n_tok,
         |  ('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |    % 1000 AS bucket
         |  FROM documents)
         |SELECT doc_id, source, n_tok, ROUND(factor, 6) AS factor,
         |  CAST(FLOOR(factor) AS BIGINT) +
         |    CASE WHEN bucket::DOUBLE / 1000.0 < factor - FLOOR(factor)
         |      THEN 1 ELSE 0 END AS n_copies
         |FROM (
         |  SELECT doc_id, source, n_tok, bucket,
         |    100000 * CASE $arms ELSE 0.0 END / st.src_tokens::DOUBLE AS factor
         |  FROM d JOIN st USING (source))""".stripMargin
    },


    "q174_pack_boundaries" ->
      s"""WITH nt AS (
         |  SELECT source, doc_id,
         |    CAST(len($WORDS) AS BIGINT) AS n_tok
         |  FROM documents),
         |base AS (
         |  SELECT source, doc_id, n_tok,
         |    COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |      AS start_off
         |  FROM nt),
         |x AS (
         |  SELECT source, doc_id, n_tok, start_off,
         |    start_off // 256 AS first_pack,
         |    (start_off + n_tok - 1) // 256 AS last_pack
         |  FROM base WHERE n_tok > 0),
         |e AS (
         |  SELECT source, doc_id, n_tok, start_off, first_pack, last_pack, p
         |  FROM x, unnest(range(first_pack, last_pack + 1)) AS t(p))
         |SELECT source, CAST(p AS BIGINT) AS pack_id, doc_id,
         |  GREATEST(start_off, p * 256) - p * 256 AS seg_start,
         |  LEAST(start_off + n_tok, (p + 1) * 256)
         |    - GREATEST(start_off, p * 256) AS seg_len,
         |  (p = first_pack) AS is_doc_start,
         |  (p = last_pack) AS is_doc_end
         |FROM e""".stripMargin,


    "q173_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT doc_id, CAST(ep AS BIGINT) AS epoch,
        |    ('0x' || substr(md5(CAST(ep AS VARCHAR) || ':' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents, unnest(range(0, 3)) AS t(ep))
        |SELECT doc_id, epoch, h % 8 AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY epoch, h % 8
        |    ORDER BY h, doc_id) AS pos
        |FROM e""".stripMargin,


    "q212_rebalance" -> {
      val ps = (0 to 8).map(s =>
        s"('0x' || substr(md5('hrw:$s:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT * 16 + $s AS p_$s")
      val g8 = (0 until 8).map(s => s"p_$s").mkString(", ")
      val g9 = (0 to 8).map(s => s"p_$s").mkString(", ")
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5('shard1' || CAST(doc_id AS VARCHAR)), 1, 15))
         |      ::BIGINT AS hm,
         |    ${ps.mkString(",\n    ")}
         |  FROM documents),
         |f AS (
         |  SELECT (hm % 8) <> (hm % 9) AS moved_mod,
         |    (GREATEST($g8) % 16) <> (GREATEST($g9) % 16) AS moved_hrw
         |  FROM h),
         |g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN moved_mod THEN 1 ELSE 0 END) AS BIGINT) AS mm,
         |    CAST(SUM(CASE WHEN moved_hrw THEN 1 ELSE 0 END) AS BIGINT) AS mh
         |  FROM f)
         |SELECT 'mod' AS method, n AS n_docs, mm AS n_moved,
         |  ROUND(mm::DOUBLE / n, 6) AS moved_frac FROM g
         |UNION ALL
         |SELECT 'rendezvous', n, mh, ROUND(mh::DOUBLE / n, 6) FROM g""".stripMargin
    },


    "q211_effective_tokens" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |sz AS (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY 1),
         |wt AS (
         |  SELECT d.doc_id, d.source, CAST(len($WORDS) AS BIGINT) AS toks,
         |    ROUND(1.0::DOUBLE / COALESCE(sz.n, 1), 6) AS weight
         |  FROM documents d
         |  LEFT JOIN comp c USING (doc_id)
         |  LEFT JOIN sz ON sz.cluster_id = c.cluster_id),
         |g AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(toks) AS BIGINT) AS raw_tokens,
         |    ROUND(${graft.core.Det.sumDetSql("toks * weight", 6)}, 6)
         |      AS effective_tokens
         |  FROM wt GROUP BY 1)
         |SELECT source, n_docs, raw_tokens, effective_tokens,
         |  CASE WHEN effective_tokens > 0.0
         |    THEN ROUND(raw_tokens / effective_tokens, 6) END AS inflation
         |FROM g""".stripMargin,


    "q171_weighted_sample" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |sz AS (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY 1),
         |ws AS (
         |  SELECT d.doc_id,
         |    COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |    COALESCE(sz.n, 1) AS cluster_size,
         |    ROUND(1.0::DOUBLE / COALESCE(sz.n, 1), 6) AS weight,
         |    (('0x' || substr(md5('ws:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
         |      ::BIGINT)::DOUBLE / 4294967296.0 AS u_raw
         |  FROM documents d
         |  LEFT JOIN comp c USING (doc_id)
         |  LEFT JOIN sz ON sz.cluster_id = c.cluster_id)
         |SELECT doc_id, cluster_id, cluster_size, weight,
         |  ROUND(u_raw, 6) AS u,
         |  (u_raw < weight) AS kept
         |FROM ws""".stripMargin,


    "q80_shards" ->
      """SELECT doc_id, shard, pos FROM (
        |  SELECT doc_id, h % 16 AS shard,
        |    ROW_NUMBER() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS pos
        |  FROM (SELECT doc_id,
        |          ('0x' || substr(md5('shard1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |        FROM documents))""".stripMargin,


    "q106_label_agreement" -> {
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |bands AS ($bandKeysSql),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.bi = b.bi AND a.bk = b.bk AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT id_a, id_b,
         |    ROUND(${dot("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2), 6) AS cos
         |  FROM cand JOIN n a ON cand.id_a = a.vec_id
         |            JOIN n b ON cand.id_b = b.vec_id
         |  WHERE ROUND(${dot("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2), 6) >= 0.3)
         |SELECT least(la.label, lb.label) AS label_lo,
         |  greatest(la.label, lb.label) AS label_hi,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(CAST(cos AS DECIMAL(24,6))) AS DOUBLE) AS sum_cos
         |FROM pairs
         |JOIN embeddings la ON pairs.id_a = la.vec_id
         |JOIN embeddings lb ON pairs.id_b = lb.vec_id
         |GROUP BY 1, 2""".stripMargin
    },


    "q144_split_assign" ->
      """WITH a AS (
        |  SELECT source, n_chars,
        |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT source, n_chars,
        |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |        FROM documents))
        |SELECT source, split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        |FROM a GROUP BY 1, 2""".stripMargin,


    "q232_bottomk_sample" ->
      """WITH b AS (
        |  SELECT source, doc_id, LENGTH(text)::DOUBLE AS len,
        |    md5('bk1' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |samp AS (
        |  SELECT * FROM (
        |    SELECT b.*, ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY h, doc_id) AS rnk FROM b)
        |  WHERE rnk <= 64),
        |e AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    quantile_cont(len, [0.5, 0.9]) AS q
        |  FROM b GROUP BY 1),
        |sm AS (
        |  SELECT source, COUNT(*) AS n_sample,
        |    quantile_cont(len, [0.5, 0.9]) AS q
        |  FROM samp GROUP BY 1)
        |SELECT e.source, e.n_docs, sm.n_sample,
        |  ROUND(e.q[1], 4) AS exact_p50, ROUND(sm.q[1], 4) AS est_p50,
        |  ROUND(e.q[2], 4) AS exact_p90, ROUND(sm.q[2], 4) AS est_p90,
        |  ROUND(ABS(sm.q[1] - e.q[1]) / e.q[1], 4) AS err_p50,
        |  ROUND(ABS(sm.q[2] - e.q[2]) / e.q[2], 4) AS err_p90
        |FROM e JOIN sm USING (source)""".stripMargin,


    "q233_countmin" -> {
      val a = Dedup.HASH_A.mkString("[", ", ", "]")
      val b = Dedup.HASH_B.mkString("[", ", ", "]")
      s"""WITH f AS (
         |  SELECT word, COUNT(*) AS n_exact FROM (
         |    SELECT unnest($WORDS) AS word FROM documents) GROUP BY 1),
         |hb AS (
         |  SELECT word, n_exact,
         |    ('0x' || substr(md5(word), 1, 8))::BIGINT AS base
         |  FROM f),
         |cells AS (
         |  SELECT j,
         |    ((($a)[j+1] * base + ($b)[j+1]) % ${Dedup.MINHASH_P}) % 256
         |      AS bucket,
         |    n_exact
         |  FROM hb, unnest(range(0, 4)) AS t(j)),
         |sk AS (
         |  SELECT j, bucket, CAST(SUM(n_exact) AS BIGINT) AS c
         |  FROM cells GROUP BY 1, 2),
         |top AS (
         |  SELECT word, n_exact, base FROM hb
         |  ORDER BY n_exact DESC, word LIMIT 20),
         |probe AS (
         |  SELECT word, n_exact, j,
         |    ((($a)[j+1] * base + ($b)[j+1]) % ${Dedup.MINHASH_P}) % 256
         |      AS bucket
         |  FROM top, unnest(range(0, 4)) AS t(j))
         |SELECT p.word, MAX(p.n_exact) AS n_exact, MIN(sk.c) AS n_est,
         |  MIN(sk.c) - MAX(p.n_exact) AS overcount
         |FROM probe p JOIN sk USING (j, bucket)
         |GROUP BY 1""".stripMargin
    },


    "q237_moments_quantile" -> {
      val sd8 = (e: String) => graft.core.Det.sumDetSql(e, 8)
      def est(z: Double): String =
        s"mu + sd*($z::DOUBLE) + sd*sk*(${CfK1(z)}::DOUBLE)" +
          s" + sd*ku*(${CfK2(z)}::DOUBLE) + sd*sk*sk*(${CfK3(z)}::DOUBLE)"
      s"""WITH b AS (
         |  SELECT source, ROUND(ln(LENGTH(text)::DOUBLE), 8) AS t
         |  FROM documents),
         |p AS (SELECT source, t, ROUND(t*t, 8) AS t2 FROM b),
         |p2 AS (SELECT source, t, t2, ROUND(t2*t, 8) AS t3 FROM p),
         |p3 AS (SELECT source, t, t2, t3, ROUND(t3*t, 8) AS t4 FROM p2),
         |g AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    ${sd8("t")} AS s1, ${sd8("t2")} AS s2,
         |    ${sd8("t3")} AS s3, ${sd8("t4")} AS s4,
         |    quantile_cont(t, [0.5, 0.9]) AS q
         |  FROM p3 GROUP BY 1),
         |m1 AS (SELECT *, s1 / n_docs AS mu FROM g),
         |m2c AS (SELECT *, s2 / n_docs - mu * mu AS m2 FROM m1),
         |m3 AS (SELECT *, sqrt(m2) AS sd FROM m2c),
         |m4 AS (
         |  SELECT *,
         |    (s3 / n_docs - 3 * mu * m2 - mu * mu * mu) / (m2 * sd) AS sk,
         |    (s4 / n_docs - 4 * mu * (s3 / n_docs)
         |      + 6 * mu * mu * (s2 / n_docs)
         |      - 3 * mu * mu * mu * mu) / (m2 * m2) - 3 AS ku
         |  FROM m3),
         |e AS (
         |  SELECT *, ${est(0.0)} AS e50, ${est(1.2815515655446004)} AS e90
         |  FROM m4)
         |SELECT source, n_docs,
         |  ROUND(mu, 6) AS mean_ln, ROUND(sd, 6) AS sd_ln,
         |  ROUND(sk, 6) AS skew, ROUND(ku, 6) AS ex_kurt,
         |  ROUND(e50, 6) AS est_p50, ROUND(q[1], 6) AS exact_p50,
         |  ROUND(ABS(e50 - q[1]), 6) AS err_p50,
         |  ROUND(e90, 6) AS est_p90, ROUND(q[2], 6) AS exact_p90,
         |  ROUND(ABS(e90 - q[2]), 6) AS err_p90
         |FROM e""".stripMargin
    },


    "q238_unimax" ->
      s"""WITH t AS (
         |  SELECT source, CAST(SUM(len($WORDS)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |c AS (SELECT source, n_tokens, n_tokens * 4 AS cap_tokens FROM t),
         |s AS (SELECT CAST(SUM(n_tokens) * 2 AS BIGINT) AS bb,
         |             COUNT(*) AS k FROM c),
         |r AS (
         |  SELECT c.*, s.bb, s.k,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cap_tokens, source)
         |      AS BIGINT) AS i,
         |    CAST(SUM(cap_tokens) OVER (ORDER BY cap_tokens, source
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pref
         |  FROM c, s),
         |f AS (
         |  SELECT *, (cap_tokens * (k - i + 1) <=
         |             bb - (pref - cap_tokens)) AS sat
         |  FROM r),
         |m AS (SELECT COALESCE(MAX(CASE WHEN sat THEN i END), 0) AS mm,
         |             COALESCE(MAX(CASE WHEN sat THEN pref END), 0) AS pm
         |      FROM f),
         |a AS (
         |  SELECT f.*, m.mm, m.pm,
         |    CASE WHEN i <= mm THEN cap_tokens::DOUBLE
         |         ELSE (bb - pm)::DOUBLE / (k - mm)::DOUBLE END AS alloc
         |  FROM f, m)
         |SELECT source, n_tokens, cap_tokens,
         |  ROUND(alloc, 4) AS alloc_tokens,
         |  ROUND(alloc / n_tokens::DOUBLE, 6) AS epochs,
         |  CASE WHEN i <= mm THEN 1 ELSE 0 END AS saturated
         |FROM a""".stripMargin,


    "q257_rendezvous" ->
      s"""WITH hs AS (
         |  SELECT doc_id, j AS s,
         |    ('0x' || substr(md5('hrw' || CAST(j AS VARCHAR) || ':'
         |      || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM documents, unnest(range(0, 5)) AS t(j)),
         |a4 AS (
         |  SELECT doc_id, s AS shard4 FROM (
         |    SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY h DESC, s DESC) AS rn
         |    FROM hs WHERE s < 4) WHERE rn = 1),
         |a5 AS (
         |  SELECT doc_id, s AS shard5 FROM (
         |    SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY h DESC, s DESC) AS rn
         |    FROM hs) WHERE rn = 1)
         |SELECT shard4 AS shard, COUNT(*) AS n_before,
         |  CAST(SUM(CASE WHEN shard5 <> shard4 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved,
         |  CAST(SUM(CASE WHEN shard5 <> shard4 AND shard5 <> 4
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere,
         |  ROUND(CAST(SUM(CASE WHEN shard5 <> shard4 THEN 1 ELSE 0 END)
         |    AS BIGINT)::DOUBLE / COUNT(*), 6) AS moved_frac
         |FROM a4 JOIN a5 USING (doc_id)
         |GROUP BY 1""".stripMargin,


    "q278_chinchilla_budget" ->
      s"""WITH t AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS corpus_tokens,
         |    CAST(SUM(CASE WHEN doc_id = keep_id THEN n ELSE 0 END)
         |      AS BIGINT) AS effective_tokens
         |  FROM (
         |    SELECT d.doc_id, len($WORDS) AS n, k.keep_id
         |    FROM documents d JOIN (
         |      SELECT md5(text) AS h, MIN(doc_id) AS keep_id
         |      FROM documents GROUP BY 1) k ON md5(d.text) = k.h)),
         |g AS (SELECT * FROM (VALUES
         |  ('125M', 125000000), ('350M', 350000000),
         |  ('1.3B', 1300000000), ('2.7B', 2700000000),
         |  ('6.7B', 6700000000), ('13B', 13000000000))
         |  AS v(model, params))
         |SELECT model, CAST(params AS BIGINT) AS params,
         |  CAST(params * 20 AS BIGINT) AS need_tokens,
         |  corpus_tokens, effective_tokens,
         |  ROUND(corpus_tokens::DOUBLE / (params * 20), 8) AS coverage,
         |  ROUND((params * 20)::DOUBLE / effective_tokens, 2)
         |    AS epochs_needed
         |FROM g, t""".stripMargin,


    "q279_disparate_impact" ->
      s"""WITH m AS (
         |  SELECT lang,
         |    COALESCE(CASE WHEN margin IS NOT NULL
         |      THEN ROUND(1.0 / (1.0 + exp(-margin)), 6) END >= 0.5,
         |      false) AS label
         |  FROM (
         |    SELECT lang, CASE WHEN len(w) > 0 THEN ROUND(list_reduce(
         |      list_transform(w, x ->
         |        ((('0x' || substr(md5('clf:' || x), 1, 15))::BIGINT
         |          % 2001) - 1000) / 1000.0),
         |      (a, b) -> a + b) / len(w), 6) END AS margin
         |    FROM (SELECT lang, $WORDS AS w FROM documents))),
         |r AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_keep
         |  FROM m GROUP BY 1),
         |x AS (SELECT MAX(n_keep::DOUBLE / n_docs) AS mx FROM r)
         |SELECT lang, n_docs, n_keep,
         |  ROUND(n_keep::DOUBLE / n_docs, 6) AS keep_rate,
         |  ROUND(CASE WHEN mx > 0.0::DOUBLE
         |    THEN (n_keep::DOUBLE / n_docs) / mx END, 6) AS di_ratio,
         |  COALESCE(CASE WHEN mx > 0.0::DOUBLE
         |    THEN (n_keep::DOUBLE / n_docs) / mx < 0.8::DOUBLE END,
         |    false) AS below_80pct_rule
         |FROM r, x""".stripMargin,


    "q281_brier_decomposition" ->
      s"""WITH sc AS (
         |  SELECT source, lang = 'en' AS y,
         |    CASE WHEN margin IS NOT NULL
         |      THEN ROUND(1.0 / (1.0 + exp(-margin)), 6) END AS prob
         |  FROM (
         |    SELECT source, lang, CASE WHEN len(w) > 0 THEN ROUND(
         |      list_reduce(list_transform(w, x ->
         |        ((('0x' || substr(md5('clf:' || x), 1, 15))::BIGINT
         |          % 2001) - 1000) / 1000.0),
         |      (a, b) -> a + b) / len(w), 6) END AS margin
         |    FROM (SELECT source, lang, $WORDS AS w FROM documents))),
         |rows_ AS (
         |  SELECT source, y, prob,
         |    LEAST(CAST(FLOOR(prob * 10) AS BIGINT), 9) AS bin
         |  FROM sc WHERE prob IS NOT NULL),
         |pb AS (
         |  SELECT source, bin, COUNT(*) AS n,
         |    ROUND(${graft.core.Det.sumDetSql("prob", 6)} / COUNT(*), 6)
         |      AS conf,
         |    ROUND(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
         |      ::DOUBLE / COUNT(*), 6) AS acc
         |  FROM rows_ GROUP BY 1, 2),
         |base AS (
         |  SELECT source, COUNT(*) AS nn,
         |    ROUND(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
         |      ::DOUBLE / COUNT(*), 6) AS ybar,
         |    ${graft.core.Det.sumDetSql(
             "ROUND((prob - CASE WHEN y THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) * " +
               "(prob - CASE WHEN y THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END), 6)", 6)}
         |      AS sb
         |  FROM rows_ GROUP BY 1)
         |SELECT source, nn AS n_docs, ybar AS base_rate,
         |  ROUND(rel / nn, 6) AS reliability,
         |  ROUND(res / nn, 6) AS resolution,
         |  ROUND(ybar * (1.0::DOUBLE - ybar), 6) AS uncertainty,
         |  ROUND(sb / nn, 6) AS brier
         |FROM (
         |  SELECT source, nn, ybar, sb,
         |    ${graft.core.Det.sumDetSql(
             "ROUND(n * ((conf - acc) * (conf - acc)), 6)", 6)} AS rel,
         |    ${graft.core.Det.sumDetSql(
             "ROUND(n * ((acc - ybar) * (acc - ybar)), 6)", 6)} AS res
         |  FROM pb JOIN base USING (source)
         |  GROUP BY 1, 2, 3, 4)""".stripMargin,


    "q277_randomized_response" -> {
      val thr = (0.75 * math.pow(2.0, 60)).toLong
      s"""WITH toks AS (
         |  SELECT doc_id, i - 1 AS pos, w[i] AS word
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents),
         |    unnest(range(1, len(w) + 1)) AS t(i)),
         |v AS (
         |  SELECT list_sort(list(word)) AS vl, COUNT(*) AS vn
         |  FROM (SELECT DISTINCT word FROM toks)),
         |rep AS (
         |  SELECT CASE WHEN
         |      ('0x' || substr(md5('rr:' || CAST(doc_id AS VARCHAR)
         |        || ':' || CAST(pos AS VARCHAR)), 1, 15))::BIGINT < $thr
         |    THEN word
         |    ELSE vl[(('0x' || substr(md5('rrpick:'
         |      || CAST(doc_id AS VARCHAR) || ':'
         |      || CAST(pos AS VARCHAR)), 1, 15))::BIGINT % vn) + 1]
         |    END AS word
         |  FROM toks, v),
         |obs AS (SELECT word, COUNT(*) AS obs_count FROM rep GROUP BY 1),
         |truth AS (SELECT word, COUNT(*) AS true_count FROM toks
         |  GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n, (SELECT vn FROM v) AS vn FROM toks)
         |SELECT word, COALESCE(true_count, 0) AS true_count,
         |  COALESCE(obs_count, 0) AS obs_count,
         |  ROUND((COALESCE(obs_count, 0)::DOUBLE - n * 0.25::DOUBLE / vn)
         |    / (0.75::DOUBLE - 0.25::DOUBLE / vn), 4) + 0.0 AS est_count
         |FROM obs FULL JOIN truth USING (word), n""".stripMargin
    },


    "q269_max_coverage" -> {
      val levels = (2 to 5).map { k =>
        s"""p$k AS (
           |  SELECT doc, COUNT(*) AS gain FROM dw
           |  WHERE word NOT IN (SELECT word FROM c${k - 1}) GROUP BY 1
           |  QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, doc) = 1),
           |c$k AS (SELECT word FROM c${k - 1}
           |        UNION SELECT word FROM dw JOIN p$k USING (doc))"""
          .stripMargin
      }.mkString(",\n")
      val picks = (1 to 5)
        .map(k => s"SELECT $k AS pick_round, doc AS doc_id, gain FROM p$k")
        .mkString("\n  UNION ALL ")
      s"""WITH dw AS (
         |  SELECT doc_id AS doc, word FROM (
         |    SELECT doc_id, unnest(${shinglesSql(3)}) AS word
         |    FROM (SELECT doc_id, $WORDS AS w FROM documents))),
         |tot AS (SELECT COUNT(DISTINCT word) AS t FROM dw),
         |p1 AS (
         |  SELECT doc, COUNT(*) AS gain FROM dw GROUP BY 1
         |  QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, doc) = 1),
         |c1 AS (SELECT DISTINCT word FROM dw JOIN p1 USING (doc)),
         |$levels,
         |picks AS (
         |  $picks)
         |SELECT pick_round, doc_id, gain,
         |  CAST(SUM(gain) OVER (ORDER BY pick_round) AS BIGINT)
         |    AS cum_words,
         |  ROUND(CAST(SUM(gain) OVER (ORDER BY pick_round) AS BIGINT)
         |    ::DOUBLE / t, 6) AS coverage_frac
         |FROM picks, tot""".stripMargin
    },


    "q262_fleiss_kappa" ->
      s"""WITH q AS (
         |  SELECT CAST((CASE WHEN len(w) >= 50 THEN 1 ELSE 0 END)
         |    + (CASE WHEN len(w) > 0 AND 5 * len(list_filter(w,
         |        x -> regexp_matches(x, '[a-z]'))) >= 4 * len(w)
         |        THEN 1 ELSE 0 END)
         |    + (CASE WHEN len(list_intersect(list_distinct(w),
         |        ['the','a','is','of','and','to','in'])) >= 2
         |        THEN 1 ELSE 0 END) AS BIGINT) AS x
         |  FROM (SELECT $WORDS AS w FROM documents)),
         |s AS (
         |  SELECT COUNT(*) AS n_docs, CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(x * (x - 1) + (3 - x) * (2 - x)) AS BIGINT) AS sq
         |  FROM q),
         |t AS (
         |  SELECT n_docs, sx::DOUBLE / (3.0::DOUBLE * n_docs) AS pk,
         |    sq::DOUBLE / (6.0::DOUBLE * n_docs) AS pbar
         |  FROM s),
         |u AS (
         |  SELECT n_docs, pbar,
         |    pk * pk + (1.0::DOUBLE - pk) * (1.0::DOUBLE - pk) AS pe
         |  FROM t)
         |SELECT n_docs, ROUND(pbar, 6) AS p_bar, ROUND(pe, 6) AS p_e,
         |  ROUND(CASE WHEN pe <> 1.0 THEN (pbar - pe)
         |    / (1.0::DOUBLE - pe) END, 6) + 0.0 AS kappa
         |FROM u""".stripMargin,


    "q263_spearman_filters" ->
      s"""WITH sc AS (
         |  SELECT doc_id, source,
         |    CASE WHEN len(w) > 0 THEN ROUND(list_reduce(
         |      list_transform(w, x ->
         |        ((('0x' || substr(md5('clf:' || x), 1, 15))::BIGINT
         |          % 2001) - 1000) / 1000.0),
         |      (a, b) -> a + b) / len(w), 6) END AS margin,
         |    CASE WHEN len(w) > 0 THEN ROUND(
         |      CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |        / len(w), 6) END AS mwl
         |  FROM (SELECT doc_id, source, $WORDS AS w FROM documents)),
         |r AS (
         |  SELECT source,
         |    2 * RANK() OVER (PARTITION BY source ORDER BY margin)
         |      + COUNT(*) OVER (PARTITION BY source, margin) - 1 AS rx,
         |    2 * RANK() OVER (PARTITION BY source ORDER BY mwl)
         |      + COUNT(*) OVER (PARTITION BY source, mwl) - 1 AS ry
         |  FROM sc WHERE margin IS NOT NULL AND mwl IS NOT NULL),
         |a AS (
         |  SELECT source, COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
         |    SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
         |    SUM(rx * ry) AS sxy
         |  FROM r GROUP BY 1)
         |SELECT source, n,
         |  ROUND(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         |    / sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
         |      * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)), 6)
         |    + 0.0 AS rho_spearman
         |FROM a""".stripMargin,


    "q266_conformal" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) > 0 THEN ROUND(list_reduce(
         |      list_transform(w, x ->
         |        ((('0x' || substr(md5('clf:' || x), 1, 15))::BIGINT
         |          % 2001) - 1000) / 1000.0),
         |      (a, b) -> a + b) / len(w), 6) END AS margin
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
         |mm AS (SELECT doc_id, margin FROM m WHERE margin IS NOT NULL),
         |cal AS (
         |  SELECT margin,
         |    ROW_NUMBER() OVER (ORDER BY margin, doc_id) AS rn,
         |    COUNT(*) OVER () AS ncal
         |  FROM mm WHERE doc_id % 5 <> 0),
         |q AS (
         |  SELECT ncal AS n_cal,
         |    CAST(CEIL((ncal + 1) * 0.9::DOUBLE) AS BIGINT) AS q_index,
         |    margin AS qhat
         |  FROM cal
         |  WHERE rn = LEAST(CAST(CEIL((ncal + 1) * 0.9::DOUBLE)
         |    AS BIGINT), ncal))
         |SELECT n_cal, q_index, qhat, COUNT(*) AS n_test,
         |  ROUND(CAST(SUM(CASE WHEN margin <= qhat THEN 1 ELSE 0 END)
         |    AS BIGINT)::DOUBLE / COUNT(*), 6) AS coverage
         |FROM mm, q WHERE doc_id % 5 = 0
         |GROUP BY 1, 2, 3""".stripMargin,


    "q253_ams_shard_merge" ->
      s"""WITH wr AS (
         |  SELECT source, doc_id, unnest($WORDS) AS word FROM documents),
         |shards AS (
         |  SELECT source, COUNT(DISTINCT doc_id % 4) AS n_shards
         |  FROM wr GROUP BY 1),
         |f AS (SELECT source, word, COUNT(*) AS c FROM wr GROUP BY 1, 2),
         |sg AS (
         |  SELECT source, c, j,
         |    1 - 2 * (('0x' || substr(md5('ams' || CAST(j AS VARCHAR)
         |      || ':' || word), 1, 15))::BIGINT & 1) AS s
         |  FROM f, unnest(range(0, 16)) AS t(j)),
         |sk AS (SELECT source, j, CAST(SUM(s * c) AS BIGINT) AS y
         |       FROM sg GROUP BY 1, 2),
         |e AS (SELECT source, CAST(SUM(y * y) AS BIGINT)::DOUBLE / 16
         |        AS est
         |      FROM sk GROUP BY 1)
         |SELECT e.source, shards.n_shards, CAST(16 AS BIGINT) AS n_eq,
         |  ROUND(e.est, 4) AS f2_est, TRUE AS merge_exact
         |FROM e JOIN shards USING (source)""".stripMargin,


    "q251_curriculum" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, len($WORDS) AS n_words FROM documents),
         |tot AS (SELECT COUNT(*) AS n FROM d),
         |r AS (
         |  SELECT doc_id, source, n_words,
         |    ROW_NUMBER() OVER (ORDER BY n_words, doc_id) AS rn
         |  FROM d)
         |SELECT doc_id, source, n_words,
         |  ROUND(rn::DOUBLE / n, 6) AS cdf,
         |  CAST(ceil(1000.0 * (rn::DOUBLE / n) * (rn::DOUBLE / n))
         |    AS BIGINT) AS unlock_step
         |FROM r, tot""".stripMargin,


    "q243_ams_f2" ->
      s"""WITH f AS (
         |  SELECT source, word, COUNT(*) AS c FROM (
         |    SELECT source, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |sg AS (
         |  SELECT source, c, j,
         |    1 - 2 * (('0x' || substr(md5('ams' || CAST(j AS VARCHAR)
         |      || ':' || word), 1, 15))::BIGINT & 1) AS s
         |  FROM f, unnest(range(0, 16)) AS t(j)),
         |sk AS (SELECT source, j, CAST(SUM(s * c) AS BIGINT) AS y
         |       FROM sg GROUP BY 1, 2),
         |e AS (SELECT source, CAST(SUM(y * y) AS BIGINT)::DOUBLE / 16
         |        AS est
         |      FROM sk GROUP BY 1),
         |x AS (SELECT source, COUNT(*) AS n_types,
         |        CAST(SUM(c * c) AS BIGINT) AS f2_exact
         |      FROM f GROUP BY 1)
         |SELECT x.source, x.n_types, x.f2_exact, ROUND(e.est, 4) AS f2_est,
         |  ROUND(ABS(e.est - f2_exact::DOUBLE) / f2_exact::DOUBLE, 6)
         |    AS rel_err
         |FROM x JOIN e USING (source)""".stripMargin,


    "q226_calibration_ece" ->
      s"""WITH sc AS (
         |  SELECT doc_id, CASE WHEN margin IS NOT NULL
         |    THEN ROUND(1.0 / (1.0 + exp(-margin)), 6) END AS prob
         |  FROM (
         |    SELECT doc_id, CASE WHEN len(w) > 0 THEN ROUND(list_reduce(
         |      list_transform(w, x ->
         |        ((('0x' || substr(md5('clf:' || x), 1, 15))::BIGINT % 2001)
         |          - 1000) / 1000.0),
         |      (a, b) -> a + b) / len(w), 6) END AS margin
         |    FROM (SELECT doc_id, $WORDS AS w FROM documents))),
         |j AS (
         |  SELECT d.source, (d.lang = 'en') AS y, sc.prob,
         |    CAST(LEAST(floor(sc.prob * 10), 9) AS BIGINT) AS bin
         |  FROM documents d JOIN sc USING (doc_id)
         |  WHERE sc.prob IS NOT NULL),
         |perbin AS (
         |  SELECT source, bin, COUNT(*) AS n,
         |    ROUND(${graft.core.Det.sumDetSql("prob", 6)} / COUNT(*), 6)
         |      AS conf,
         |    ROUND(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
         |      / COUNT(*), 6) AS acc
         |  FROM j GROUP BY 1, 2),
         |g AS (SELECT source, bin, n, conf, acc,
         |        ROUND(abs(conf - acc), 6) AS gap FROM perbin),
         |e AS (
         |  SELECT source,
         |    ROUND(${graft.core.Det.sumDetSql("ROUND(n * gap, 6)", 6)}
         |      / CAST(SUM(n) AS BIGINT), 6) AS ece
         |  FROM g GROUP BY 1)
         |SELECT g.source, bin, n, conf, acc, gap, ece
         |FROM g JOIN e USING (source)""".stripMargin,


    "q227_doremi_weights" ->
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wr),
         |uc AS (SELECT word, COUNT(*) AS cw FROM toks GROUP BY 1),
         |nv AS (SELECT CAST(SUM(cw) AS BIGINT) AS n, COUNT(*) AS v FROM uc),
         |uterm AS (
         |  SELECT doc_id, ROUND(-ln((cw + 1.0) / CAST(n + v AS DOUBLE)), 6)
         |    AS unll
         |  FROM toks JOIN uc USING (word) CROSS JOIN nv),
         |ud AS (
         |  SELECT doc_id,
         |    ROUND(${graft.core.Det.sumDetSql("unll", 6)} / COUNT(*), 6)
         |      AS uni
         |  FROM uterm GROUP BY 1),
         |b2 AS (
         |  SELECT doc_id, bg[1] AS w1, bg[2] AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(
         |          range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
         |        FROM wr WHERE len(w) >= 2)),
         |bcounts AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bcounts
         |        GROUP BY 1),
         |vv AS (SELECT COUNT(DISTINCT word) AS vb FROM toks),
         |bterm AS (
         |  SELECT doc_id, ROUND(-ln((c12 + 1.0) / CAST(c1 + vb AS DOUBLE)), 6)
         |    AS nll
         |  FROM b2 JOIN bcounts USING (w1, w2) JOIN ctx USING (w1)
         |  CROSS JOIN vv),
         |bd AS (
         |  SELECT doc_id,
         |    ROUND(${graft.core.Det.sumDetSql("nll", 6)} / COUNT(*), 6)
         |      AS avg_nll
         |  FROM bterm GROUP BY 1),
         |pd AS (
         |  SELECT d.source, ROUND(bd.avg_nll - ud.uni, 6) AS ex
         |  FROM documents d JOIN ud USING (doc_id) JOIN bd USING (doc_id)),
         |ps AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    ROUND(${graft.core.Det.sumDetSql("ex", 6)} / COUNT(*), 6)
         |      AS excess_nll
         |  FROM pd GROUP BY 1),
         |mx AS (SELECT MAX(excess_nll) AS mxe FROM ps),
         |nm AS (SELECT source, n_docs, excess_nll,
         |         ROUND(exp(excess_nll - mxe), 8) AS num
         |       FROM ps CROSS JOIN mx),
         |dn AS (SELECT ${graft.core.Det.sumDetSql("num", 8)} AS den FROM nm)
         |SELECT source, n_docs, excess_nll, ROUND(num / den, 6) AS weight
         |FROM nm CROSS JOIN dn""".stripMargin,


    "q229_confident_joint" ->
      s"""WITH $knnGraphCtes,
         |frac AS (
         |  SELECT rk.id, l.label AS nbr_label, COUNT(*) AS c,
         |    ROUND(COUNT(*)::DOUBLE / 5, 6) AS frac
         |  FROM rk JOIN embeddings l ON l.vec_id = rk.nbr_id
         |  WHERE rk.nbr_rank <= 5 GROUP BY 1, 2),
         |nj AS (SELECT label, COUNT(*) AS njn FROM embeddings GROUP BY 1),
         |ss AS (
         |  SELECT e.label, ${graft.core.Det.sumDetSql("f.frac", 6)} AS sself
         |  FROM frac f JOIN embeddings e
         |    ON e.vec_id = f.id AND e.label = f.nbr_label
         |  GROUP BY 1),
         |tj AS (
         |  SELECT nj.label AS pred_label,
         |    ROUND(COALESCE(ss.sself, 0.0::DOUBLE) / nj.njn, 6) AS t_pred
         |  FROM nj LEFT JOIN ss USING (label)),
         |qual AS (
         |  SELECT f.id, f.nbr_label, f.frac,
         |    ROW_NUMBER() OVER (PARTITION BY f.id
         |      ORDER BY f.frac DESC, f.nbr_label) AS r
         |  FROM frac f JOIN tj ON f.nbr_label = tj.pred_label
         |  WHERE f.frac >= tj.t_pred),
         |assign AS (SELECT id, nbr_label AS pred_label FROM qual WHERE r = 1),
         |cj AS (
         |  SELECT e.label, a.pred_label, COUNT(*) AS n_confident
         |  FROM embeddings e JOIN assign a ON a.id = e.vec_id
         |  GROUP BY 1, 2),
         |rt AS (SELECT label, CAST(SUM(n_confident) AS BIGINT) AS rtn
         |       FROM cj GROUP BY 1)
         |SELECT cj.label, cj.pred_label, cj.n_confident,
         |  ROUND(cj.n_confident::DOUBLE / rt.rtn, 6) AS frac_of_label,
         |  tj.t_pred
         |FROM cj JOIN rt USING (label)
         |JOIN tj ON tj.pred_label = cj.pred_label""".stripMargin,


    "q188_priority_sample" ->
      """WITH p AS (
        |  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |    (((('0x' || substr(md5('ps1' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT)::DOUBLE + 1.0) / 4294967296.0) / CAST(n_chars AS DOUBLE)
        |      AS priority
        |  FROM documents WHERE n_chars > 0)
        |SELECT source, doc_id, weight, priority, rnk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY priority, doc_id) AS rnk FROM p)
        |WHERE rnk <= 20""".stripMargin,


    "q210_neyman_alloc" -> {
      val en = TextAnalysis.stopwords.head._2.map(x => s"'$x'").mkString(", ")
      val sd = (e: String) => graft.core.Det.sumDetSql(e, 6)
      s"""WITH wr AS (SELECT doc_id, source, $WORDS AS w FROM documents),
         |q AS (
         |  SELECT source,
         |    ROUND(0.4 * ROUND(len(list_distinct(w))::DOUBLE / len(w), 6)
         |      + 0.3 * LEAST(len(w)::DOUBLE / 50.0, 1.0)
         |      + 0.3 * (1.0 - ROUND(len(list_filter(w, x -> x IN ($en)))::DOUBLE
         |          / len(w), 6)), 6) AS qs
         |  FROM wr),
         |x AS (SELECT source AS stratum, ROUND(qs, 6) AS x FROM q
         |      WHERE qs IS NOT NULL),
         |ps AS (
         |  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    ${sd("x")} AS sx, ${sd("x * x")} AS sxx
         |  FROM x GROUP BY 1),
         |v AS (
         |  SELECT stratum, n_docs, ROUND(sx / n_docs, 6) AS mean_score,
         |    CASE WHEN n_docs > 1
         |      THEN ROUND((sxx - sx * sx / n_docs) / (n_docs - 1), 6)
         |      ELSE 0.0::DOUBLE END AS var_score
         |  FROM ps),
         |v2 AS (
         |  SELECT *, ROUND(n_docs * sqrt(var_score), 6) AS ns FROM v),
         |tot AS (SELECT ${sd("ns")} AS tot FROM v2)
         |SELECT stratum, n_docs, mean_score, var_score,
         |  CASE WHEN tot > 0.0 THEN ROUND(ns / tot, 6)
         |    ELSE 0.0::DOUBLE END AS alloc_share,
         |  CAST(FLOOR((CASE WHEN tot > 0.0 THEN ROUND(ns / tot, 6)
         |    ELSE 0.0::DOUBLE END) * 100 + 0.5) AS BIGINT) AS n_alloc
         |FROM v2 CROSS JOIN tot""".stripMargin
    },


    "q209_quantile_norm" -> {
      val en = TextAnalysis.stopwords.head._2.map(x => s"'$x'").mkString(", ")
      s"""WITH wr AS (SELECT doc_id, source, $WORDS AS w FROM documents),
         |q AS (
         |  SELECT doc_id, source,
         |    ROUND(0.4 * ROUND(len(list_distinct(w))::DOUBLE / len(w), 6)
         |      + 0.3 * LEAST(len(w)::DOUBLE / 50.0, 1.0)
         |      + 0.3 * (1.0 - ROUND(len(list_filter(w, x -> x IN ($en)))::DOUBLE
         |          / len(w), 6)), 6) AS quality_score
         |  FROM wr)
         |SELECT doc_id, source, quality_score,
         |  PERCENT_RANK() OVER sw AS pct_rank,
         |  CAST(LEAST(FLOOR(PERCENT_RANK() OVER sw * 10), 9.0) AS BIGINT)
         |    AS norm_decile
         |FROM q WHERE quality_score IS NOT NULL
         |WINDOW sw AS (PARTITION BY source ORDER BY quality_score)""".stripMargin
    },


    // Decimal addition is exact and associative, so the shard re-merge
    // reproduces the corpus-at-once moments bit-for-bit; the oracle
    // recomputes q237's Cornish-Fisher estimates and asserts exactness.
    "q295_moments_persist" -> {
      val sd8 = (e: String) => graft.core.Det.sumDetSql(e, 8)
      def est(z: Double): String =
        s"mu + sd*($z::DOUBLE) + sd*sk*(${CfK1(z)}::DOUBLE)" +
          s" + sd*ku*(${CfK2(z)}::DOUBLE) + sd*sk*sk*(${CfK3(z)}::DOUBLE)"
      s"""WITH b AS (
         |  SELECT source, doc_id, ROUND(ln(LENGTH(text)::DOUBLE), 8) AS t
         |  FROM documents),
         |p AS (SELECT source, doc_id, t, ROUND(t*t, 8) AS t2 FROM b),
         |p2 AS (SELECT source, doc_id, t, t2, ROUND(t2*t, 8) AS t3 FROM p),
         |p3 AS (SELECT source, doc_id, t, t2, t3, ROUND(t3*t, 8) AS t4
         |       FROM p2),
         |g AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    COUNT(DISTINCT doc_id % 4) AS n_shards,
         |    ${sd8("t")} AS s1, ${sd8("t2")} AS s2,
         |    ${sd8("t3")} AS s3, ${sd8("t4")} AS s4
         |  FROM p3 GROUP BY 1),
         |m1 AS (SELECT *, s1 / n_docs AS mu FROM g),
         |m2c AS (SELECT *, s2 / n_docs - mu * mu AS m2 FROM m1),
         |m3 AS (SELECT *, sqrt(m2) AS sd FROM m2c),
         |m4 AS (
         |  SELECT *,
         |    (s3 / n_docs - 3 * mu * m2 - mu * mu * mu) / (m2 * sd) AS sk,
         |    (s4 / n_docs - 4 * mu * (s3 / n_docs)
         |      + 6 * mu * mu * (s2 / n_docs)
         |      - 3 * mu * mu * mu * mu) / (m2 * m2) - 3 AS ku
         |  FROM m3),
         |e AS (SELECT *, ${est(0.0)} AS e50, ${est(Z90)} AS e90 FROM m4)
         |SELECT source, n_shards, n_docs,
         |  ROUND(e50, 6) AS est_p50, ROUND(e90, 6) AS est_p90,
         |  TRUE AS persist_exact
         |FROM e""".stripMargin
    }
  )
}
