package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pin.Syntax
import graft.core.Tables
import graft.llm.{Dedup, EmbeddingOps, Multimodal, Pipeline, Similarity, TextAnalysis, TextOps, VectorOps}

/** Deduplication / decontamination operators: exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, SemDeDup, ExactSubstr spans, winnowing,
  * sketches-for-overlap. Split from LlmQueries (r16 verdict #8) —
  * entries and oracles moved verbatim; shared SQL helpers live in
  * [[LlmQueries]]. */
object LlmDedupQueries {

  import LlmQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")),


    "q21_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 8)
        .select(col("doc_id"), concat_ws(",", col("mh")).as("sig"))),


    "q22_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.0)),


    // Incremental dedup: the upper-id half of the corpus arrives as the
    // "new batch" and dedups against the lower-id half as the persisted
    // index — band join is new x index, never a corpus self-join.
    "q119_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val k = docs.count() / 2
      Dedup.minhashPairsIncremental(
        docs.filter(col("doc_id") >= k), docs.filter(col("doc_id") < k),
        "doc_id", "text", shingleN = 3, numHashes = 8, numBands = 4)
    }),


    // Chunk-level keep-first dedup with cleaned-text rewrite: disjoint
    // 10-word blocks, first occurrence corpus-wide survives.
    "q120_block_dedup" -> ((s, dir) =>
      Dedup.dedupBlocks(Tables.documents(s, dir), "doc_id", "text",
        blockWords = 10)),


    "q23_simhash" -> ((s, dir) =>
      Dedup.simhashFingerprints(Tables.documents(s, dir), "doc_id", "text")),


    "q24_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        numBands = 4, maxHamming = 10)),


    "q25_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.05)),


    "q61_embed_dup" -> ((s, dir) =>
      Similarity.embeddingDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.3)),


    "q69_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)),


    "q79_repetition" -> ((s, dir) =>
      Pipeline.repetitionStats(Tables.documents(s, dir), "doc_id", "text")),


    "q81_decontam" -> ((s, dir) =>
      Pipeline.decontaminate(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 5, trainPermille = 900)),


    // Bloom-pre-filtered decontamination: same result set as q81 (the
    // probe admits every true match; the exact join discards the fpp
    // trickle), but the train-side shuffle carries only probable matches
    // — the 100 TB shape. Shares q81's oracle SQL verbatim.
    "q118_decontam_bloom" -> ((s, dir) =>
      Pipeline.decontaminateBloom(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 5, trainPermille = 900)),


    "q83_semdedup" -> ((s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.3)), // nList auto-derived as ceil(sqrt(N)),


    "q84_rep_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 10)),


    // Lee et al. 2021 cross-doc duplicate 5-gram fraction — the corpus-
    // level dedup-pressure metric complementing q84's within-doc spans.
    "q103_dup_ngrams" -> ((s, dir) =>
      Dedup.dupNgramFraction(Tables.documents(s, dir), "doc_id", "text")),


    // Asymmetric containment dedup (Broder): rare-shingle-blocked
    // candidates, exact |A∩B|/|A| and /|B| confined to candidates — the
    // doc-embedded-in-doc dup class MinHash-LSH misses.
    "q127_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, maxDf = 5, threshold = 0.3, prefixK = 5)),


    // Continuation-boundary duplicates: A's last 3 words == B's first 3
    // words (the split-document class invisible to Jaccard/MinHash).
    "q136_stitch_pairs" -> ((s, dir) =>
      Dedup.stitchPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 3, maxDf = 10)),


    // Keep-best-of-cluster canonical selection: q69's clusters + q27's
    // quality score -> one argmax document per near-dup cluster.
    "q137_canonical_docs" -> ((s, dir) =>
      Dedup.canonicalDocs(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.3)),


    // Cross-source duplication report: verified near-dup pairs attributed
    // to their unordered source pair (the crawl-overlap signal).
    "q138_cross_source" -> ((s, dir) =>
      Dedup.crossSourceDups(Tables.documents(s, dir), "doc_id", "text",
        "source", threshold = 0.3)),


    // Exact-substring duplicate spans (Lee et al. 2021): per-doc fraction
    // of tokens inside the union of corpus-duplicated 8-word windows.
    "q145_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)),


    // Exact train→eval contamination spans (Lee et al. 2021 applied to
    // benchmark decontamination): longest verbatim-shared word run per
    // train doc against the eval split — the exact counterpart of q118's
    // Bloom screen and the cross-SET form of q145.
    "q215_contamination_span" -> ((s, dir) =>
      Dedup.contaminationSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 8, evalMod = 97)),


    // Dedup-aware split assignment: the FIX for what q169 audits — the
    // md5 split bucket is keyed on the near-dup CLUSTER root, not the doc
    // id, so a duplicate family can never straddle train/val/test.
    // Singletons root at their own id; cluster members inherit the root's
    // split wholesale.
    "q216_cluster_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.dedupClusters(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)
      val bucket =
        conv(substr(md5(col("root").cast("string")), lit(1), lit(8)), 16, 10)
          .cast("long") % 100
      docs.select(col("doc_id"), col("source"))
        .join(clusters.select(col("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
        .select("doc_id", "source", "root", "split")
    }),


    // Cross-source overlap matrix from MERGED MinHash signatures
    // (Broder's union property — one mergeable signature per source, the
    // pairwise comparison is a groups²-sized table, never a corpus join).
    "q220_source_overlap" -> ((s, dir) => {
      val sigs = Dedup.mergedMinhash(Tables.documents(s, dir), "doc_id",
        "text", "source", shingleN = 3, numHashes = 8)
      val a = sigs.select(col("source").as("src_a"), col("mh").as("__ma"))
      val b = sigs.select(col("source").as("src_b"), col("mh").as("__mb"))
      // Explicit hint: the merged-sig table is |sources| rows, so the
      // inequality join must stay a BNLJ under ANY session conf — without
      // the hint, autoBroadcastJoinThreshold=-1 degrades it to a
      // CartesianProduct (the r13 plan-contract incident).
      a.join(broadcast(b), col("src_a") < col("src_b"))
        .withColumn("n_eq", expr(
          "size(filter(zip_with(__ma, __mb, (x, y) -> x = y), v -> v))")
          .cast("long"))
        .withColumn("est_jaccard", round(col("n_eq").cast("double") / 8, 6))
        .select("src_a", "src_b", "n_eq", "est_jaccard")
    }),


    // Shard-sketch persist + re-merge round trip — the workflow a 100 TB
    // incremental crawl actually runs (r13 verdict #5): per-shard
    // mergeable sketches (4 deterministic id-mod shards) go to parquet,
    // are read back, and re-merge by elementwise min into the per-source
    // corpus signature + KMV cardinality — verified position-for-position
    // against the corpus-at-once mergedMinhash (n_eq_sig must be the full
    // signature width). The text is scanned once, by the shard pass; the
    // merge touches only |shards|x|sources| sketch rows.
    "q231_sketch_shard_merge" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = s"${IoQueries.sinkDir}/q231_shard_sketches"
      graft.core.Tables.writeSmall(
        Dedup.shardSketches(docs, "doc_id", "text", "source",
          numShards = 4, shingleN = 3, numHashes = 8), path)
      val merged = Dedup.mergeShardSketches(graft.core.Tables.readStable(s, path), "source",
        numHashes = 8)
      val direct = Dedup.mergedMinhash(docs, "doc_id", "text", "source",
        shingleN = 3, numHashes = 8)
        .select(col("source"), col("mh").as("__direct"))
      merged.join(broadcast(direct), Seq("source"))
        .withColumn("n_eq_sig", expr(
          "size(filter(zip_with(mh, __direct, (x, y) -> x = y), v -> v))")
          .cast("long"))
        .select(col("source"), col("n_shards"), col("n_eq_sig"),
          col("est_kmv"), (col("n_eq_sig") === 8).as("merge_exact"))
    }),


    // Temporal n-gram novelty (memorization-risk / staleness signal):
    // treating doc_id as crawl order, a doc's novelty is the fraction
    // of its distinct 3-shingles it introduces to the corpus. Gram rows
    // ~ corpus tokens; first-seen is a window min over the gram key —
    // ONE scan and ONE gram-scale shuffle (the groupBy-then-join-back
    // alternative scans the corpus and shuffles gram rows twice; most
    // grams are unique, so partial aggregation buys nothing there).
    // Low-novelty docs are the boilerplate/near-dup suspects that
    // survive exact dedup.
    "q239_ngram_novelty" -> ((s, dir) => {
      // Pinned-count repartition BEFORE the CPU-bound shingle+md5 work:
      // the corpus is tiny in bytes, so the scan (and AQE) would run the
      // whole gram build in one task — q203's measured 10x trap.
      val grams = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("source"), col("doc_id"),
          explode(TextOps.shingles(TextOps.words(col("text")), 3)).as("g"))
        .select(col("source"), col("doc_id"),
          substring(md5(col("g")), 1, 16).as("__gk"))
      val wf = org.apache.spark.sql.expressions.Window.partitionBy("__gk")
      grams.withColumn("__first", min(col("doc_id")).over(wf))
        .groupBy("source", "doc_id")
        .agg(count(lit(1)).as("__n"),
          sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
            .as("__nov"))
        .withColumn("__r",
          round(col("__nov").cast("double") / col("__n"), 6))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__n")).as("n_grams"),
          round(graft.core.Det.avgDet(col("__r"), 6), 6).as("avg_novelty"),
          sum(when(col("__r") < 0.5, 1L).otherwise(0L)).as("n_low_novelty"))
    }),


    // Theta-sketch set DIFFERENCE (DataSketches a-not-b; Dasgupta et
    // al. 2016): |shingles(A) \ shingles(B)| for every ordered source
    // pair, from per-source bottom-k KMV sketches — the one set
    // operation the merged-MinHash overlap family (q219/q220) can't
    // express. theta = min(kth_a, kth_b); the estimate counts A's
    // retained values below theta that B's retained set lacks, scaled
    // by 1/theta. The corpus is touched ONCE (distinct-shingle scan +
    // per-source bottom-k via WindowGroupLimit); everything pairwise
    // runs on the sources x k retained table, broadcast-hinted so the
    // non-equi pair join can never degrade (q220's lesson). Audited
    // against the exact difference from a shingle equi-self-join.
    "q241_theta_diff" -> ((s, dir) => {
      val k = 64
      // Pinned-count repartition before the gram build (q203's trap —
      // see q239); the byte-tiny scan would otherwise hash in one task.
      val sh = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("source"),
          explode(TextOps.shingles(TextOps.words(col("text")), 3)).as("g"))
        .select(col("source"), substring(md5(col("g")), 1, 16).as("gk"))
        .distinct()
        .withColumn("__h", TextOps.wordHash60(col("gk")))
        .pin() // sketch side and exact side share one scan
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("__h"), col("gk"))
      val ret = sh.withColumn("__rnk", row_number().over(w))
        .filter(col("__rnk") <= k)
        .pin() // bounded sources x k rows; three consumers
      val kth = ret.filter(col("__rnk") === k)
        .select(col("source"), col("__h").as("__kth"))
      val pairsSrc = broadcast(kth.select(col("source").as("src_a"),
          col("__kth").as("__ka")))
        .join(broadcast(kth.select(col("source").as("src_b"),
          col("__kth").as("__kb"))), col("src_a") =!= col("src_b"))
        .withColumn("__theta", least(col("__ka"), col("__kb")))
      val below = pairsSrc
        .join(broadcast(ret.select(col("source").as("src_a"),
          col("gk"), col("__h"))), Seq("src_a"))
        .filter(col("__h") < col("__theta"))
      val r = below.join(
          broadcast(ret.select(col("source").as("src_b"), col("gk"))),
          Seq("src_b", "gk"), "left_anti")
        .groupBy("src_a", "src_b", "__theta")
        .agg(count(lit(1)).as("__r"))
      val est = pairsSrc.select(col("src_a"), col("src_b"), col("__theta"))
        .join(r, Seq("src_a", "src_b", "__theta"), "left")
        .na.fill(0L, Seq("__r"))
        .withColumn("est_diff", round(col("__r").cast("double") *
          lit(1152921504606846976L).cast("double") /
          col("__theta").cast("double"), 4))
      val nA = sh.groupBy(col("source").as("src_a"))
        .agg(count(lit(1)).as("n_a"))
      val inter = sh.select(col("source").as("src_a"), col("gk"))
        .join(sh.select(col("source").as("src_b"), col("gk")), Seq("gk"))
        .filter(col("src_a") =!= col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("__i"))
      est.join(broadcast(nA), Seq("src_a"))
        .join(inter, Seq("src_a", "src_b"), "left")
        .na.fill(0L, Seq("__i"))
        .withColumn("exact_diff", col("n_a") - col("__i"))
        .withColumn("rel_err",
          round(abs(col("est_diff") - col("exact_diff").cast("double")) /
            col("exact_diff").cast("double"), 6))
        .select("src_a", "src_b", "n_a", "est_diff", "exact_diff",
          "rel_err")
    }),


    // Sorted-neighborhood dedup (Hernandez & Stolfo 1995): sort each
    // source's docs by a normalized prefix key and compare only rows
    // within a w=2 window of the sort order — the classic blocking
    // alternative to LSH, O(n log n + n*w) instead of candidate
    // hashing. Spark-first: the sort is a per-source window (range
    // exchange distributes; no global single-partition order), the
    // window pairs are lead() columns, and the verifier is a
    // prefix-capped levenshtein (q189's guard) — no join ever
    // materializes beyond the lead width.
    "q242_snm_dedup" -> ((s, dir) => {
      val key = substring(lower(col("text")), 1, 40)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("__key"), col("doc_id"))
      val sorted = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), key.as("__key"))
        .withColumn("__id1", lead(col("doc_id"), 1).over(w))
        .withColumn("__k1", lead(col("__key"), 1).over(w))
        .withColumn("__id2", lead(col("doc_id"), 2).over(w))
        .withColumn("__k2", lead(col("__key"), 2).over(w))
      val cand = sorted.select(col("source"), col("doc_id").as("id_a"),
          col("__key").as("ka"), col("__id1").as("id_b"),
          col("__k1").as("kb"))
        .unionByName(sorted.select(col("source"),
          col("doc_id").as("id_a"), col("__key").as("ka"),
          col("__id2").as("id_b"), col("__k2").as("kb")))
        .filter(col("id_b").isNotNull)
      cand.withColumn("dist", levenshtein(col("ka"), col("kb")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("dist") <= 8, 1L).otherwise(0L)).as("n_matches"),
          round(graft.core.Det.avgDet(col("dist").cast("double"), 1), 4)
            .as("avg_dist"))
    }),


    // Feature-hashing collision curve (Weinberger et al., ICML 2009):
    // for bucket counts 2^8/2^10/2^12, the type- and token-mass
    // collision rates of the hashing trick over the corpus vocabulary —
    // the audit that sizes q128/q129's hashed feature spaces. One vocab
    // aggregate fanned out ×3; everything downstream is bucket-bounded.
    "q258_hash_collisions" -> ((s, dir) => {
      val vocab = Tables.documents(s, dir)
        .select(explode(TextOps.words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      vocab.select(col("w"), col("c"),
          explode(array(Seq(8, 10, 12).map(lit): _*)).as("k"))
        .withColumn("bucket", TextOps.wordHash60(col("w")) %
          when(col("k") === 8, 256L).when(col("k") === 10, 1024L)
            .otherwise(4096L))
        .groupBy("k", "bucket")
        .agg(count(lit(1)).as("__t"), sum(col("c")).as("__m"))
        .groupBy("k")
        .agg(sum(col("__t")).as("n_types"),
          count(lit(1)).as("n_buckets_used"),
          sum(when(col("__t") > 1, col("__t")).otherwise(0L))
            .as("__coll_t"),
          sum(col("__m")).as("__mass"),
          sum(when(col("__t") > 1, col("__m")).otherwise(0L))
            .as("__coll_m"))
        .select(col("k"), col("n_types"), col("n_buckets_used"),
          round(col("__coll_t").cast("double") / col("n_types"), 6)
            .as("type_collision_rate"),
          round(col("__coll_m").cast("double") / col("__mass"), 6)
            .as("mass_collision_rate"))
    }),


    // LSH (bands, rowsPerBand) S-curve audit over the corpus's OBSERVED
    // verified-pair Jaccard distribution: expected recall on true pairs
    // and expected false-candidate rate per layout — the audit that
    // sizes a signature store before committing it (Dedup.lshParamCurve).
    "q260_lsh_params" -> ((s, dir) =>
      Dedup.lshParamCurve(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("bands")),


    // Dedup-method Venn audit: the MinHash-LSH pair set vs the
    // SimHash-band pair set on the same corpus — |both|, each-only, and
    // the pair-set Jaccard; the governance check before swapping one
    // near-dup detector for another at 100 TB (both pair tables are the
    // bounded candidate sets; the full outer join is pair-keyed).
    "q291_dedup_venn" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val mh = Dedup.minhashPairs(docs, "doc_id", "text", shingleN = 3,
        numHashes = 8, numBands = 4, threshold = 0.3)
        .select(col("id_a"), col("id_b"), lit(1).as("__m"))
      val sh = Dedup.simhashPairs(docs, "doc_id", "text", numBands = 4,
        maxHamming = 10)
        .select(col("id_a"), col("id_b"), lit(1).as("__s"))
      mh.join(sh, Seq("id_a", "id_b"), "full")
        .agg(
          sum(when(col("__m") === 1 && col("__s") === 1, 1L).otherwise(0L))
            .as("n_both"),
          sum(when(col("__m") === 1 && col("__s").isNull, 1L).otherwise(0L))
            .as("n_minhash_only"),
          sum(when(col("__m").isNull && col("__s") === 1, 1L).otherwise(0L))
            .as("n_simhash_only"))
        .withColumn("pair_jaccard", round(col("n_both").cast("double") /
          (col("n_both") + col("n_minhash_only") + col("n_simhash_only")),
          6))
    }),


    // Distinct-shingle cardinality per source from the k-min-value sketch
    // the dedup signatures already carry, audited against the exact
    // distinct count in the same aggregation pass.
    "q228_kmv_cardinality" -> ((s, dir) =>
      Dedup.kmvCardinality(Tables.documents(s, dir), "doc_id", "text",
        "source", shingleN = 3, numHashes = 8)),


    // Incremental SemDeDup: vec_id % 10 == 0 plays the nightly batch,
    // the rest the persisted index — quantizer and cells from the index
    // side only, verification cell-confined.
    "q148_semdedup_incr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semDedupIncremental(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", threshold = 0.7)
    }),


    // Soft dedup: 1/cluster_size sampling weight per document on top of
    // the q69 near-dup clustering (singletons keep weight 1).
    "q155_soft_dedup" -> ((s, dir) =>
      Dedup.softDedupWeights(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)),


    // LSH banding audit: candidate precision of the (8 hash, 4 band)
    // MinHash layer vs exact Jaccard at 0.3.
    "q164_lsh_audit" -> ((s, dir) =>
      Dedup.lshAudit(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)),


    // Split-leakage audit: which holdout (test-split) documents have a
    // near-duplicate in the train split — the QA step that catches
    // contaminated eval sets AFTER hash splitting (random splits leak
    // near-dup clusters across the boundary by construction). Composes
    // the q144 md5-bucket split with the q119 incremental band join
    // (train = index side, test = new batch); per-source leak rates.
    "q169_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bucket = conv(substr(md5(col("doc_id").cast("string")),
        lit(1), lit(8)), 16, 10).cast("long") % 100
      val withB = docs.withColumn("__b", bucket)
      val leaked = Dedup.minhashPairsIncremental(
        withB.filter(col("__b") >= 90), withB.filter(col("__b") < 80),
        "doc_id", "text", shingleN = 3, numHashes = 8, numBands = 4,
        threshold = 0.3)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("__leaked", lit(1L))
      withB.filter(col("__b") >= 90).select(col("doc_id"), col("source"))
        .join(leaked, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_test"),
          sum(coalesce(col("__leaked"), lit(0L))).as("n_leaked"),
          round(sum(coalesce(col("__leaked"), lit(0L))).cast("double") /
            count(lit(1)), 6).as("leak_rate"))
    }),


    // Dup-graph shape QA: wedge/triangle census + transitivity of the
    // verified near-dup pair graph (clique-like clusters are safe to
    // collapse; chain-like ones signal transitive drift).
    "q170_dup_graph_stats" -> ((s, dir) =>
      Dedup.dupGraphStats(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)),


    // Record-linkage pairs: (lang × 10-char prefix) blocking, Levenshtein
    // verification over 40-char prefixes — catches the near-identical-
    // prefix duplicates shingle methods under-score.
    "q189_edit_pairs" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir), "doc_id", "text",
        "lang")),


    // Staged dedup verdict: exact keep-first, then near-dup clustering
    // over the survivors — the per-document decision table (verdict +
    // provenance) a corpus build materializes. The LLM-layer composed
    // lifecycle, q134's analog.
    "q196_dedup_verdict" -> ((s, dir) =>
      Dedup.dedupVerdict(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)),


    // Cross-signal curation diagnostic: per (source, within-source
    // quality decile), how much of the corpus is near-duplicated — the
    // "is our low-quality content also the duplicated content" question
    // that decides whether one filter subsumes the other. Deciles
    // partition by source (bounded window groups, the q172 argument),
    // dup flags ride the bounded cluster table.
    "q199_quality_dup_matrix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val qual = TextAnalysis.quality(docs, "doc_id", "text",
        extraCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("quality_score"))
      val dup = Dedup.dedupClusters(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)
        .select(col("doc_id"), lit(1).as("__dup"))
      qual.join(dup, Seq("doc_id"), "left")
        .withColumn("decile", ntile(10).over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("quality_score"), col("doc_id"))).cast("long"))
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__dup"), lit(0))).as("n_dup"),
          round(sum(coalesce(col("__dup"), lit(0))).cast("double")
            / count(lit(1)), 6).as("dup_rate"))
    }),


    // b-bit minwise hashing audit (Li & König 2010): per candidate pair,
    // exact Jaccard vs the full-signature estimate vs the 4-bit-slot
    // estimate with the 2^-b collision-floor correction — sizes the 16×
    // signature-store compression before a corpus-scale build.
    "q197_bbit_minhash" -> ((s, dir) =>
      Dedup.bbitMinhashEstimate(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, b = 4)),


    // Corpus snapshot diff: two deterministic "crawl generations" carved
    // from the documents table (old drops doc_id%11==0, new drops
    // doc_id%13==0 and revises doc_id%7==0), then the per-source
    // add/remove/change/unchanged audit. Content collapses to md5
    // digests before the one full-outer id join — text never shuffles.
    "q200_corpus_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 11 =!= 0)
      val neu = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      Pipeline.corpusDiff(old, neu, "doc_id", "text", "source")
    }),


    // Winnowing (MOSS) fingerprint overlap: windowed-min char-gram
    // selection guarantees any shared substring of >= k+w-1 chars yields
    // a shared fingerprint — the local-match detector that catches
    // partial plagiarism/boilerplate the whole-doc hash (q84) and
    // bag-of-shingles MinHash both miss.
    "q203_winnowing" -> ((s, dir) =>
      Dedup.winnowingPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 8, w = 4, maxDf = 10)),


    // Per-source boilerplate panel: top-3 16-char document prefixes and
    // suffixes with corpus shares — crawl templates concentrate there;
    // a high top-1 share means "strip before dedup/training".
    "q205_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplateGrams(Tables.documents(s, dir), "doc_id",
        "text", "source", gramLen = 16, topK = 3)),


    // Theta/KMV-sketch shard persist → re-merge (q241's sketch under
    // q231's incremental-crawl workflow): per (source, doc-shard)
    // bottom-k sketches write to parquet, reload, re-merge by
    // union-then-bottom-k, and must reproduce the corpus-at-once
    // bottom-k POSITION-FOR-POSITION (each corpus bottom-k element is
    // retained by its own shard, so the union is a superset — the KMV
    // mergeability invariant). est_distinct = (k−1)·2⁶⁰/kth.
    "q294_theta_persist" -> ((s, dir) => {
      val k = 64
      val path = s"${IoQueries.sinkDir}/q294_theta_shards"
      val sh = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("shard", pmod(col("doc_id"), lit(4L)))
        .select(col("shard"), col("source"),
          explode(TextOps.shingles(TextOps.words(col("text")), 3)).as("g"))
        .select(col("shard"), col("source"),
          substring(md5(col("g")), 1, 16).as("gk"))
        .distinct()
        .withColumn("__h", TextOps.wordHash60(col("gk")))
        .pin() // shard sketches + direct side share one scan
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy("shard", "source").orderBy(col("__h"), col("gk"))
      graft.core.Tables.writeSmall(
        sh.withColumn("__rnk", row_number().over(ws))
          .filter(col("__rnk") <= k)
          .select("shard", "source", "gk", "__h"), path)
      val shards = graft.core.Tables.readStable(s, path).pin()
      val wm = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("__h"), col("gk"))
      def bottomK(df: DataFrame) = df.select("source", "gk", "__h")
        .distinct().withColumn("__rnk", row_number().over(wm))
        .filter(col("__rnk") <= k)
      val merged = bottomK(shards)
      val direct = bottomK(sh)
      merged.select(col("source"), col("__rnk"),
          col("gk").as("__gm"), col("__h").as("__hm"))
        .join(direct.select(col("source"), col("__rnk"),
          col("gk").as("__gd"), col("__h").as("__hd")),
          Seq("source", "__rnk"), "full")
        .groupBy("source")
        .agg(count(lit(1)).as("n_retained"),
          sum(when(col("__gm") <=> col("__gd") &&
            col("__hm") <=> col("__hd"), 1L).otherwise(0L)).as("n_eq"),
          max(when(col("__rnk") === k, col("__hm"))).as("__kth"))
        .join(broadcast(shards.groupBy("source")
          .agg(countDistinct(col("shard")).as("n_shards"))), Seq("source"))
        .select(col("source"), col("n_shards"), col("n_retained"),
          col("n_eq"), (col("n_eq") === col("n_retained")).as("merge_exact"),
          round(lit((k - 1).toDouble) *
            lit(1152921504606846976L).cast("double") /
            col("__kth").cast("double"), 4).as("est_distinct"))
    }),


    // Exact duplicated-substring profile (Lee et al. 2022, ExactSubstr):
    // per source, the docs carrying ≥1 verbatim 8-token span that occurs
    // elsewhere in the corpus and the token mass inside such spans — the
    // partial-overlap memorization signal doc-level dedup cannot see.
    "q299_substring_dup" -> ((s, dir) =>
      Dedup.exactSubstringDupProfile(Tables.documents(s, dir), "doc_id",
        "text", "source", gramN = 8)),


    // ExactSubstr dup-key census persist → re-merge (q299's census under
    // the q294/q295 incremental-crawl workflow): per-shard gram-count
    // tables persist to parquet, reload, re-merge by one sum per key,
    // and must reproduce the corpus-at-once census key-for-key — the
    // memorization-risk audit run the way a real crawl would run it.
    "q300_substr_census_persist" -> ((s, dir) =>
      Dedup.exactSubstringCensusRoundTrip(Tables.documents(s, dir),
        "doc_id", "text", s"${IoQueries.sinkDir}/q300_substr_census",
        gramN = 8, numShards = 4)),


    // Within-doc duplicated 5-gram token mass (Rae et al. 2021, the
    // Gopher dup-n-gram repetition filters): the INTRA-doc complement
    // of q299 — a globally unique doc can still be internally
    // degenerate (loops, template stutter), a quality signal doc-level
    // and cross-doc dedup both miss. Flag threshold 1/5 compares as an
    // integer cross-multiply, never a double boundary.
    "q301_intradoc_dupgrams" -> ((s, dir) =>
      Dedup.intraDocDupGramProfile(Tables.documents(s, dir), "doc_id",
        "text", "source", gramN = 5, flagNum = 1, flagDen = 5)),


    // Cross-source verbatim leakage matrix: distinct 8-token windows
    // shared by each source pair, with containment + Jaccard — the
    // sub-document decontamination grain doc-level overlap (q138/q220)
    // cannot see.
    "q303_source_gram_leakage" -> ((s, dir) =>
      Dedup.sourceGramLeakage(Tables.documents(s, dir), "doc_id",
        "text", "source", gramN = 8)),


    // Verbatim-window doc-pair evidence: doc pairs sharing >= 2 rare
    // (df <= 8) 8-token windows - the pair-grain copying proof between
    // q299's corpus profile and q303's source matrix, df-guarded so the
    // fan-out is Sigma df^2 bounded, never all-pairs.
    "q307_substr_pairs" -> ((s, dir) =>
      Dedup.substrDocPairs(Tables.documents(s, dir), "doc_id", "text",
        gramN = 8, dfMax = 8, minShared = 2)),


    // Per-source crawl churn from MERGED MinHash signatures (Broder's
    // union property, the q220 machinery turned inward): each source's
    // old-batch signature vs its new-batch signature estimates the
    // shingle-set Jaccard across crawl generations - high churn flags a
    // source whose content rotates (news) vs accumulates (reference).
    // Sketch-sized state per source; the text scans once per batch.
    // The batch split is a SALTED md5 hash, not id parity: the synthetic
    // ids are round-robin by source, so parity correlates perfectly with
    // source and every source would land in exactly one half.
    "q308_source_churn" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def half(r: Long) = Dedup.mergedMinhash(
        docs.filter(conv(substring(md5(concat(lit("churn1"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2 === r), "doc_id",
        "text", "source", shingleN = 3, numHashes = 8)
      half(0L).select(col("source"), col("mh").as("__ma"))
        .join(half(1L).select(col("source"), col("mh").as("__mb")),
          Seq("source"))
        .withColumn("n_eq", expr(
          "size(filter(zip_with(__ma, __mb, (x, y) -> x = y), v -> v))")
          .cast("long"))
        .withColumn("est_jaccard", round(col("n_eq").cast("double") / 8, 6))
        .withColumn("est_churn",
          round(lit(1.0) - col("n_eq").cast("double") / 8, 6))
        .select("source", "n_eq", "est_jaccard", "est_churn")
    }),


    // Local-match method Venn at the DOC level (q291's register, turned
    // on the two sub-document detectors): winnowing char-gram
    // fingerprints vs ExactSubstr token windows - docs only one method
    // flags show each detector's blind spot (char-grams catch
    // whitespace/tokenization-robust overlap; token windows catch exact
    // verbatim runs). Both doc sets derive from BOUNDED df-guarded pair
    // tables, never corpus joins.
    "q310_local_dup_venn" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def docsOf(p: org.apache.spark.sql.DataFrame) =
        p.select(col("id_a").as("doc_id"))
          .unionAll(p.select(col("id_b").as("doc_id"))).distinct()
      val win = docsOf(Dedup.winnowingPairs(docs, "doc_id", "text",
        k = 8, w = 4, maxDf = 10)).withColumn("__w", lit(1L))
      val sub = docsOf(Dedup.substrDocPairs(docs, "doc_id", "text",
        gramN = 8, dfMax = 8, minShared = 2)).withColumn("__s", lit(1L))
      docs.select(col("doc_id"), col("source"))
        .join(win, Seq("doc_id"), "left")
        .join(sub, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__w").isNotNull && col("__s").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("__w").isNotNull && col("__s").isNull, 1L)
            .otherwise(0L)).as("n_win_only"),
          sum(when(col("__w").isNull && col("__s").isNotNull, 1L)
            .otherwise(0L)).as("n_substr_only"),
          sum(when(col("__w").isNull && col("__s").isNull, 1L)
            .otherwise(0L)).as("n_neither"))
    }),


    // Variable-length duplicated-span statistics (the true ExactSubstr
    // grain): per (source, log2-length bucket), the span-length
    // histogram of maximal cross-doc duplicated runs plus the count of
    // docs whose LONGEST span lands in the bucket - "one 400-token
    // verbatim block" vs "fifty scattered 8-token spans" at equal mass,
    // the distinction q299's token-mass rollup cannot see.
    "q315_dup_span_hist" -> ((s, dir) =>
      Dedup.dupSpanHistogram(Tables.documents(s, dir), "doc_id",
        "text", "source", gramN = 8)),

    // INCREMENTAL span census (the q300 persist->re-merge discipline
    // composed with the q315 span walk - the weekly-crawl form): each
    // doc shard persists its gram census `gk -> count` to parquet,
    // the pipeline reloads and re-merges by ONE sum per key, and the
    // span walk runs off the merged duplicated-key set. Count merging
    // is integer-exact, so the result must be bit-identical to the
    // from-scratch q315 build - certified by sharing q315's oracle.
    "q320_span_census_incr" -> ((s, dir) =>
      Dedup.dupSpanHistogram(Tables.documents(s, dir),
        "doc_id", "text", "source", gramN = 8, census = Dedup.Census
          .Persist(s"${IoQueries.sinkDir}/q320_span_census"))),

    // ExactSubstr DELETION (Lee et al. 2022, the step the paper ships):
    // every token inside a maximal cross-doc duplicated span is excised
    // and the doc re-emitted from surviving tokens - the ACT side of
    // q299's audit, as q313 is to q305. Per doc: token count, removed
    // count, surviving text (single-space normalized).
    "q316_remove_dup_spans" -> ((s, dir) =>
      Dedup.removeDupSpans(Tables.documents(s, dir), "doc_id", "text",
        gramN = 8)),

    // Threshold-matched deletion (Lee et al. 2022 ship a 50-token
    // minimum span; q316's every->=8-token excision is MORE aggressive
    // than the published recipe and would delete idiom/boilerplate-
    // adjacent legitimate text at corpus scale). minSpanLen = 16 - the
    // grain q315's histogram separates (bucket 5+, lengths >= 16) at
    // the sf0.01 doc sizes - keeps short duplicated idioms and excises
    // only long verbatim runs; the filter rides the span length the
    // pipeline already computed, before the coverage join.
    "q318_remove_spans_min16" -> ((s, dir) =>
      Dedup.removeDupSpans(Tables.documents(s, dir), "doc_id", "text",
        gramN = 8, minSpanLen = 16)),

    // INCREMENTAL deletion (the q320 census discipline driving q316's
    // excision - the weekly-crawl deletion job): per-shard persisted
    // gram censuses, re-merged by one sum per key, feed the span walk
    // and excision. Integer-exact merge => bit parity with the
    // from-scratch deletion, certified by sharing q316's oracle.
    "q321_remove_spans_incr" -> ((s, dir) =>
      Dedup.removeDupSpans(Tables.documents(s, dir),
        "doc_id", "text", gramN = 8, census = Dedup.Census
          .Persist(s"${IoQueries.sinkDir}/q321_span_census"))),

    // FIXED-POINT deletion (Lee et al. 2022's second-order effect,
    // closed): excision can stitch previously-distant tokens into NEW
    // duplicated windows, so the deletion iterates until a pass removes
    // nothing. Per doc: ORIGINAL token count, CUMULATIVE removed count,
    // converged text. This corpus converges after one excision pass
    // (the residual audit q317 reads zero), so the oracle is the 2-pass
    // unrolled CTE whose second pass provably removes nothing — and the
    // POSITIVE control (a fixture where pass 1 stitches a new dup 8-gram
    // and pass 2 must fire) is AnalyticsSpec's stitch fixture.
    "q322_remove_fixed_point" -> ((s, dir) =>
      Dedup.removeDupSpansToFixedPoint(Tables.documents(s, dir),
        "doc_id", "text", gramN = 8)),

    // CROSS-RUN deletion (the public weekly-crawl deletion job, r18
    // verdict #3): each generation writes its own gram-census shard in
    // an INDEPENDENT call; the deletion run globs the census root,
    // sum-merges (integer-exact), and excises against the merged
    // duplicated-key set — never re-scanning prior generations' text.
    // Bit parity with the from-scratch deletion is certified by sharing
    // q316's oracle; a missing generation shard fails loudly via the
    // coverage guard instead of silently under-deleting.
    "q323_remove_from_census" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = s"${IoQueries.sinkDir}/q323_census_gens"
      Dedup.writeSpanCensusShard(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L),
        "doc_id", "text", s"$root/genA", gramN = 8)
      Dedup.writeSpanCensusShard(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L),
        "doc_id", "text", s"$root/genB", gramN = 8)
      Dedup.removeDupSpans(docs, "doc_id", "text", gramN = 8,
        census = Dedup.Census.Glob(s"$root/*"))
    }),

    // Deletion EFFICACY at the corpus grain - the paper's fixed-point
    // check run in-oracle: q299's audit over q316's CLEANED corpus.
    // The residual dup mass is the NEW windows excision stitches
    // together from previously-distant tokens (Lee et al. 2022 report
    // the same second-order effect); per source it must be a small
    // fraction of the pre-removal dup mass (IvfSplitSpec's batch
    // sibling asserts zero on stitch-free geometry; the corpus number
    // rides this query).
    "q317_remove_reaudit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cleaned = Dedup.removeDupSpans(docs, "doc_id", "text", gramN = 8)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("doc_id"),
          col("text_clean").as("text"))
      Dedup.exactSubstringDupProfile(cleaned, "doc_id", "text", "source",
        gramN = 8)
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q20_dedup_exact" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,


    "q21_minhash_sig" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${shinglesSql(3)} AS shingles
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents))
         |SELECT doc_id, array_to_string(
         |  list_transform(range(0, 8), j -> $MINHASH_SQL), ',') AS sig
         |FROM sh WHERE len(shingles) > 0""".stripMargin,


    "q22_minhash_pairs" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${shinglesSql(3)} AS shingles
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
         |sig AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 8), j -> $MINHASH_SQL) AS mh
         |  FROM sh WHERE len(shingles) > 0),
         |bands AS (
         |  SELECT doc_id, shingles, b AS band_idx,
         |    mh[2*b+1] * 2147483648 + mh[2*b+2] AS band_key
         |  FROM sig, unnest(range(0, 4)) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
         |    / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
         |FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b""".stripMargin,


    // q22's chain plus per-pair slot-match counts: the full-signature and
    // b=4-bit estimates against the exact verified jaccard. The b-bit
    // correction ((m/k − 2^-b)/(1 − 2^-b)) uses exact-binary constants
    // (0.0625 / 0.9375) in the Spark expression's parenthesization.
    "q197_bbit_minhash" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${shinglesSql(3)} AS shingles
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
         |sig AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 8), j -> $MINHASH_SQL) AS mh
         |  FROM sh WHERE len(shingles) > 0),
         |bands AS (
         |  SELECT doc_id, b AS band_idx,
         |    mh[2*b+1] * 2147483648 + mh[2*b+2] AS band_key
         |  FROM sig, unnest(range(0, 4)) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.doc_id < b.doc_id),
         |m AS (
         |  SELECT id_a, id_b,
         |    ROUND(len(list_intersect(ga.shingles, gb.shingles))::DOUBLE
         |      / len(list_distinct(ga.shingles || gb.shingles)), 6) AS jaccard,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> CASE WHEN ga.mh[i] = gb.mh[i] THEN 1 ELSE 0 END),
         |      (a, e) -> a + e) AS mm,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> CASE WHEN (ga.mh[i] % 16) = (gb.mh[i] % 16)
         |        THEN 1 ELSE 0 END), (a, e) -> a + e) AS mb
         |  FROM cand JOIN sig ga ON ga.doc_id = id_a
         |            JOIN sig gb ON gb.doc_id = id_b)
         |SELECT id_a, id_b, jaccard,
         |  ROUND(mm::DOUBLE / 8.0, 6) AS est_full,
         |  ROUND(((mb::DOUBLE / 8.0) - 0.0625) / 0.9375, 6) AS est_bbit
         |FROM m""".stripMargin,


    // q22's chain restricted to index(lower half) x new(upper half)
    // candidates — the incremental form; same signature and verification
    // arithmetic, so the shared-prefix CTEs match q22's verbatim.
    "q119_incremental_dedup" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${shinglesSql(3)} AS shingles
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
         |sig AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 8), j -> $MINHASH_SQL) AS mh
         |  FROM sh WHERE len(shingles) > 0),
         |bands AS (
         |  SELECT doc_id, shingles, b AS band_idx,
         |    mh[2*b+1] * 2147483648 + mh[2*b+2] AS band_key
         |  FROM sig, unnest(range(0, 4)) AS t(b)),
         |k AS (SELECT COUNT(*) // 2 AS k FROM documents),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key, k
         |  WHERE a.doc_id < k.k AND b.doc_id >= k.k)
         |SELECT id_a, id_b,
         |  ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
         |    / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
         |FROM cand JOIN sh sa ON sa.doc_id = id_a
         |  JOIN sh sb ON sb.doc_id = id_b""".stripMargin,


    // Disjoint 10-word blocks; rn=1 in (doc_id, start) order marks the
    // corpus-wide first occurrence; clean_text re-joins survivors in
    // offset order (COALESCE for the all-blocks-dropped doc, which the
    // Spark side renders as '').
    "q120_block_dedup" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS w FROM documents),
         |b AS (
         |  SELECT doc_id, s.start,
         |    array_to_string(w[s.start + 1 : s.start + 10], ' ') AS block
         |  FROM w, unnest(range(0, len(w), 10)) AS s(start)
         |  WHERE len(w) > 0),
         |f AS (
         |  SELECT doc_id, start, block,
         |    ROW_NUMBER() OVER (PARTITION BY block ORDER BY doc_id, start)
         |      AS rn
         |  FROM b)
         |SELECT doc_id, COUNT(*) AS n_blocks,
         |  COUNT(*) FILTER (WHERE rn > 1) AS n_dropped,
         |  COALESCE(string_agg(CASE WHEN rn = 1 THEN block END, ' '
         |    ORDER BY start), '') AS clean_text
         |FROM f GROUP BY 1""".stripMargin,


    "q23_simhash" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    list_transform($WORDS, w2 -> ('0x' || substr(md5(w2), 1, 15))::BIGINT) AS hs
         |  FROM documents WHERE len($WORDS) > 0)
         |SELECT doc_id, CAST(list_reduce(list_transform(range(0, 60), j ->
         |  CASE WHEN CAST(list_sum(list_transform(hs, x ->
         |      CASE WHEN ((x >> j) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
         |    THEN (1::BIGINT << j) ELSE 0::BIGINT END), (a, b) -> a + b) AS BIGINT) AS simhash
         |FROM h""".stripMargin,


    "q24_simhash_pairs" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    list_transform($WORDS, w2 -> ('0x' || substr(md5(w2), 1, 15))::BIGINT) AS hs
         |  FROM documents WHERE len($WORDS) > 0),
         |fp AS (
         |  SELECT doc_id, CAST(list_reduce(list_transform(range(0, 60), j ->
         |    CASE WHEN CAST(list_sum(list_transform(hs, x ->
         |        CASE WHEN ((x >> j) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
         |      THEN (1::BIGINT << j) ELSE 0::BIGINT END), (a, b) -> a + b) AS BIGINT) AS simhash
         |  FROM h),
         |bands AS (
         |  SELECT doc_id, simhash, b AS band_idx, (simhash >> (b * 15)) & 32767 AS band_val
         |  FROM fp, unnest(range(0, 4)) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS fp_a, b.doc_id AS id_b, b.simhash AS fp_b
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, bit_count(xor(fp_a, fp_b)) AS hamming
         |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 10""".stripMargin,


    "q25_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT source, doc_id, ${shinglesSql(2)} AS s
         |  FROM (SELECT source, doc_id, $WORDS AS w FROM documents))
         |SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
         |  ROUND(len(list_intersect(a.s, b.s))::DOUBLE
         |    / len(list_distinct(a.s || b.s)), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE len(a.s) > 0 AND len(b.s) > 0
         |  AND ROUND(len(list_intersect(a.s, b.s))::DOUBLE
         |    / len(list_distinct(a.s || b.s)), 6) >= 0.05""".stripMargin,


    // Transitive closure of the verified minhash pairs (threshold 0.3) via
    // a recursive CTE; cluster id = component minimum — value-identical to
    // the engine's min-label-propagation fixpoint.
    "q69_dedup_clusters" ->
      s"""WITH RECURSIVE $textClusterCtes
         |SELECT doc_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM comp""".stripMargin,


    "q79_repetition" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS w FROM documents),
         |ws AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct
         |       FROM w WHERE len(w) > 0),
         |bg AS (SELECT doc_id,
         |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
         |       FROM w),
         |bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |         MAX(c) AS max_bigram_n FROM bc GROUP BY 1)
         |SELECT doc_id, n_words, n_distinct,
         |  COALESCE(n_bigrams, 0) AS n_bigrams,
         |  COALESCE(max_bigram_n, 0) AS max_bigram_n,
         |  ROUND(1.0 - n_distinct::DOUBLE / n_words, 6) AS dup_word_frac,
         |  CASE WHEN COALESCE(n_bigrams, 0) > 0
         |    THEN ROUND(COALESCE(max_bigram_n, 0)::DOUBLE / n_bigrams, 6)
         |    ELSE 0.0 END AS top_bigram_frac,
         |  (CASE WHEN COALESCE(n_bigrams, 0) > 0
         |    THEN ROUND(COALESCE(max_bigram_n, 0)::DOUBLE / n_bigrams, 6)
         |    ELSE 0.0 END > 0.06)
         |  OR (ROUND(1.0 - n_distinct::DOUBLE / n_words, 6) > 0.55) AS flagged
         |FROM ws LEFT JOIN bs USING (doc_id)""".stripMargin,


    // q69's recursive cluster CTEs + q27's quality SELECT, argmax per
    // cluster with the same (score DESC, doc_id) tie order as max_by's
    // ordering struct.
    "q137_canonical_docs" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |q AS (SELECT doc_id, quality_score FROM ($qualitySelectSql)),
         |ranked AS (
         |  SELECT comp.cluster_id,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |    comp.doc_id AS kept_doc, q.quality_score AS kept_quality,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_score DESC, comp.doc_id) AS rn
         |  FROM comp JOIN q USING (doc_id))
         |SELECT cluster_id, cluster_size, kept_doc, kept_quality
         |FROM ranked WHERE rn = 1""".stripMargin,


    // Reuses the shared pairs CTE (threshold 0.3); the unused recursive
    // closure CTEs behind it are pruned by the optimizer.
    "q138_cross_source" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT LEAST(sa.source, sb.source) AS source_lo,
         |  GREATEST(sa.source, sb.source) AS source_hi,
         |  COUNT(*) AS n_pairs
         |FROM pairs
         |JOIN s sa ON sa.doc_id = id_a
         |JOIN s sb ON sb.doc_id = id_b
         |GROUP BY 1, 2""".stripMargin,


    "q136_stitch_pairs" ->
      s"""WITH b AS (
         |  SELECT doc_id, $WORDS AS w FROM documents),
         |bb AS (SELECT doc_id, w FROM b WHERE len(w) >= 3),
         |t AS (SELECT doc_id AS id_a, array_to_string(w[-3:], ' ') AS gram
         |      FROM bb),
         |h AS (SELECT doc_id AS id_b, array_to_string(w[1:3], ' ') AS gram
         |      FROM bb),
         |td AS (SELECT gram, COUNT(*) AS dft FROM t GROUP BY 1),
         |hd AS (SELECT gram, COUNT(*) AS dfh FROM h GROUP BY 1)
         |SELECT id_a, id_b, gram
         |FROM t JOIN td USING (gram) JOIN h USING (gram) JOIN hd USING (gram)
         |WHERE dft <= 10 AND dfh <= 10 AND id_a <> id_b""".stripMargin,


    // Mirrors Similarity.semDedup: q72's deterministic quantizer (16
    // lowest-id seeds), within-cell lower-id max cosine, keep when below
    // threshold. Assignment ranks UNROUNDED cosines (bit-identical dots),
    // the verify cosine rounds to 6 like every similarity surface.
    "q83_semdedup" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |cents AS ( -- nList = ceil(sqrt(N)), the FAISS sizing rule
         |  SELECT cent_id, c_emb, c_n2 FROM (
         |    SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2,
         |      ROW_NUMBER() OVER (ORDER BY vec_id) AS crn,
         |      COUNT(*) OVER () AS ccnt
         |    FROM n)
         |  WHERE crn <= CAST(ceil(sqrt(ccnt::DOUBLE)) AS BIGINT)),
         |ranked AS (
         |  SELECT n.vec_id, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |      ORDER BY ${dot("n.embedding", "cents.c_emb")} / sqrt(n.n2 * cents.c_n2) DESC,
         |               cent_id) AS rn
         |  FROM n CROSS JOIN cents),
         |cells AS (SELECT vec_id AS id, cent_id AS cell FROM ranked WHERE rn = 1),
         |sims AS (
         |  SELECT hi.cell, hi.id,
         |    MAX(ROUND(${dot("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2), 6)) AS max_sim
         |  FROM cells hi
         |  JOIN cells lo ON hi.cell = lo.cell AND lo.id < hi.id
         |  JOIN n a ON a.vec_id = hi.id
         |  JOIN n b ON b.vec_id = lo.id
         |  GROUP BY 1, 2)
         |SELECT cells.id, cells.cell, sims.max_sim,
         |  (sims.max_sim IS NULL OR sims.max_sim < 0.3) AS kept
         |FROM cells LEFT JOIN sims ON cells.id = sims.id""".stripMargin,


    // Reuses the shared pairs CTE; unused recursive closure CTEs behind
    // it are pruned by the optimizer (q138 precedent).
    "q170_dup_graph_stats" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |e AS (SELECT id_a AS u, id_b AS v FROM pairs),
         |nodes AS (
         |  SELECT COUNT(DISTINCT n) AS n_nodes
         |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)),
         |deg AS (
         |  SELECT n, COUNT(*) AS d
         |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
         |  GROUP BY 1),
         |w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
         |      FROM deg),
         |t AS (
         |  SELECT COUNT(*) AS n_tri
         |  FROM e e1 JOIN e e2 ON e1.v = e2.u
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         |SELECT nodes.n_nodes AS n_nodes,
         |  (SELECT COUNT(*) FROM e) AS n_edges,
         |  COALESCE(n_wedges, 0) AS n_wedges,
         |  CAST(n_tri AS BIGINT) AS n_triangles,
         |  CASE WHEN COALESCE(n_wedges, 0) > 0
         |    THEN ROUND(3.0::DOUBLE * n_tri / n_wedges, 6) END AS transitivity
         |FROM w, t, nodes""".stripMargin,


    "q169_split_leakage" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
         |      AS b
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, ${shinglesSql(3)} AS shingles
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
         |sig AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 8), j -> $MINHASH_SQL) AS mh
         |  FROM sh WHERE len(shingles) > 0),
         |bands AS (
         |  SELECT doc_id, b AS band_idx,
         |    mh[2*b+1] * 2147483648 + mh[2*b+2] AS band_key
         |  FROM sig, unnest(range(0, 4)) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM bands a
         |  JOIN d da ON da.doc_id = a.doc_id AND da.b < 80
         |  JOIN bands b2
         |    ON a.band_idx = b2.band_idx AND a.band_key = b2.band_key
         |  JOIN d db ON db.doc_id = b2.doc_id AND db.b >= 90),
         |ver AS (
         |  SELECT DISTINCT id_b FROM cand
         |  JOIN sh sa ON sa.doc_id = id_a
         |  JOIN sh sb ON sb.doc_id = id_b
         |  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
         |    / len(list_distinct(sa.shingles || sb.shingles)), 6) >= 0.3)
         |SELECT d.source, COUNT(*) AS n_test,
         |  CAST(SUM(CASE WHEN v.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_leaked,
         |  ROUND(CAST(SUM(CASE WHEN v.id_b IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT)::DOUBLE / COUNT(*), 6) AS leak_rate
         |FROM d LEFT JOIN ver v ON v.id_b = d.doc_id
         |WHERE d.b >= 90
         |GROUP BY 1""".stripMargin,


    "q164_lsh_audit" ->
      s"""WITH $lshCandCtes,
         |j AS (
         |  SELECT ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
         |      / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jacc
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
         |            JOIN sh sb ON sb.doc_id = cand.id_b)
         |SELECT COUNT(*) AS n_candidates,
         |  CAST(SUM(CASE WHEN jacc >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_verified,
         |  ROUND(CAST(SUM(CASE WHEN jacc >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         |    ::DOUBLE / COUNT(*), 6) AS cand_precision
         |FROM j""".stripMargin,


    "q155_soft_dedup" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |sz AS (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |  COALESCE(sz.n, 1) AS cluster_size,
         |  ROUND(1.0::DOUBLE / COALESCE(sz.n, 1), 6) AS weight
         |FROM documents d
         |LEFT JOIN comp c USING (doc_id)
         |LEFT JOIN sz ON sz.cluster_id = c.cluster_id""".stripMargin,


    "q84_rep_spans" -> {
      val span = (0 until 10).map(j => s"w[i+$j]").mkString(" || ' ' || ")
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |sp AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(list_transform(
         |          range(1, len(w) - 8), i -> $span)) AS s
         |        FROM wr WHERE len(w) >= 10)),
         |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM sp GROUP BY 1),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS n_spans,
         |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM sp JOIN nd USING (h) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_spans, 0) AS n_spans,
         |  COALESCE(n_dup, 0) AS n_dup_spans,
         |  CASE WHEN n_spans IS NOT NULL
         |    THEN ROUND(n_dup::DOUBLE / n_spans, 6) END AS dup_frac
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin
    },


    "q127_containment" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${shinglesSql(3)} AS s
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
         |r2 AS (
         |  SELECT DISTINCT doc_id, unnest(s) AS shingle
         |  FROM sh WHERE len(s) > 0),
         |dfq AS (SELECT shingle, COUNT(*) AS df FROM r2 GROUP BY 1),
         |rare AS (SELECT r2.doc_id, r2.shingle, df
         |         FROM r2 JOIN dfq USING (shingle) WHERE df <= 5),
         |pref AS (SELECT doc_id, shingle FROM (
         |  SELECT doc_id, shingle, ROW_NUMBER() OVER (
         |    PARTITION BY doc_id ORDER BY df, shingle) AS rn FROM rare)
         |  WHERE rn <= 5),
         |cand AS (
         |  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS id_a,
         |    GREATEST(a.doc_id, b.doc_id) AS id_b
         |  FROM pref a JOIN rare b USING (shingle)
         |  WHERE a.doc_id <> b.doc_id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, COUNT(*) AS i
         |  FROM cand c
         |  JOIN r2 ra ON ra.doc_id = c.id_a
         |  JOIN r2 rb ON rb.doc_id = c.id_b AND rb.shingle = ra.shingle
         |  GROUP BY 1, 2),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM r2 GROUP BY 1)
         |SELECT id_a, id_b,
         |  ROUND(i::DOUBLE / za.n, 6) AS cont_a,
         |  ROUND(i::DOUBLE / zb.n, 6) AS cont_b
         |FROM inter
         |JOIN sz za ON za.doc_id = id_a
         |JOIN sz zb ON zb.doc_id = id_b
         |WHERE greatest(ROUND(i::DOUBLE / za.n, 6),
         |               ROUND(i::DOUBLE / zb.n, 6)) >= 0.3""".stripMargin,


    "q81_decontam" -> decontamSql,


    // q118 is q81 with a Spark-side Bloom pre-filter that provably does
    // not change the result set — the oracle is the identical SQL.
    "q118_decontam_bloom" -> decontamSql,


    "q103_dup_ngrams" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${shinglesSql(5)}) AS shingle
         |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
         |c AS (SELECT shingle, COUNT(*) AS n FROM sh GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |  COUNT(*) FILTER (WHERE n > 1) AS n_dup_shingles,
         |  round_even(COUNT(*) FILTER (WHERE n > 1) / COUNT(*), 6) AS dup_frac
         |FROM sh JOIN c USING (shingle)
         |GROUP BY 1""".stripMargin,


    "q61_embed_dup" -> {
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |bands AS ($bandKeysSql),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.bi = b.bi AND a.bk = b.bk AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         |  ROUND(${dot("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2), 6) AS cos
         |FROM cand JOIN n a ON cand.id_a = a.vec_id
         |          JOIN n b ON cand.id_b = b.vec_id
         |WHERE ROUND(${dot("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2), 6) >= 0.3""".stripMargin
    },


    "q145_dup_spans" -> {
      val K = 8
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len($WORDS) AS BIGINT) AS n_words, $WORDS AS w
         |  FROM documents),
         |wins AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    array_to_string(list_slice(w, i + 1, i + $K), ' ') AS gram
         |  FROM base, unnest(range(0, n_words - $K + 1)) AS t(i)
         |  WHERE n_words >= $K),
         |dupg AS (SELECT gram FROM wins GROUP BY gram HAVING COUNT(*) > 1),
         |dup AS (SELECT doc_id, pos FROM wins JOIN dupg USING (gram)),
         |c AS (
         |  SELECT doc_id, pos,
         |    MAX(pos + $K - 1) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cme
         |  FROM dup),
         |cov AS (
         |  SELECT doc_id, CAST(SUM(GREATEST(
         |      pos + $K - 1 - GREATEST(pos, COALESCE(cme + 1, pos)) + 1, 0))
         |    AS BIGINT) AS covered_tokens
         |  FROM c GROUP BY 1)
         |SELECT b.doc_id, b.n_words,
         |  COALESCE(cov.covered_tokens, 0) AS covered_tokens,
         |  ROUND(COALESCE(cov.covered_tokens, 0)::DOUBLE / b.n_words, 6) AS dup_frac
         |FROM base b LEFT JOIN cov USING (doc_id)""".stripMargin
    },


    "q215_contamination_span" -> {
      val K = 8
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len($WORDS) AS BIGINT) AS n_words, $WORDS AS w
         |  FROM documents),
         |wins AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    array_to_string(list_slice(w, i + 1, i + $K), ' ') AS gram
         |  FROM base, unnest(range(0, n_words - $K + 1)) AS t(i)
         |  WHERE n_words >= $K),
         |eg AS (SELECT DISTINCT gram FROM wins WHERE doc_id % 97 = 0),
         |h AS (SELECT doc_id, pos FROM wins JOIN eg USING (gram)
         |      WHERE doc_id % 97 <> 0),
         |r AS (SELECT doc_id, pos,
         |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
         |          AS grp
         |      FROM h),
         |rl AS (SELECT doc_id, COUNT(*) AS len FROM r GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, CAST(SUM(len) AS BIGINT) AS n_hits,
         |          MAX(len) AS max_run
         |        FROM rl GROUP BY 1)
         |SELECT b.doc_id, b.n_words,
         |  GREATEST(b.n_words - ${K - 1}, 0) AS n_grams,
         |  COALESCE(a.n_hits, 0) AS n_hits,
         |  COALESCE(a.max_run, 0) AS max_run,
         |  CASE WHEN COALESCE(a.max_run, 0) > 0 THEN a.max_run + ${K - 1}
         |       ELSE 0 END AS span_tokens
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |WHERE b.doc_id % 97 <> 0""".stripMargin
    },


    "q216_cluster_split" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |r AS (
         |  SELECT d.doc_id, d.source,
         |    COALESCE(c.cluster_id, d.doc_id) AS root
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |b AS (
         |  SELECT doc_id, source, root,
         |    ('0x' || substr(md5(CAST(root AS VARCHAR)), 1, 8))::BIGINT % 100
         |      AS bk
         |  FROM r)
         |SELECT doc_id, source, root,
         |  CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,


    "q220_source_overlap" -> {
      val a = Dedup.HASH_A.mkString("[", ", ", "]")
      val b = Dedup.HASH_B.mkString("[", ", ", "]")
      s"""WITH sh AS (
         |  SELECT doc_id, source, unnest(${shinglesSql(3)}) AS shingle
         |  FROM (SELECT doc_id, source, $WORDS AS w FROM documents)),
         |h AS (
         |  SELECT source, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hb
         |  FROM sh),
         |sig AS (
         |  SELECT source, j,
         |    MIN((($a)[j+1] * hb + ($b)[j+1]) % ${Dedup.MINHASH_P}) AS mh
         |  FROM h, unnest(range(0, 8)) AS t(j) GROUP BY 1, 2)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(COUNT(*) FILTER (WHERE a.mh = b.mh) AS BIGINT) AS n_eq,
         |  ROUND((COUNT(*) FILTER (WHERE a.mh = b.mh))::DOUBLE / 8, 6)
         |    AS est_jaccard
         |FROM sig a JOIN sig b ON a.j = b.j AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin
    },


    // The parquet round trip is an identity, and min over a partition of
    // the rows is min over the rows — so the oracle computes the direct
    // per-source signature and the workflow's invariants: full-width
    // signature agreement and the KMV estimate off the merged minima.
    "q231_sketch_shard_merge" -> {
      val a = Dedup.HASH_A.mkString("[", ", ", "]")
      val b = Dedup.HASH_B.mkString("[", ", ", "]")
      s"""WITH sh AS (
         |  SELECT doc_id, source, unnest(${shinglesSql(3)}) AS shingle
         |  FROM (SELECT doc_id, source, $WORDS AS w FROM documents)),
         |h AS (
         |  SELECT doc_id, source,
         |    ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hb
         |  FROM sh),
         |sig AS (
         |  SELECT source, j,
         |    MIN((($a)[j+1] * hb + ($b)[j+1]) % ${Dedup.MINHASH_P}) AS mh
         |  FROM h, unnest(range(0, 8)) AS t(j) GROUP BY 1, 2),
         |ssum AS (
         |  SELECT source, CAST(SUM(mh) AS BIGINT) AS smh FROM sig GROUP BY 1),
         |shards AS (
         |  SELECT source, COUNT(DISTINCT doc_id % 4) AS n_shards FROM sh
         |  GROUP BY 1)
         |SELECT s.source, shards.n_shards, CAST(8 AS BIGINT) AS n_eq_sig,
         |  ROUND(8.0 * ${Dedup.MINHASH_P} / smh - 1.0, 2) AS est_kmv,
         |  TRUE AS merge_exact
         |FROM ssum s JOIN shards USING (source)""".stripMargin
    },


    "q239_ngram_novelty" ->
      s"""WITH wr AS (SELECT source, doc_id, $WORDS AS w FROM documents),
         |g AS (
         |  SELECT source, doc_id, substr(md5(sh), 1, 16) AS gk
         |  FROM (SELECT source, doc_id, unnest(${shinglesSql(3)}) AS sh
         |        FROM wr)),
         |fo AS (SELECT gk, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
         |d AS (
         |  SELECT g.source, g.doc_id, COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN fo.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nov
         |  FROM g JOIN fo USING (gk) GROUP BY 1, 2),
         |r AS (
         |  SELECT source, doc_id, n,
         |    ROUND(nov::DOUBLE / n, 6) AS rr
         |  FROM d)
         |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_grams,
         |  ROUND(${graft.core.Det.avgDetSql("rr", 6)}, 6) AS avg_novelty,
         |  CAST(SUM(CASE WHEN rr < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_low_novelty
         |FROM r GROUP BY 1""".stripMargin,


    "q258_hash_collisions" ->
      s"""WITH v AS (
         |  SELECT word, COUNT(*) AS c FROM (
         |    SELECT unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1),
         |kb AS (
         |  SELECT k,
         |    ('0x' || substr(md5(word), 1, 15))::BIGINT
         |      % (CASE WHEN k = 8 THEN 256 WHEN k = 10 THEN 1024
         |         ELSE 4096 END) AS bucket,
         |    c
         |  FROM v, unnest([8, 10, 12]) AS t(k)),
         |b AS (
         |  SELECT k, bucket, COUNT(*) AS t, CAST(SUM(c) AS BIGINT) AS m
         |  FROM kb GROUP BY 1, 2)
         |SELECT k, CAST(SUM(t) AS BIGINT) AS n_types,
         |  COUNT(*) AS n_buckets_used,
         |  ROUND(CAST(SUM(CASE WHEN t > 1 THEN t ELSE 0 END) AS BIGINT)
         |    ::DOUBLE / CAST(SUM(t) AS BIGINT), 6) AS type_collision_rate,
         |  ROUND(CAST(SUM(CASE WHEN t > 1 THEN m ELSE 0 END) AS BIGINT)
         |    ::DOUBLE / CAST(SUM(m) AS BIGINT), 6) AS mass_collision_rate
         |FROM b GROUP BY 1""".stripMargin,


    "q291_dedup_venn" ->
      s"""WITH $lshCandCtes,
         |mp AS (
         |  SELECT id_a, id_b FROM cand
         |  JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
         |  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))
         |    ::DOUBLE / len(list_distinct(sa.shingles || sb.shingles)), 6)
         |    >= 0.3),
         |hh AS (
         |  SELECT doc_id, list_transform($WORDS, w2 ->
         |    ('0x' || substr(md5(w2), 1, 15))::BIGINT) AS hs
         |  FROM documents WHERE len($WORDS) > 0),
         |fp AS (
         |  SELECT doc_id, CAST(list_reduce(list_transform(range(0, 60),
         |    j -> CASE WHEN CAST(list_sum(list_transform(hs, x ->
         |        CASE WHEN ((x >> j) & 1) = 1 THEN 1 ELSE -1 END))
         |        AS BIGINT) > 0
         |      THEN (1::BIGINT << j) ELSE 0::BIGINT END),
         |    (a, b) -> a + b) AS BIGINT) AS simhash
         |  FROM hh),
         |sbands AS (
         |  SELECT doc_id, simhash, b AS band_idx,
         |    (simhash >> (b * 15)) & 32767 AS band_val
         |  FROM fp, unnest(range(0, 4)) AS t(b)),
         |sp AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sbands a JOIN sbands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |  WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.simhash, b.simhash)) <= 10),
         |j AS (
         |  SELECT m.id_a IS NOT NULL AS in_m, s2.id_a IS NOT NULL AS in_s
         |  FROM mp m FULL JOIN sp s2
         |    ON m.id_a = s2.id_a AND m.id_b = s2.id_b)
         |SELECT
         |  CAST(SUM(CASE WHEN in_m AND in_s THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_both,
         |  CAST(SUM(CASE WHEN in_m AND NOT in_s THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_minhash_only,
         |  CAST(SUM(CASE WHEN NOT in_m AND in_s THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_simhash_only,
         |  ROUND(CAST(SUM(CASE WHEN in_m AND in_s THEN 1 ELSE 0 END)
         |    AS BIGINT)::DOUBLE / COUNT(*), 6) AS pair_jaccard
         |FROM j""".stripMargin,


    "q260_lsh_params" -> {
      def pw(x: String, e: Int): String =
        if (e == 1) x else { val h = pw(x, e / 2); s"($h * $h)" }
      val arms = Seq((2, 8), (4, 4), (8, 2), (16, 1)).map { case (b, r) =>
        val p = s"1.0 - ${pw(s"(1.0 - ${pw("j", r)})", b)}"
        s"""SELECT $b AS bands, $r AS rows_per_band, j,
           |  CAST(FLOOR(($p) * 1073741824 + 0.5) AS BIGINT) AS qp
           |  FROM pr""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $lshCandCtes,
         |pr AS (
         |  SELECT ROUND(len(list_intersect(sa.shingles, sb.shingles))
         |    ::DOUBLE / len(list_distinct(sa.shingles || sb.shingles)), 6)
         |    AS j
         |  FROM cand JOIN sh sa ON sa.doc_id = id_a
         |  JOIN sh sb ON sb.doc_id = id_b
         |  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))
         |    ::DOUBLE / len(list_distinct(sa.shingles || sb.shingles)), 6)
         |    >= 0.1),
         |fan AS ($arms)
         |SELECT bands, rows_per_band,
         |  CAST(SUM(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true_pairs,
         |  CASE WHEN CAST(SUM(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END)
         |      AS BIGINT) > 0
         |    THEN ROUND(CAST(SUM(CASE WHEN j >= 0.3 THEN qp ELSE 0 END)
         |      AS BIGINT)::DOUBLE / 1073741824
         |      / CAST(SUM(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END)
         |        AS BIGINT), 6) END AS exp_recall,
         |  CAST(SUM(CASE WHEN j < 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fp_cand,
         |  CASE WHEN CAST(SUM(CASE WHEN j < 0.3 THEN 1 ELSE 0 END)
         |      AS BIGINT) > 0
         |    THEN ROUND(CAST(SUM(CASE WHEN j < 0.3 THEN qp ELSE 0 END)
         |      AS BIGINT)::DOUBLE / 1073741824
         |      / CAST(SUM(CASE WHEN j < 0.3 THEN 1 ELSE 0 END)
         |        AS BIGINT), 6) END AS exp_fp_rate
         |FROM fan GROUP BY 1, 2
         |ORDER BY bands""".stripMargin
    },


    "q241_theta_diff" ->
      s"""WITH wr AS (SELECT source, doc_id, $WORDS AS w FROM documents),
         |sh AS (
         |  SELECT DISTINCT source, substr(md5(sg), 1, 16) AS gk
         |  FROM (SELECT source, unnest(${shinglesSql(3)}) AS sg FROM wr)),
         |hh AS (
         |  SELECT source, gk,
         |    ('0x' || substr(md5(gk), 1, 15))::BIGINT AS h
         |  FROM sh),
         |ret AS (SELECT * FROM (
         |  SELECT source, gk, h, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY h, gk) AS rnk
         |  FROM hh) WHERE rnk <= 64),
         |kth AS (SELECT source, h AS kth FROM ret WHERE rnk = 64),
         |pr AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    LEAST(a.kth, b.kth) AS theta
         |  FROM kth a JOIN kth b ON a.source <> b.source),
         |below AS (
         |  SELECT pr.src_a, pr.src_b, pr.theta, r.gk
         |  FROM pr JOIN ret r ON r.source = pr.src_a AND r.h < pr.theta),
         |rc AS (
         |  SELECT b.src_a, b.src_b, b.theta, COUNT(*) AS rr
         |  FROM below b LEFT JOIN ret rb
         |    ON rb.source = b.src_b AND rb.gk = b.gk
         |  WHERE rb.gk IS NULL
         |  GROUP BY 1, 2, 3),
         |e AS (
         |  SELECT pr.src_a, pr.src_b,
         |    ROUND(COALESCE(rc.rr, 0)::DOUBLE
         |      * CAST(1152921504606846976 AS DOUBLE)
         |      / pr.theta::DOUBLE, 4) AS est_diff
         |  FROM pr LEFT JOIN rc USING (src_a, src_b)),
         |na AS (SELECT source AS src_a, COUNT(*) AS n_a FROM sh GROUP BY 1),
         |it AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS i
         |  FROM sh a JOIN sh b ON a.gk = b.gk AND a.source <> b.source
         |  GROUP BY 1, 2)
         |SELECT e.src_a, e.src_b, na.n_a, e.est_diff,
         |  na.n_a - COALESCE(it.i, 0) AS exact_diff,
         |  ROUND(ABS(e.est_diff - (na.n_a - COALESCE(it.i, 0))::DOUBLE)
         |    / (na.n_a - COALESCE(it.i, 0))::DOUBLE, 6) AS rel_err
         |FROM e
         |JOIN na USING (src_a)
         |LEFT JOIN it ON it.src_a = e.src_a AND it.src_b = e.src_b"""
        .stripMargin,


    "q242_snm_dedup" ->
      s"""WITH k AS (
         |  SELECT source, doc_id, substr(lower(text), 1, 40) AS kk
         |  FROM documents),
         |l AS (
         |  SELECT source, doc_id AS id_a, kk AS ka,
         |    lead(doc_id, 1) OVER (PARTITION BY source
         |      ORDER BY kk, doc_id) AS id1,
         |    lead(kk, 1) OVER (PARTITION BY source
         |      ORDER BY kk, doc_id) AS k1,
         |    lead(doc_id, 2) OVER (PARTITION BY source
         |      ORDER BY kk, doc_id) AS id2,
         |    lead(kk, 2) OVER (PARTITION BY source
         |      ORDER BY kk, doc_id) AS k2
         |  FROM k),
         |c AS (
         |  SELECT source, id_a, ka, id1 AS id_b, k1 AS kb FROM l
         |  WHERE id1 IS NOT NULL
         |  UNION ALL
         |  SELECT source, id_a, ka, id2, k2 FROM l WHERE id2 IS NOT NULL),
         |d AS (SELECT source, levenshtein(ka, kb) AS dist FROM c)
         |SELECT source, COUNT(*) AS n_candidates,
         |  CAST(SUM(CASE WHEN dist <= 8 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_matches,
         |  ROUND(${graft.core.Det.avgDetSql("dist", 1)}, 4) AS avg_dist
         |FROM d GROUP BY 1""".stripMargin,


    "q228_kmv_cardinality" -> {
      val a = Dedup.HASH_A.mkString("[", ", ", "]")
      val b = Dedup.HASH_B.mkString("[", ", ", "]")
      s"""WITH sh AS (
         |  SELECT DISTINCT source, doc_id, shingle FROM (
         |    SELECT doc_id, source, unnest(${shinglesSql(3)}) AS shingle
         |    FROM (SELECT doc_id, source, $WORDS AS w FROM documents))),
         |h AS (
         |  SELECT source, shingle,
         |    ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hb
         |  FROM sh),
         |sig AS (
         |  SELECT source, j,
         |    MIN((($a)[j+1] * hb + ($b)[j+1]) % ${Dedup.MINHASH_P}) AS mh
         |  FROM h, unnest(range(0, 8)) AS t(j) GROUP BY 1, 2),
         |agg AS (
         |  SELECT s.source, e.n_exact, CAST(SUM(s.mh) AS BIGINT) AS smh
         |  FROM sig s JOIN (
         |    SELECT source, COUNT(DISTINCT shingle) AS n_exact
         |    FROM sh GROUP BY 1) e USING (source)
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT source, n_exact,
         |    ROUND(8.0::DOUBLE * ${Dedup.MINHASH_P} / smh - 1.0::DOUBLE, 2)
         |      AS est_kmv
         |  FROM agg)
         |SELECT source, n_exact, est_kmv,
         |  ROUND(abs(est_kmv - n_exact) / n_exact, 4) AS rel_err
         |FROM est""".stripMargin
    },


    // Mirrors Similarity.semDedupIncremental: quantizer (ceil(sqrt(N))
    // lowest-id seeds) and cell layout from the INDEX side only; new-batch
    // rows verified against index cell-mates with the 6-digit cosine.
    "q148_semdedup_incr" ->
      s"""WITH idx AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings WHERE vec_id % 10 <> 0),
         |nw AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |cents AS (
         |  SELECT cent_id, c_emb, c_n2 FROM (
         |    SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2,
         |      ROW_NUMBER() OVER (ORDER BY vec_id) AS crn,
         |      COUNT(*) OVER () AS ccnt
         |    FROM idx)
         |  WHERE crn <= CAST(ceil(sqrt(ccnt::DOUBLE)) AS BIGINT)),
         |cellsI AS (
         |  SELECT vec_id AS idx_id, cent_id AS cell FROM (
         |    SELECT idx.vec_id, cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY idx.vec_id
         |        ORDER BY ${dot("idx.embedding", "cents.c_emb")} / sqrt(idx.n2 * cents.c_n2) DESC,
         |                 cent_id) AS rn
         |    FROM idx CROSS JOIN cents) WHERE rn = 1),
         |cellsN AS (
         |  SELECT vec_id AS id, cent_id AS cell FROM (
         |    SELECT nw.vec_id, cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY nw.vec_id
         |        ORDER BY ${dot("nw.embedding", "cents.c_emb")} / sqrt(nw.n2 * cents.c_n2) DESC,
         |                 cent_id) AS rn
         |    FROM nw CROSS JOIN cents) WHERE rn = 1),
         |sims AS (
         |  SELECT cn.cell, cn.id,
         |    MAX(ROUND(${dot("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2), 6)) AS max_sim
         |  FROM cellsN cn
         |  JOIN cellsI ci ON cn.cell = ci.cell
         |  JOIN nw a ON a.vec_id = cn.id
         |  JOIN idx b ON b.vec_id = ci.idx_id
         |  GROUP BY 1, 2)
         |SELECT cellsN.id, cellsN.cell, sims.max_sim,
         |  (sims.max_sim IS NULL OR sims.max_sim < 0.7) AS kept
         |FROM cellsN LEFT JOIN sims ON cellsN.id = sims.id""".stripMargin,


    "q189_edit_pairs" ->
      """WITH k AS (
        |  SELECT lang || chr(1) || substr(text, 1, 10) AS block, doc_id AS id,
        |    substr(text, 1, 40) AS t
        |  FROM documents),
        |ok AS (SELECT block FROM k GROUP BY 1
        |       HAVING COUNT(*) > 1 AND COUNT(*) <= 1000),
        |i AS (SELECT k.* FROM k JOIN ok USING (block))
        |SELECT a.block, a.id AS id_a, b.id AS id_b,
        |  levenshtein(a.t, b.t) AS dist,
        |  ROUND(1.0::DOUBLE - levenshtein(a.t, b.t)::DOUBLE
        |    / GREATEST(length(a.t), length(b.t)), 6) + 0.0 AS sim
        |FROM i a JOIN i b ON a.block = b.block AND a.id < b.id
        |WHERE levenshtein(a.t, b.t) <= 15""".stripMargin,


    "q199_quality_dup_matrix" -> {
      val en = TextAnalysis.stopwords.head._2.map(x => s"'$x'").mkString(", ")
      s"""WITH RECURSIVE $textClusterCtes,
         |q AS (
         |  SELECT s.doc_id, d.source,
         |    ROUND(0.4 * ROUND(n_unique::DOUBLE / n_words, 6)
         |        + 0.3 * LEAST(n_words::DOUBLE / 50.0, 1.0)
         |        + 0.3 * (1.0 - ROUND(n_stop::DOUBLE / n_words, 6)), 6)
         |      AS quality_score
         |  FROM (SELECT doc_id, len(w) AS n_words,
         |          len(list_distinct(w)) AS n_unique,
         |          len(list_filter(w, x -> x IN ($en))) AS n_stop
         |        FROM (SELECT doc_id, $WORDS AS w FROM documents)) s
         |  JOIN documents d USING (doc_id)),
         |m AS (
         |  SELECT q.source, q.quality_score,
         |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup,
         |    NTILE(10) OVER (PARTITION BY q.source
         |      ORDER BY q.quality_score NULLS FIRST, q.doc_id) AS decile
         |  FROM q LEFT JOIN comp c ON c.doc_id = q.doc_id)
         |SELECT source, CAST(decile AS BIGINT) AS decile,
         |  COUNT(*) AS n_docs, CAST(SUM(dup) AS BIGINT) AS n_dup,
         |  ROUND(CAST(SUM(dup) AS BIGINT)::DOUBLE / COUNT(*), 6) AS dup_rate
         |FROM m GROUP BY 1, 2""".stripMargin
    },


    "q196_dedup_verdict" ->
      s"""WITH RECURSIVE $textClusterCtes,
         |ex AS (SELECT md5(text) AS h, MIN(doc_id) AS keep_id
         |       FROM documents GROUP BY 1),
         |we AS (SELECT d.doc_id, e.keep_id
         |       FROM documents d JOIN ex e ON md5(d.text) = e.h),
         |canon AS (
         |  SELECT c.cluster_id, MIN(c.doc_id) AS canon_id
         |  FROM comp c JOIN we ON we.doc_id = c.doc_id
         |  WHERE we.doc_id = we.keep_id GROUP BY 1)
         |SELECT w.doc_id,
         |  CASE WHEN w.doc_id <> w.keep_id THEN 'exact_dup'
         |       WHEN cn.canon_id IS NOT NULL AND w.doc_id <> cn.canon_id
         |         THEN 'near_dup'
         |       ELSE 'kept' END AS verdict,
         |  CASE WHEN w.doc_id <> w.keep_id THEN w.keep_id
         |       WHEN cn.canon_id IS NOT NULL AND w.doc_id <> cn.canon_id
         |         THEN cn.canon_id END AS dup_of
         |FROM we w
         |LEFT JOIN comp c ON c.doc_id = w.doc_id
         |LEFT JOIN canon cn ON cn.cluster_id = c.cluster_id""".stripMargin,


    "q200_corpus_diff" ->
      s"""WITH old AS (
         |  SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 0),
         |neu AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 0),
         |j AS (
         |  SELECT COALESCE(n.source, o.source) AS source,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN md5(o.text) = md5(n.text) THEN 'unchanged'
         |         ELSE 'changed' END AS status,
         |    COALESCE(length(o.text), 0) AS co,
         |    COALESCE(length(n.text), 0) AS cn
         |  FROM old o FULL JOIN neu n ON o.doc_id = n.doc_id)
         |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(co) AS BIGINT) AS chars_old,
         |  CAST(SUM(cn) AS BIGINT) AS chars_new
         |FROM j GROUP BY 1, 2""".stripMargin,


    "q203_winnowing" ->
      s"""WITH g AS (
         |  SELECT doc_id, lower(text) AS t, length(lower(text)) - 7 AS m
         |  FROM documents WHERE length(lower(text)) >= 11),
         |pk AS (
         |  SELECT doc_id, m, list_transform(range(0, m), i ->
         |    ('0x' || substr(md5(substr(t, CAST(i + 1 AS INT), 8)), 1, 8))::BIGINT
         |      * 1048576 + (1048575 - i)) AS p
         |  FROM g),
         |fp AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(0, m - 3),
         |    j -> list_aggregate(p[CAST(j + 1 AS INT):CAST(j + 4 AS INT)],
         |      'min')))) AS v
         |  FROM pk),
         |f AS (SELECT DISTINCT doc_id, v // 1048576 AS h FROM fp),
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
         |       FROM f GROUP BY 1),
         |dfh AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM f GROUP BY 1),
         |r AS (SELECT f.doc_id, f.h FROM f JOIN dfh USING (h) WHERE df <= 10),
         |sh AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM r a JOIN r b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  ROUND(n_shared::DOUBLE / LEAST(sa.sz, sb.sz), 6) AS overlap
         |FROM sh
         |JOIN sz sa ON sa.doc_id = sh.id_a
         |JOIN sz sb ON sb.doc_id = sh.id_b""".stripMargin,


    "q205_boilerplate" ->
      s"""WITH r AS (
         |  SELECT source, kind, gram FROM (
         |    SELECT source, lower(text) AS t FROM documents
         |    WHERE length(lower(text)) >= 16),
         |  LATERAL (VALUES ('prefix', substr(t, 1, 16)),
         |                  ('suffix', substr(t, length(t) - 15, 16)))
         |    AS v(kind, gram)),
         |c AS (
         |  SELECT source, kind, gram, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM r GROUP BY 1, 2, 3),
         |tot AS (
         |  SELECT source, kind, CAST(COUNT(*) AS BIGINT) AS tot
         |  FROM r GROUP BY 1, 2),
         |rk AS (
         |  SELECT source, kind, gram, n,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source, kind
         |      ORDER BY n DESC, gram) AS BIGINT) AS rank
         |  FROM c)
         |SELECT rk.source, rk.kind, rank, gram, n,
         |  ROUND(n::DOUBLE / tot, 6) AS share
         |FROM rk JOIN tot ON tot.source = rk.source AND tot.kind = rk.kind
         |WHERE rank <= 3""".stripMargin,


    // The merge is exact by the KMV invariant (each corpus bottom-k
    // element is retained by its own shard), so the oracle computes the
    // corpus-at-once bottom-k and asserts full positional agreement.
    "q294_theta_persist" ->
      s"""WITH wr AS (SELECT source, doc_id, $WORDS AS w FROM documents),
         |shd AS (
         |  SELECT DISTINCT doc_id % 4 AS shard, source,
         |    substr(md5(sg), 1, 16) AS gk
         |  FROM (SELECT doc_id, source, unnest(${shinglesSql(3)}) AS sg
         |        FROM wr)),
         |hh AS (
         |  SELECT source, gk, ('0x' || substr(md5(gk), 1, 15))::BIGINT AS h
         |  FROM (SELECT DISTINCT source, gk FROM shd)),
         |ret AS (SELECT * FROM (
         |  SELECT source, gk, h, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY h, gk) AS rnk
         |  FROM hh) WHERE rnk <= 64),
         |nsh AS (SELECT source, COUNT(DISTINCT shard) AS n_shards
         |        FROM shd GROUP BY 1),
         |agg AS (
         |  SELECT source, COUNT(*) AS n_retained,
         |    MAX(CASE WHEN rnk = 64 THEN h END) AS kth
         |  FROM ret GROUP BY 1)
         |SELECT a.source, nsh.n_shards, a.n_retained,
         |  a.n_retained AS n_eq, TRUE AS merge_exact,
         |  ROUND(63.0::DOUBLE * CAST(1152921504606846976 AS DOUBLE)
         |    / a.kth::DOUBLE, 4) AS est_distinct
         |FROM agg a JOIN nsh USING (source)""".stripMargin,


    "q299_substring_dup" -> {
      val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH wr AS (SELECT source, doc_id, $WORDS AS w FROM documents),
         |tok AS (
         |  SELECT source, doc_id, COUNT(*) AS nt
         |  FROM (SELECT source, doc_id, unnest(w) FROM wr) GROUP BY 1, 2),
         |g AS (
         |  SELECT doc_id, i - 1 AS pos, md5($gram) AS gk
         |  FROM wr, unnest(range(1, len(w) - 6)) AS t(i)),
         |dup AS (SELECT gk FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
         |f AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gk)),
         |m AS (
         |  SELECT doc_id, pos,
         |    MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM f),
         |sid AS (
         |  SELECT doc_id, pos,
         |    CAST(SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0
         |      END) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sp
         |  FROM m),
         |spans AS (
         |  SELECT doc_id, sp, MIN(pos) AS s0, MAX(pos + 8) AS e0
         |  FROM sid GROUP BY 1, 2),
         |pd AS (
         |  SELECT doc_id, CAST(SUM(e0 - s0) AS BIGINT) AS dup_t
         |  FROM spans GROUP BY 1)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN COALESCE(dup_t, 0) > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_dup,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(SUM(COALESCE(dup_t, 0)) AS BIGINT) AS n_dup_tokens,
         |  CAST(SUM(COALESCE(dup_t, 0)) AS BIGINT)::DOUBLE
         |    / CAST(SUM(nt) AS BIGINT)::DOUBLE AS dup_token_frac
         |FROM tok LEFT JOIN pd USING (doc_id) GROUP BY 1""".stripMargin
    },


    // The oracle mirrors the shard → merge arithmetic (not just the
    // direct census) so the BIGINT count grain and the full-outer
    // parity columns are computed the same way on both engines; the
    // parquet round-trip itself is the Spark-side subject under test.
    "q300_substr_census_persist" -> {
      val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |g AS (
         |  SELECT doc_id, md5($gram) AS gk
         |  FROM wr, unnest(range(1, len(w) - 6)) AS t(i)),
         |sc AS (
         |  SELECT doc_id % 4 AS shard, gk, COUNT(*) AS c
         |  FROM g GROUP BY 1, 2),
         |m AS (SELECT gk, CAST(SUM(c) AS BIGINT) AS cm FROM sc GROUP BY 1),
         |d AS (SELECT gk, COUNT(*) AS cd FROM g GROUP BY 1),
         |cmp AS (
         |  SELECT COUNT(*) AS n_keys,
         |    CAST(SUM(CASE WHEN cm >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup_keys_merged,
         |    CAST(SUM(CASE WHEN cd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup_keys_direct,
         |    CAST(SUM(CASE WHEN cm IS NOT DISTINCT FROM cd THEN 0 ELSE 1
         |      END) AS BIGINT) AS nmis
         |  FROM m FULL JOIN d USING (gk)),
         |dd AS (
         |  SELECT COUNT(DISTINCT doc_id) AS n_docs_dup
         |  FROM g WHERE gk IN (SELECT gk FROM m WHERE cm >= 2)),
         |ns AS (SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards
         |       FROM sc)
         |SELECT n_shards, n_keys, n_dup_keys_merged, n_dup_keys_direct,
         |  nmis = 0 AS merge_exact, n_docs_dup
         |FROM cmp, dd, ns""".stripMargin
    },


    "q301_intradoc_dupgrams" -> {
      val gram = (0 until 5).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH wr AS (SELECT source, doc_id, $WORDS AS w FROM documents),
         |tok AS (
         |  SELECT source, doc_id, COUNT(*) AS nt
         |  FROM (SELECT source, doc_id, unnest(w) FROM wr) GROUP BY 1, 2),
         |g AS (
         |  SELECT doc_id, i - 1 AS pos, md5($gram) AS gk
         |  FROM wr, unnest(range(1, len(w) - 3)) AS t(i)),
         |f AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      COUNT(*) OVER (PARTITION BY doc_id, gk) AS c FROM g)
         |  WHERE c >= 2),
         |m AS (
         |  SELECT doc_id, pos,
         |    MAX(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM f),
         |sid AS (
         |  SELECT doc_id, pos,
         |    CAST(SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0
         |      END) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sp
         |  FROM m),
         |spans AS (
         |  SELECT doc_id, sp, MIN(pos) AS s0, MAX(pos + 5) AS e0
         |  FROM sid GROUP BY 1, 2),
         |pd AS (
         |  SELECT doc_id, CAST(SUM(e0 - s0) AS BIGINT) AS dup_t
         |  FROM spans GROUP BY 1)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN COALESCE(dup_t, 0) * 5 > nt THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_docs_flagged,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(SUM(COALESCE(dup_t, 0)) AS BIGINT) AS n_dup_tokens,
         |  CAST(SUM(COALESCE(dup_t, 0)) AS BIGINT)::DOUBLE
         |    / CAST(SUM(nt) AS BIGINT)::DOUBLE AS dup_token_frac
         |FROM tok LEFT JOIN pd USING (doc_id) GROUP BY 1""".stripMargin
    },


    "q303_source_gram_leakage" -> {
      val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH wr AS (SELECT source, doc_id, $WORDS AS w FROM documents),
         |g AS (
         |  SELECT DISTINCT source, md5($gram) AS gk
         |  FROM wr, unnest(range(1, len(w) - 6)) AS t(i)),
         |t AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS n_shared_grams
         |  FROM g a JOIN g b ON a.gk = b.gk AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared_grams,
         |  ta.n AS n_grams_a, tb.n AS n_grams_b,
         |  n_shared_grams::DOUBLE / LEAST(ta.n, tb.n)::DOUBLE
         |    AS containment,
         |  n_shared_grams::DOUBLE / (ta.n + tb.n - n_shared_grams)::DOUBLE
         |    AS jaccard
         |FROM p JOIN t ta ON ta.source = p.source_a
         |       JOIN t tb ON tb.source = p.source_b""".stripMargin
    },


    "q307_substr_pairs" -> {
      val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id, md5($gram) AS gk
         |  FROM wr, unnest(range(1, len(w) - 6)) AS t(i)),
         |rare AS (
         |  SELECT gk FROM g GROUP BY 1
         |  HAVING COUNT(*) >= 2 AND COUNT(*) <= 8),
         |h AS (SELECT g.doc_id, g.gk FROM g JOIN rare USING (gk))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  COUNT(*) AS n_shared_grams
         |FROM h a JOIN h b ON a.gk = b.gk AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin
    },


    "q308_source_churn" -> {
      val a = Dedup.HASH_A.mkString("[", ", ", "]")
      val b = Dedup.HASH_B.mkString("[", ", ", "]")
      s"""WITH sh AS (
         |  SELECT doc_id, source, unnest(${shinglesSql(3)}) AS shingle
         |  FROM (SELECT doc_id, source, $WORDS AS w FROM documents)),
         |h AS (
         |  SELECT ('0x' || substr(md5('churn1' || CAST(doc_id AS VARCHAR)),
         |      1, 8))::BIGINT % 2 AS hb2, source,
         |    ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hb
         |  FROM sh),
         |sig AS (
         |  SELECT hb2, source, j,
         |    MIN((($a)[j+1] * hb + ($b)[j+1]) % ${Dedup.MINHASH_P}) AS mh
         |  FROM h, unnest(range(0, 8)) AS t(j) GROUP BY 1, 2, 3)
         |SELECT o.source,
         |  CAST(COUNT(*) FILTER (WHERE o.mh = n.mh) AS BIGINT) AS n_eq,
         |  ROUND((COUNT(*) FILTER (WHERE o.mh = n.mh))::DOUBLE / 8, 6)
         |    AS est_jaccard,
         |  ROUND(1.0::DOUBLE
         |    - (COUNT(*) FILTER (WHERE o.mh = n.mh))::DOUBLE / 8, 6)
         |    AS est_churn
         |FROM sig o JOIN sig n ON o.source = n.source AND o.j = n.j
         |WHERE o.hb2 = 0 AND n.hb2 = 1
         |GROUP BY 1""".stripMargin
    },


    "q310_local_dup_venn" -> {
      val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH g AS (
         |  SELECT doc_id, lower(text) AS t, length(lower(text)) - 7 AS m
         |  FROM documents WHERE length(lower(text)) >= 11),
         |pk AS (
         |  SELECT doc_id, m, list_transform(range(0, m), i ->
         |    ('0x' || substr(md5(substr(t, CAST(i + 1 AS INT), 8)), 1, 8))::BIGINT
         |      * 1048576 + (1048575 - i)) AS p
         |  FROM g),
         |fp AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(0, m - 3),
         |    j -> list_aggregate(p[CAST(j + 1 AS INT):CAST(j + 4 AS INT)],
         |      'min')))) AS v
         |  FROM pk),
         |f AS (SELECT DISTINCT doc_id, v // 1048576 AS h FROM fp),
         |dfh AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM f GROUP BY 1),
         |r AS (SELECT f.doc_id, f.h FROM f JOIN dfh USING (h) WHERE df <= 10),
         |wd AS (
         |  SELECT DISTINCT a.doc_id FROM r a
         |  JOIN r b ON a.h = b.h AND a.doc_id <> b.doc_id),
         |wr2 AS (SELECT doc_id, $WORDS AS w FROM documents),
         |gg AS (
         |  SELECT DISTINCT doc_id, md5($gram) AS gk
         |  FROM wr2, unnest(range(1, len(w) - 6)) AS t(i)),
         |rare AS (
         |  SELECT gk FROM gg GROUP BY 1
         |  HAVING COUNT(*) >= 2 AND COUNT(*) <= 8),
         |hh AS (SELECT gg.doc_id, gg.gk FROM gg JOIN rare USING (gk)),
         |sp AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM hh a JOIN hh b ON a.gk = b.gk AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |sd AS (SELECT id_a AS doc_id FROM sp UNION SELECT id_b FROM sp)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN wd.doc_id IS NOT NULL AND sd.doc_id IS NOT
         |    NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN wd.doc_id IS NOT NULL AND sd.doc_id IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_win_only,
         |  CAST(SUM(CASE WHEN wd.doc_id IS NULL AND sd.doc_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_substr_only,
         |  CAST(SUM(CASE WHEN wd.doc_id IS NULL AND sd.doc_id IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
         |FROM documents d
         |LEFT JOIN wd ON wd.doc_id = d.doc_id
         |LEFT JOIN sd ON sd.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin
    },


    "q315_dup_span_hist" -> dupSpanHistSql,

    // The incremental build re-merges persisted per-shard censuses into
    // the SAME duplicated-key set, so it shares q315's oracle verbatim
    // — the hash match IS the parity proof with the from-scratch build.
    "q320_span_census_incr" -> dupSpanHistSql,

    "q316_remove_dup_spans" -> removeSpansSql,

    // Incremental build: the sum-re-merged census yields the SAME dup
    // keys, so it shares q316's oracle verbatim — the hash match IS the
    // parity proof with the from-scratch deletion.
    "q321_remove_spans_incr" -> removeSpansSql,

    "q318_remove_spans_min16" ->
      s"""WITH ${removeSpansCtes(minLen = 16)}
         |SELECT d.doc_id, COALESCE(n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
         |  COALESCE(n_removed, CAST(0 AS BIGINT)) AS n_removed,
         |  COALESCE(text_clean, '') AS text_clean
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // Fixed-point oracle: the 2-pass UNROLLED form at this corpus's
    // known convergence depth (pass 2 removes nothing here — the
    // nonzero-residual convergence case is AnalyticsSpec's stitch
    // fixture, which DuckDB-style recursion cannot see from the gate's
    // fixed tables). n_tokens is pass 1's (= original) count; n_removed
    // accumulates both passes; text_clean is pass 2's output.
    "q322_remove_fixed_point" ->
      s"""WITH ${removeSpansCtes()},
         |c1 AS (
         |  SELECT d.doc_id,
         |    COALESCE(pd.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
         |    COALESCE(pd.n_removed, CAST(0 AS BIGINT)) AS r1,
         |    COALESCE(pd.text_clean, '') AS text
         |  FROM documents d LEFT JOIN pd USING (doc_id)),
         |${removeSpansPassCtes(src = "c1", sfx = "2")}
         |SELECT c1.doc_id, c1.n_tokens,
         |  CAST(c1.r1 + COALESCE(pd2.n_removed, CAST(0 AS BIGINT))
         |    AS BIGINT) AS n_removed,
         |  COALESCE(pd2.text_clean, c1.text) AS text_clean
         |FROM c1 LEFT JOIN pd2 USING (doc_id)""".stripMargin,

    // Cross-run census deletion: the glob-merged generation shards
    // yield the SAME dup keys as the from-scratch census, so it shares
    // q316's oracle verbatim — the hash match IS the parity proof.
    "q323_remove_from_census" -> removeSpansSql,

    "q317_remove_reaudit" -> {
      val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH ${removeSpansCtes()},
         |cleaned AS (
         |  SELECT d.source, d.doc_id, COALESCE(pd.text_clean, '') AS text
         |  FROM documents d LEFT JOIN pd USING (doc_id)),
         |wr2 AS (SELECT source, doc_id, $WORDS AS w FROM cleaned),
         |tok2 AS (
         |  SELECT source, doc_id, COUNT(*) AS nt
         |  FROM (SELECT source, doc_id, unnest(w) FROM wr2) GROUP BY 1, 2),
         |g2 AS (
         |  SELECT doc_id, i - 1 AS pos, md5($gram) AS gk
         |  FROM wr2, unnest(range(1, len(w) - 6)) AS t(i)),
         |dup2 AS (SELECT gk FROM g2 GROUP BY 1 HAVING COUNT(*) >= 2),
         |f2 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup2 USING (gk)),
         |m2 AS (
         |  SELECT doc_id, pos,
         |    MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM f2),
         |sid2 AS (
         |  SELECT doc_id, pos,
         |    CAST(SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0
         |      END) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sp
         |  FROM m2),
         |spans2 AS (
         |  SELECT doc_id, sp, MIN(pos) AS s0, MAX(pos + 8) AS e0
         |  FROM sid2 GROUP BY 1, 2),
         |pd2 AS (
         |  SELECT doc_id, CAST(SUM(e0 - s0) AS BIGINT) AS dup_t
         |  FROM spans2 GROUP BY 1)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN COALESCE(dup_t, 0) > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_dup,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(SUM(COALESCE(dup_t, 0)) AS BIGINT) AS n_dup_tokens,
         |  CAST(SUM(COALESCE(dup_t, 0)) AS BIGINT)::DOUBLE
         |    / CAST(SUM(nt) AS BIGINT)::DOUBLE AS dup_token_frac
         |FROM tok2 LEFT JOIN pd2 USING (doc_id) GROUP BY 1""".stripMargin
    }
  )

  /** q316's deletion oracle — also the q321 oracle (the incremental
    * sum-re-merged census must reproduce the deletion exactly). */
  private def removeSpansSql: String =
    s"""WITH ${removeSpansCtes()}
       |SELECT d.doc_id, COALESCE(n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       |  COALESCE(n_removed, CAST(0 AS BIGINT)) AS n_removed,
       |  COALESCE(text_clean, '') AS text_clean
       |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  /** q315's span-histogram oracle — also the q320 oracle (the
    * incremental sum-re-merged census must reproduce it exactly). */
  private def dupSpanHistSql: String = {
    val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""WITH wr AS (SELECT source, doc_id, $WORDS AS w FROM documents),
       |g AS (
       |  SELECT source, doc_id, i - 1 AS pos, md5($gram) AS gk
       |  FROM wr, unnest(range(1, len(w) - 6)) AS t(i)),
       |dup AS (SELECT gk FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
       |f AS (SELECT g.source, g.doc_id, g.pos FROM g JOIN dup USING (gk)),
       |m AS (
       |  SELECT source, doc_id, pos,
       |    MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM f),
       |sid AS (
       |  SELECT source, doc_id, pos,
       |    CAST(SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0
       |      END) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sp
       |  FROM m),
       |spans AS (
       |  SELECT MAX(source) AS source, doc_id,
       |    CAST(MAX(pos + 8) - MIN(pos) AS BIGINT) AS len
       |  FROM sid GROUP BY doc_id, sp),
       |sl AS (
       |  SELECT source, doc_id, len,
       |    CAST(length(bin(len)) AS BIGINT) AS bucket
       |  FROM spans),
       |h AS (
       |  SELECT source, bucket, COUNT(*) AS n_spans,
       |    CAST(SUM(len) AS BIGINT) AS span_tokens,
       |    MAX(len) AS max_span_len
       |  FROM sl GROUP BY 1, 2),
       |dl AS (
       |  SELECT source, bucket, COUNT(*) AS n_docs_longest FROM (
       |    SELECT source, doc_id,
       |      CAST(length(bin(MAX(len))) AS BIGINT) AS bucket
       |    FROM sl GROUP BY 1, 2)
       |  GROUP BY 1, 2)
       |SELECT h.source, h.bucket, n_spans, span_tokens, max_span_len,
       |  COALESCE(n_docs_longest, CAST(0 AS BIGINT)) AS n_docs_longest
       |FROM h LEFT JOIN dl USING (source, bucket)""".stripMargin
  }

  /** ONE ExactSubstr deletion pass as suffixed CTEs over `src`
    * (doc_id, text) — the q322 fixed-point oracle's second unrolled
    * pass. Same chain as [[removeSpansCtes]] (which stays verbatim so
    * the q316/q317/q318 oracle strings are untouched), with every CTE
    * name suffixed to avoid collisions, ending in `pd$sfx`. Docs whose
    * `src` text is empty produce no token rows and therefore no
    * `pd$sfx` row — the caller's LEFT JOIN coalesces them back. */
  private def removeSpansPassCtes(src: String, sfx: String): String = {
    val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""wr$sfx AS (SELECT doc_id, $WORDS AS w FROM $src),
       |tok$sfx AS (
       |  SELECT doc_id, i.i - 1 AS pos, w[i.i] AS word
       |  FROM wr$sfx, unnest(range(1, len(w) + 1)) AS i(i)),
       |g$sfx AS (
       |  SELECT doc_id, i - 1 AS pos, md5($gram) AS gk
       |  FROM wr$sfx, unnest(range(1, len(w) - 6)) AS t(i)),
       |dup$sfx AS (SELECT gk FROM g$sfx GROUP BY 1 HAVING COUNT(*) >= 2),
       |f$sfx AS (SELECT g$sfx.doc_id, g$sfx.pos
       |  FROM g$sfx JOIN dup$sfx USING (gk)),
       |m$sfx AS (
       |  SELECT doc_id, pos,
       |    MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM f$sfx),
       |sid$sfx AS (
       |  SELECT doc_id, pos,
       |    CAST(SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0
       |      END) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sp
       |  FROM m$sfx),
       |spans$sfx AS (
       |  SELECT doc_id, sp, MIN(pos) AS s0, MAX(pos + 8) AS e0
       |  FROM sid$sfx GROUP BY 1, 2),
       |cov$sfx AS (
       |  SELECT t.doc_id, t.pos, t.word, s.s0 IS NOT NULL AS covd
       |  FROM tok$sfx t LEFT JOIN spans$sfx s ON s.doc_id = t.doc_id
       |    AND t.pos >= s.s0 AND t.pos < s.e0),
       |pd$sfx AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(CASE WHEN covd THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_removed,
       |    COALESCE(string_agg(CASE WHEN NOT covd THEN word END, ' '
       |      ORDER BY pos), '') AS text_clean
       |  FROM cov$sfx GROUP BY 1)""".stripMargin
  }

  /** Shared CTE chain for the q316/q317/q318 oracles — the exact mirror
    * of [[graft.llm.Dedup.removeDupSpans]] through the per-doc `pd`
    * table (n_tokens, n_removed, text_clean). Spans are q299's maximal
    * merged windows; coverage joins each token to its (unique — spans
    * are disjoint) covering span. `minLen` mirrors the operator's
    * minSpanLen: only merged spans of ≥ minLen tokens survive into the
    * coverage join (the q318 threshold-matched variant). */
  private def removeSpansCtes(minLen: Int = 0): String = {
    val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    val minClause =
      if (minLen > 8) s"\nHAVING MAX(pos + 8) - MIN(pos) >= $minLen" else ""
    s"""wr AS (SELECT doc_id, $WORDS AS w FROM documents),
       |tok AS (
       |  SELECT doc_id, i.i - 1 AS pos, w[i.i] AS word
       |  FROM wr, unnest(range(1, len(w) + 1)) AS i(i)),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos, md5($gram) AS gk
       |  FROM wr, unnest(range(1, len(w) - 6)) AS t(i)),
       |dup AS (SELECT gk FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
       |f AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gk)),
       |m AS (
       |  SELECT doc_id, pos,
       |    MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM f),
       |sid AS (
       |  SELECT doc_id, pos,
       |    CAST(SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0
       |      END) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sp
       |  FROM m),
       |spans AS (
       |  SELECT doc_id, sp, MIN(pos) AS s0, MAX(pos + 8) AS e0
       |  FROM sid GROUP BY 1, 2$minClause),
       |cov AS (
       |  SELECT t.doc_id, t.pos, t.word, s.s0 IS NOT NULL AS covd
       |  FROM tok t LEFT JOIN spans s ON s.doc_id = t.doc_id
       |    AND t.pos >= s.s0 AND t.pos < s.e0),
       |pd AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(CASE WHEN covd THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_removed,
       |    COALESCE(string_agg(CASE WHEN NOT covd THEN word END, ' '
       |      ORDER BY pos), '') AS text_clean
       |  FROM cov GROUP BY 1)""".stripMargin
  }
}
