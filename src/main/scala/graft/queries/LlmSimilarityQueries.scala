package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Dedup, EmbeddingOps, Multimodal, Pipeline, Similarity, TextAnalysis, TextOps, VectorOps}

/** Similarity / ANN / embedding-geometry / graph operators: brute
  * cosine, LSH, IVF(-PQ), kNN graphs, centroid audits, PageRank-family
  * link analysis. Split from LlmQueries (r16 verdict #8) — entries
  * and oracles moved verbatim; shared SQL helpers live in
  * [[LlmQueries]]. */
object LlmSimilarityQueries {

  import LlmQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q30_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 5)
    }),


    "q31_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(
        emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 3)
    }),


    // Same transitive-closure clustering, but in embedding space: the
    // semantic-dedup decision table ("these vectors collapse to one
    // training example").
    "q70_embed_clusters" -> ((s, dir) =>
      Dedup.clustersFromPairs(
        Similarity.embeddingDupPairs(
          Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.3),
        "vec_id")),


    // IVF ANN: disjoint inverted-file cells from a deterministic
    // sample-seeded coarse quantizer; queries probe nProbe nearest cells.
    "q72_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(
        emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
        k = 3, nProbe = 2) // nList auto-derived as ceil(sqrt(N))
    }),


    "q86_source_drift" -> ((s, dir) =>
      TextAnalysis.sourceDrift(Tables.documents(s, dir), "doc_id", "text",
        "source")),


    // Johnson-Lindenstrauss sparse random projection 64 -> 16: plan-time
    // literal Achlioptas matrix, pure map over the embedding scan
    // (exploded to (vec_id, dim, val) rows for the scalar-cell oracle
    // compare; the operator itself returns the array column).
    "q130_rand_projection" -> ((s, dir) =>
      Similarity.randomProjection(Tables.embeddings(s, dir), "vec_id",
        "embedding", inDim = 64, outDim = 16)
        .select(col("vec_id"),
          posexplode(col("proj")).as(Seq("dim", "val")))
        .withColumn("dim", col("dim").cast("long"))),


    // Persisted-index ANN: build the IVF-PQ index, WRITE its four parquet
    // artifacts, re-READ them, and search from the persisted copy — the
    // build-once/search-many production loop. Same parameters and oracle
    // as q114, so a green row certifies the artifacts are complete and
    // bit-faithful on disk.
    "q140_ivfpq_persist" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = Similarity.ivfPqBuild(emb, "vec_id", "embedding")
      val path = s"${IoQueries.sinkDir}/q140_ivfpq_index"
      Similarity.ivfPqWriteIndex(idx, path)
      Similarity.ivfPqSearch(Similarity.ivfPqReadIndex(s, path),
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, nProbe = 4)
    }),


    "q87_kmeans" -> ((s, dir) =>
      Similarity.kMeans(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iters = 2)),


    // Product quantization (Jegou 2011): per-subspace k-means codes +
    // reconstruction error — the billion-vector ANN compression layout.
    "q112_pq_codes" -> ((s, dir) =>
      Similarity.productQuantize(Tables.embeddings(s, dir), "vec_id",
        "embedding", m = 8, k = 16, iters = 2)),


    // PQ asymmetric-distance search (ADC): per-query LUT against the
    // trained codebook, candidates scored from their codes alone — the
    // search half of the PQ story (the corpus scan never touches the
    // embeddings).
    "q113_pq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb.filter(col("vec_id") < 20), emb, "vec_id",
        "embedding", k = 5)
    }),


    "q88_cluster_sample" -> ((s, dir) =>
      Pipeline.clusterBalancedSample(
        Similarity.kMeans(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8, iters = 2),
        "id", "cluster", perCluster = 20)),


    "q89_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      Similarity.recallVsExact(q, emb, "vec_id", "embedding", k = 5,
        Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
          nProbe = 4)) // nList auto-derived as ceil(sqrt(N))
    }),


    // IVF-PQ (IVFADC): coarse cells + shared residual codebook + ADC
    // search confined to nProbe cells — q72's IVF and q112's PQ composed
    // into the actual billion-vector layout.
    "q114_ivfpq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 20), emb, "vec_id",
        "embedding", k = 5, nProbe = 4)
    }),


    // Recall@5 of the IVF-PQ search against exact cosine — the harness
    // row that tells you what the compressed layout costs in recall.
    "q115_ivfpq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      Similarity.recallVsExact(q, emb, "vec_id", "embedding", k = 5,
        Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 5,
          nProbe = 4))
    }),


    // IVFADC+R: exact-cosine re-rank of a 10-deep ADC shortlist down to
    // top-5 — the refinement stage that recovers recall lost to code
    // compression while still touching full embeddings for only |Q|*10
    // rows.
    "q117_ivfpq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqRerank(emb.filter(col("vec_id") < 20), emb, "vec_id",
        "embedding", k = 5, shortlist = 10, nProbe = 4)
    }),


    // Margin-based bitext mining over the parity-split embedding space:
    // even ids play the source language, odd the target; a 20-query batch
    // scores forward neighbors by the Artetxe-Schwenk ratio margin.
    "q217_margin_mining" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      Similarity.marginMining(src.filter(col("vec_id") < 40), src, tgt,
        "vec_id", "embedding", k = 4)
    }),


    // HyperBall neighborhood function N(t) on the near-dup pair graph
    // (Boldi & Vigna 2013): per-node HLL ball counters iterated as
    // register-max message passing, audited per node against the exact
    // ball sizes — N(t) still growing at t=2 means transitive template
    // chains that pairwise dedup won't collapse. Register layout,
    // estimator, and the 100 TB contract live in ops/HyperBall.scala.
    "q240_hyperball" -> ((s, dir) =>
      graft.ops.HyperBall.neighborhoodFunction(s,
        Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)
          .select(col("id_a"), col("id_b")), iters = 2)),


    // Unbiased linear-kernel MMD between label groups (Gretton 2012):
    // the two-sample domain-distance test from per-group moment vectors.
    "q246_mmd" -> ((s, dir) =>
      graft.llm.EmbeddingOps.linearMmd(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label")),


    // Simplified silhouette over q87's trained k-means centroids
    // (Hruschka 2004): the O(N·k) cluster-quality diagnostic.
    "q247_silhouette" -> ((s, dir) =>
      Similarity.simplifiedSilhouette(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, iters = 2)),


    // Exact KNN-Shapley data valuation (Jia et al., VLDB 2019): per
    // train vector, the mean exact Shapley value of a 5-NN utility over
    // the 20-query eval batch — the "which examples help/hurt this eval
    // set" curation signal. The closed recursion telescopes into a
    // suffix sum, so the plan is one broadcast query fan-out + two
    // windows + one aggregate; increments quantize onto the 2^30 binary
    // grid so every sum is integer-exact (see Similarity.knnShapley).
    "q259_knn_shapley" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnShapley(emb.filter(col("vec_id") < 20),
        emb.filter(col("vec_id") >= 20), "vec_id", "embedding", "label",
        k = 5)
    }),


    // Synchronous label-propagation communities (Raghavan 2007) on the
    // near-dup pair graph, 4 deterministic rounds with min-label
    // tie-break — the finer-than-connected-components "template family"
    // view (Dedup.labelPropagation).
    "q261_label_prop" -> ((s, dir) =>
      Dedup.labelPropagation(
        Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3),
        iters = 4)),


    // HITS hubs & authorities (Kleinberg 1999) on the customer→supplier
    // purchase graph — mutual-reinforcement link analysis in all-integer
    // L1-normalized arithmetic, the alternating-update companion to
    // q153's PageRank.
    "q290_hits" -> ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.ops.PageRank.hits(edges, iters = 5)
    }),


    // Local Outlier Factor (Breunig 2000) over the 3-NN cell graph —
    // density-relative embedding outliers a global z-score cannot see.
    "q287_lof" -> ((s, dir) =>
      Similarity.lof(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 3)),


    // nDCG@5 of the IVF ANN ranking against the exact brute-force
    // ranking per query (Järvelin & Kekäläinen 2002) — the graded
    // ranking-quality audit that recall@k (q89) flattens; discounts are
    // Scala-computed literals shared with the oracle.
    "q288_ann_ndcg" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 5).select(col("query_id"), col("cand_id"),
        (lit(6) - col("rnk")).cast("long").as("__rel"))
      val ann = Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
        nProbe = 2)
      val disc = (1 to 5).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
      val idcg = (1 to 5).map(i => (6 - i) * disc(i - 1)).sum
      val dchain = (2 to 5).foldLeft(
        when(col("rnk") === 1, lit(disc(0)))) { (acc, i) =>
        acc.when(col("rnk") === i, lit(disc(i - 1)))
      }.otherwise(0.0)
      ann.join(exact, Seq("query_id", "cand_id"), "left")
        .na.fill(0L, Seq("__rel"))
        .withColumn("__g", round(col("__rel").cast("double") * dchain, 8))
        .groupBy("query_id")
        .agg(sum(when(col("__rel") > 0, 1L).otherwise(0L)).as("n_hits"),
          graft.core.Det.sumDet(col("__g"), 8).as("__dcg"))
        .select(col("query_id"), col("n_hits"),
          round(col("__dcg"), 6).as("dcg"),
          round(col("__dcg") / idcg, 6).as("ndcg"))
    }),


    // Participation-ratio dimensionality: (Σλ)²/Σλ² of the covariance
    // spectrum WITHOUT eigendecomposition (tr and Frobenius only) —
    // the embedding-collapse diagnostic, riding q191's exact Gramian.
    "q285_participation_ratio" -> ((s, dir) =>
      graft.llm.EmbeddingOps.participationRatio(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64)),


    // TwoNN intrinsic dimension (Facco 2017): Pareto MLE over 2nd/1st
    // neighbor cosine-distance ratios from the cell-confined 2-NN graph.
    "q286_twonn" -> ((s, dir) =>
      Similarity.twoNN(Tables.embeddings(s, dir), "vec_id", "embedding")),


    // Per-node local clustering coefficient (Watts-Strogatz) on the
    // near-dup graph — which docs sit in clique-like dup cores vs
    // chain joints (q170's global transitivity, localized).
    "q273_clustering_coeff" -> ((s, dir) =>
      Dedup.clusteringCoefficient(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 8, numBands = 4,
        threshold = 0.3)),


    // Degree assortativity (Newman 2002) of the near-dup graph —
    // hub-hub vs hub-leaf mixing; exact integer sums over the bounded
    // edge table.
    "q274_assortativity" -> ((s, dir) =>
      Dedup.degreeAssortativity(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 8, numBands = 4,
        threshold = 0.3)),


    // Pairwise Jensen-Shannon divergence between sources in embedding
    // space over 4-bit SRP sign-cells — the semantic companion to q223's
    // value-space PSI. One projection map + one (source, cell) aggregate;
    // everything after is bounded by sources x 16.
    "q225_embedding_divergence" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source"))
      Similarity.signCellJsDivergence(
        Tables.embeddings(s, dir).join(docs, Seq("vec_id")),
        "source", "embedding", inDim = 64, bits = 4)
    }),


    // External cluster-quality check on the k-means assignment: size,
    // majority label, purity per cluster.
    "q146_cluster_purity" -> ((s, dir) =>
      Similarity.clusterPurity(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", k = 8, iters = 2)),


    // Contrastive hard negatives: top-5 nearest different-label vectors
    // per query (first 20 ids as queries).
    "q147_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", "label", k = 5)
    }),


    // Cell-confined kNN graph: top-3 cosine neighbors per vector among
    // IVF cell-mates (same ceil(sqrt(N)) quantizer as q83).
    "q154_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 3)),


    // kNN label vote over the cell-confined graph: predicted label =
    // majority of the top-5 neighbors, vs the vector's own label — the
    // pseudo-labeling / label-error audit.
    "q159_knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", k = 5)),


    // Matryoshka prefix-truncation audit: does the renormalized 16-dim
    // prefix retrieve the same top-1 neighbor as the full 64 dims, per
    // query (vec_id < 20)?
    "q161_matryoshka" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.matryoshkaRecall(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", subDim = 16)
    }),


    // Hybrid retrieval: reciprocal-rank fusion of the q76 BM25 list with
    // the dense cosine list against query vector 0 (ids align by
    // position across documents/embeddings).
    "q163_rrf_fusion" -> ((s, dir) => {
      graft.functions.VectorExpressions.register(s)
      val bm = Pipeline.bm25(Tables.documents(s, dir), "doc_id", "text",
        Bm25Terms).select(col("doc_id"), col("score"))
      val emb = Tables.embeddings(s, dir)
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val cos = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id").as("doc_id"),
          VectorOps.cosine(VectorOps.dot(col("embedding"), col("q_emb")),
            VectorOps.normSq(col("embedding")),
            VectorOps.normSq(col("q_emb"))).as("cos"))
      Pipeline.rrfFuse(bm, cos, "doc_id", "score", "cos")
    }),


    // INT8 affine quantization audit: per-dimension [min,max] → 0..255
    // codes with worst/mean dequantization error — the storage-layout QA
    // before an SQ8 index build. Error means go through exact integer
    // sums (floor-quantized 1e-9), never order-dependent double adds.
    "q190_int8_quant" -> ((s, dir) =>
      graft.llm.EmbeddingOps.int8QuantAudit(
        Tables.embeddings(s, dir), "vec_id", "embedding")),


    // Spectral corpus diagnostic: exact fixed-point covariance Gramian
    // (one pass, dim² map-side partials) + 9 power iterations on the
    // collected 64×64 cell table — top principal loading, eigenvalue,
    // and explained-variance fraction, bit-mirrored by a list_reduce
    // CTE chain in the oracle.
    "q191_top_pc" -> ((s, dir) =>
      graft.llm.EmbeddingOps.topPrincipalComponent(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64)),


    // All-but-the-Top anisotropy correction (Mu & Viswanath 2018): per
    // vector, the coefficient along the unit top principal direction and
    // the residual squared norm — map-only against plan-time literal
    // μ/u vectors (the centered dot distributes), zero rounding,
    // bit-exact against the oracle's list_reduce chain.
    "q192_abtt" -> ((s, dir) =>
      graft.llm.EmbeddingOps.allButTop(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64)),


    // Greedy k-center coreset (Gonzalez 1985): 8 diversity-maximizing
    // exemplars — k−1 map-only scoring passes against plan-time literal
    // centers + one global min_by each; the k-center radius curve comes
    // out as max_cos per rank.
    "q195_kcenter" -> ((s, dir) =>
      graft.llm.EmbeddingOps.kCenterCoreset(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8)),


    // Multi-probe LSH recall audit (Lv et al. 2007): per query, how many
    // exact top-5 neighbors the plain band match reaches vs the 1-bit
    // perturbation probes — recall-per-memory evidence for probing over
    // more hash tables.
    "q198_multiprobe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.multiProbeRecall(
        emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 5)
    }),


    // Label-separation audit: the L x L centroid-cosine confusability
    // matrix with per-label tightness on the diagonal — the space-health
    // check before kNN classify (q159) / hard-negative mining (q147).
    "q207_label_separation" -> ((s, dir) =>
      graft.llm.EmbeddingOps.labelSeparation(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label", dim = 64)),


    // HyperBall register persist across an incremental edge batch
    // (q240 under the q231 workflow) — the real incremental-crawl
    // ball-growth audit: batch-1 t=1 registers checkpoint to parquet,
    // batch 2 max-merges in, one more round runs on the union graph,
    // and the state must equal a from-scratch t=2 run register-for-
    // register. Contract and math in ops/HyperBall.scala.
    "q296_hyperball_persist" -> ((s, dir) =>
      graft.ops.HyperBall.incrementalRegisterAudit(s,
        Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.3)
          .select(col("id_a"), col("id_b")),
        s"${IoQueries.sinkDir}/q296_hyperball_regs")),


    // Fixed-round k-core peeling (Seidman 1983) on the near-dup graph —
    // the dense template-family backbone that per-pair degree
    // underestimates; n_removed = 0 on the last row means converged.
    "q297_kcore" -> ((s, dir) =>
      Dedup.kCorePeel(Tables.documents(s, dir), "doc_id", "text",
        k = 2, rounds = 3, shingleN = 3, numHashes = 8, numBands = 4,
        threshold = 0.3)),


    // SQ8 retrieval-degradation audit: recall@5 of brute cosine over
    // per-dim uint8 dequantized vectors vs exact float — what the 4x
    // storage compression costs in RANKING (q190 prices reconstruction
    // error; errors do not compose linearly into rank flips).
    "q302_sq8_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.recallVsExact(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", k = 5,
        Similarity.sq8TopK(emb.filter(col("vec_id") < 20), emb,
          "vec_id", "embedding", k = 5))
    }),


    // IVF cell-drift audit after an incremental crawl batch: the frozen
    // coarse quantizer (trained on the even-id half) absorbs the odd-id
    // half; per cell, old/new/total populations, post-batch load factor,
    // and a needs_split verdict at load > 2x mean (integer
    // cross-multiply) - the ANN-index maintenance signal.
    "q305_ivf_cell_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfCellDriftAudit(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
        "vec_id", "embedding")
    }),


    // Per-label centroid drift between crawl batches (first-moment
    // companion to q225's sign-cell JS): cosine of old/new batch
    // centroids from exact fixed-point sums - the 1/n factors cancel,
    // so the whole statistic is integer-exact up to one final double
    // expression.
    "q306_centroid_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      EmbeddingOps.centroidDrift(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
        "label", "embedding")
    }),


    // Hubness audit (Radovanovic, Nanopoulos & Ivanovic 2010, "Hubs in
    // Space"): the k-occurrence distribution of the cell-confined kNN
    // graph - N_k in-degree per vector, antihubs (never anyone's
    // neighbor), hubs (N_k > 2k), and the distribution's skewness from
    // EXACT integer moment sums (one double expression at the end) -
    // high skew means a few hub vectors dominate retrieval results and
    // ANN recall degrades asymmetrically.
    "q311_hubness" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val g = Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def d2d(c: org.apache.spark.sql.Column) =
        c.cast("string").cast("double")
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c).cast("decimal(38,0)")
      val kc = emb.select(col("vec_id"))
        .join(g.groupBy(col("nbr_id").as("vec_id"))
          .agg(count(lit(1)).as("kc")), Seq("vec_id"), "left")
        .na.fill(0L, Seq("kc"))
      val nd = col("n_nodes").cast("double")
      kc.agg(count(lit(1)).as("n_nodes"),
          sum(when(col("kc") === 0, 1L).otherwise(0L)).as("n_antihubs"),
          sum(when(col("kc") > 6, 1L).otherwise(0L)).as("n_hubs"),
          max(col("kc")).as("max_kocc"),
          dsum(dec(col("kc"))).as("__s1"),
          dsum(dec(col("kc")) * dec(col("kc"))).as("__s2"),
          dsum(dec(col("kc")) * dec(col("kc")) * dec(col("kc"))).as("__s3"))
        .withColumn("__v2",
          dec(col("n_nodes")) * col("__s2") - col("__s1") * col("__s1"))
        .withColumn("__v3",
          dec(col("n_nodes")) * dec(col("n_nodes")) * col("__s3")
            - lit(3) * dec(col("n_nodes")) * col("__s1") * col("__s2")
            + lit(2) * col("__s1") * col("__s1") * col("__s1"))
        .select(col("n_nodes"), col("n_antihubs"), col("n_hubs"),
          col("max_kocc"),
          (d2d(col("__s1")) / nd).as("mean_kocc"),
          when(col("__v2") > 0,
            (d2d(col("__v3")) / (nd * nd * nd)) /
              ((d2d(col("__v2")) / (nd * nd)) *
                sqrt(d2d(col("__v2")) / (nd * nd)))).as("skew_kocc"))
    }),


    // IVF assignment-margin audit: per cell, the mass of vectors whose
    // top-2 cell cosines differ by < 0.05 - boundary vectors churn
    // cells on any retrain, so high boundary fraction = unstable cell
    // regardless of size. Top-2 from ONE per-row fold over the
    // broadcast centroid array (no shuffle; a windowed top-2 over
    // row x cell rows is the round-10 anti-pattern).
    "q312_ivf_boundary" -> ((s, dir) =>
      Similarity.ivfBoundaryAudit(Tables.embeddings(s, dir), "vec_id",
        "embedding", eps = 0.05)),


    // IVF cell-split remediation: the operator that ACTS on q305's
    // flags - local 2-means (lowest-vid seeds + one distributed Lloyd
    // round in exact fixed-point sums) on each overloaded cell, then
    // the post-split load table. Threshold 6/5 (vs the audit's policy
    // 2x) so the split path exercises on the near-uniform synthetic
    // embeddings - the rational-threshold rule stays an integer
    // cross-multiply. Same frozen even/odd quantizer as q305.
    "q313_ivf_cell_split" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfCellSplit(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
        "vec_id", "embedding", thrNum = 6, thrDen = 5)
    }),


    // Recall@5 of the POST-SPLIT index vs exact cosine (the q115
    // harness on q313's output): proves the rebalance did not cost
    // retrieval quality. Probes rank in the split's own fixed-point
    // arithmetic; the final rerank is the q89 shape. nProbe = 5 is the
    // pre-split budget of 4 scaled with the list growth
    // (ceil(4*L'/L) = 5 at every test SF: 18/16, 18/16, 34/32) - the
    // FAISS practice; a FIXED budget over more, smaller cells measurably
    // dilutes coverage (0.68 -> 0.66 at sf0.01), while the scaled budget
    // holds it (0.69 >= 0.68, asserted by IvfSplitSpec).
    "q314_ivf_split_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      Similarity.recallVsExact(q, emb, "vec_id", "embedding", k = 5,
        Similarity.ivfSplitTopK(q,
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
          emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
          "vec_id", "embedding", k = 5, nProbe = 5,
          thrNum = 6, thrDen = 5))
    }),


    // Persisted POST-SPLIT index (the q140 serving discipline applied
    // to q313's output, r17 verdict #5): build the split state ONCE,
    // write its five parquet artifacts (assign / cells / flagged /
    // children / cents + meta), re-READ them, and run the q314 recall
    // harness from the persisted copy. Same parameters and oracle as
    // q314, so a green row certifies the on-disk index reproduces the
    // live build's search bit-exactly - the build-once/serve-many loop
    // a weekly 100 TB maintenance job actually runs.
    "q319_ivf_split_persist" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val st = Similarity.ivfSplitState(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
        "vec_id", "embedding", thrNum = 6, thrDen = 5)
      val path = s"${IoQueries.sinkDir}/q319_ivf_split_index"
      Similarity.ivfSplitWriteIndex(st, path)
      val q = emb.filter(col("vec_id") < 20)
      Similarity.recallVsExact(q, emb, "vec_id", "embedding", k = 5,
        Similarity.ivfSplitTopKFrom(q, emb,
          Similarity.ivfSplitReadIndex(s, path),
          "vec_id", "embedding", k = 5, nProbe = 5))
    }),


    // ARRIVAL WRITE-BACK (r18 verdict #5 - the update step that closes
    // the persisted-index cycle): build + persist the index over the
    // corpus MINUS an arrival batch (vec_id % 4 == 3 held out), then
    // READ the index, append the arrivals (frozen-quantizer assignment
    // of the batch only - never a corpus re-scan), merge the per-cell
    // counts, re-evaluate the flags, re-split off the merged state,
    // and persist the UPDATED index. Every post-merge step sees exactly
    // what a from-scratch build over corpus + arrivals sees, so the
    // updated index is value-identical to q314's live build - it shares
    // q314's oracle, and the hash match IS the rebuild-parity proof.
    // The recall harness serves from the re-read updated copy, closing
    // read -> update -> write -> serve.
    "q324_ivf_split_update" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val even = emb.filter(pmod(col("vec_id"), lit(2L)) === 0L)
      val oddPre = emb.filter(pmod(col("vec_id"), lit(4L)) === 1L)
      val arrivals = emb.filter(pmod(col("vec_id"), lit(4L)) === 3L)
      val pre = s"${IoQueries.sinkDir}/q324_ivf_pre_index"
      val post = s"${IoQueries.sinkDir}/q324_ivf_post_index"
      Similarity.ivfSplitWriteIndex(
        Similarity.ivfSplitState(even, oddPre, "vec_id", "embedding",
          thrNum = 6, thrDen = 5), pre)
      Similarity.ivfSplitWriteIndex(
        Similarity.ivfSplitUpdateIndex(even.unionByName(oddPre),
          arrivals, "vec_id", "embedding", pre,
          thrNum = 6, thrDen = 5), post)
      val q = emb.filter(col("vec_id") < 20)
      Similarity.recallVsExact(q, emb, "vec_id", "embedding", k = 5,
        Similarity.ivfSplitTopKFrom(q, emb,
          Similarity.ivfSplitReadIndex(s, post),
          "vec_id", "embedding", k = 5, nProbe = 5))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q112_pq_codes" ->
      s"""WITH $pqCtes
         |SELECT vec_id AS id, sub, cluster AS code, d2
         |FROM a2""".stripMargin,


    // ADC over the q112 chain: binary-quantized LUT terms make the
    // m-addend sum exact in any order — adc hashes raw, unrounded.
    "q113_pq_ann" ->
      s"""WITH $pqCtes,
         |qsub AS (
         |  SELECT vec_id AS query_id, s.sub,
         |    list_transform(embedding[s.sub * 8 + 1 : s.sub * 8 + 8],
         |      x -> x::DOUBLE) AS qe
         |  FROM embeddings, (SELECT unnest(range(0, 8)) AS sub) s
         |  WHERE vec_id < 20),
         |qsubn AS (SELECT query_id, sub, qe, ${dotSub("qe", "qe")} AS qn2
         |  FROM qsub),
         |lut AS (
         |  SELECT query_id, q.sub, c.cluster AS code,
         |    floor((qn2 + c.c_n2 - 2.0 * ${dotSub("q.qe", "c.c_emb")})
         |      * 1048576.0) / 1048576.0 AS term
         |  FROM qsubn q JOIN cents1 c USING (sub)),
         |scores AS (
         |  SELECT l.query_id, a.vec_id AS cand_id, SUM(term) AS adc
         |  FROM a2 a JOIN lut l ON a.sub = l.sub AND a.cluster = l.code
         |  WHERE l.query_id <> a.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, cand_id, adc, rnk FROM (
         |  SELECT query_id, cand_id, adc,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, cand_id)
         |      AS rnk
         |  FROM scores) WHERE rnk <= 5""".stripMargin,


    "q114_ivfpq_ann" ->
      s"""WITH ${ivfPqCtes()}
         |SELECT query_id, cand_id, adc, rnk FROM ivfpq""".stripMargin,


    // Persisted-index round trip: value-identical to a live q114 build,
    // so it shares q114's oracle verbatim — a hash match certifies the
    // on-disk artifacts reproduce the live search exactly.
    "q140_ivfpq_persist" ->
      s"""WITH ${ivfPqCtes()}
         |SELECT query_id, cand_id, adc, rnk FROM ivfpq""".stripMargin,


    // IVFADC+R: the q114 chain cut at a 10-deep shortlist, re-ranked by
    // exact cosine (same 6-dp round + cand-id tie-break as the q30/q89
    // exact route).
    "q117_ivfpq_rerank" ->
      s"""WITH ${ivfPqCtes(10)},
         |rer AS (
         |  SELECT i.query_id, i.cand_id,
         |    ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6)
         |      AS cos
         |  FROM ivfpq i JOIN n q ON i.query_id = q.vec_id
         |       JOIN n c ON i.cand_id = c.vec_id)
         |SELECT query_id, cand_id, cos, rnk FROM (
         |  SELECT query_id, cand_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC,
         |      cand_id) AS rnk
         |  FROM rer) WHERE rnk <= 5""".stripMargin,


    // Recall@5 of IVF-PQ vs exact cosine (the q89 harness over the q114
    // approximate set).
    "q115_ivfpq_recall" ->
      s"""WITH ${ivfPqCtes()},
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |        c.vec_id) AS rnk
         |    FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |  WHERE rnk <= 5)
         |SELECT e.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  ROUND(CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
         |    / COUNT(*), 6) AS recall
         |FROM exact e LEFT JOIN ivfpq a
         |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
         |GROUP BY 1""".stripMargin,


    "q87_kmeans" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id AS id, cluster, ROUND(d2, 6) AS d2 FROM a2""".stripMargin,


    "q88_cluster_sample" ->
      s"""WITH $kmeansCtes
         |SELECT id, cluster, cluster_size, sample_rank FROM (
         |  SELECT vec_id AS id, cluster,
         |    COUNT(*) OVER (PARTITION BY cluster) AS cluster_size,
         |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY
         |      ('0x' || substr(md5('cbs1' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
         |      vec_id) AS sample_rank
         |  FROM a2)
         |WHERE sample_rank <= 20""".stripMargin,


    // Exact top-5 (q30 shape, k=5) vs IVF top-5 (q72 shape, nProbe=4):
    // recall@5 per query. Both sides rank the 6-digit-rounded cosine with
    // the candidate-id tie-break, so the sets are deterministic.
    "q89_ann_recall" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |        c.vec_id) AS rnk
         |    FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |  WHERE rnk <= 5),
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
         |cells AS (SELECT vec_id AS cand_id, cent_id AS cell FROM ranked WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cent_id AS cell
         |  FROM ranked WHERE rn <= 4 AND vec_id < 20),
         |cand AS (
         |  SELECT DISTINCT query_id, cand_id
         |  FROM probes JOIN cells USING (cell)
         |  WHERE cand_id <> query_id),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) AS cos,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |                 cand_id) AS rnk
         |    FROM cand JOIN n q ON cand.query_id = q.vec_id
         |              JOIN n c ON cand.cand_id = c.vec_id)
         |  WHERE rnk <= 5)
         |SELECT e.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  ROUND(CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
         |    / COUNT(*), 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
         |GROUP BY 1""".stripMargin,


    "q30_cosine_topk" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings)
         |SELECT query_id, cand_id, cos, rnk FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |               c.vec_id) AS rnk
         |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20)
         |WHERE rnk <= 5""".stripMargin,


    "q31_ann_lsh" -> {
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |bands AS ($bandKeysSql),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
         |  FROM bands q JOIN bands c
         |    ON q.bi = c.bi AND q.bk = c.bk AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20)
         |SELECT query_id, cand_id, cos, rnk FROM (
         |  SELECT query_id, cand_id,
         |    ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |               cand_id) AS rnk
         |  FROM cand JOIN n q ON cand.query_id = q.vec_id
         |            JOIN n c ON cand.cand_id = c.vec_id)
         |WHERE rnk <= 3""".stripMargin
    },


    "q70_embed_clusters" ->
      s"""WITH RECURSIVE n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |bands AS ($bandKeysSql),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.bi = b.bi AND a.bk = b.bk AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT id_a, id_b
         |  FROM cand JOIN n a ON cand.id_a = a.vec_id
         |            JOIN n b ON cand.id_b = b.vec_id
         |  WHERE ROUND(${dot("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2), 6) >= 0.3),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id
         |  FROM reach GROUP BY u)
         |SELECT vec_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM comp""".stripMargin,


    "q72_ann_ivf" ->
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
         |cells AS (SELECT vec_id AS cand_id, cent_id AS cell FROM ranked WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cent_id AS cell
         |  FROM ranked WHERE rn <= 2 AND vec_id < 20),
         |cand AS (
         |  SELECT DISTINCT query_id, cand_id
         |  FROM probes JOIN cells USING (cell)
         |  WHERE cand_id <> query_id)
         |SELECT query_id, cand_id, cos, rnk FROM (
         |  SELECT query_id, cand_id,
         |    ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |               cand_id) AS rnk
         |  FROM cand JOIN n q ON cand.query_id = q.vec_id
         |            JOIN n c ON cand.cand_id = c.vec_id)
         |WHERE rnk <= 3""".stripMargin,


    "q154_knn_graph" ->
      s"""WITH $knnGraphCtes
         |SELECT id AS vec_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id,
         |  ROUND(c, 6) + 0.0 AS cos
         |FROM rk WHERE nbr_rank <= 3""".stripMargin,


    "q159_knn_classify" ->
      s"""WITH $knnGraphCtes,
         |votes AS (
         |  SELECT rk.id, l.label AS nbr_label, COUNT(*) AS cnt
         |  FROM rk JOIN embeddings l ON l.vec_id = rk.nbr_id
         |  WHERE rk.nbr_rank <= 5 GROUP BY 1, 2),
         |win AS (
         |  SELECT id, nbr_label, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, nbr_label) AS r
         |  FROM votes)
         |SELECT e.vec_id, e.label, w.nbr_label AS pred_label,
         |  CAST(w.cnt AS BIGINT) AS n_votes, (e.label = w.nbr_label) AS agree
         |FROM embeddings e JOIN win w ON w.id = e.vec_id AND w.r = 1""".stripMargin,


    "q161_matryoshka" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id < 20),
         |sc AS (
         |  SELECT q.qid, c.vec_id AS cid,
         |    ${dot("c.embedding", "q.qe")} /
         |      sqrt(${dot("c.embedding", "c.embedding")} * ${dot("q.qe", "q.qe")})
         |      AS cos_full,
         |    ${dotSub("c.embedding", "q.qe", 16)} /
         |      sqrt(${dotSub("c.embedding", "c.embedding", 16)} *
         |           ${dotSub("q.qe", "q.qe", 16)}) AS cos_sub
         |  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.qid),
         |rf AS (
         |  SELECT qid, cid, cos_full, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cos_full DESC, cid) AS r FROM sc),
         |rs AS (
         |  SELECT qid, cid, cos_sub, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cos_sub DESC, cid) AS r FROM sc)
         |SELECT f.qid AS vec_id, f.cid AS top1_full, s.cid AS top1_sub,
         |  (f.cid = s.cid) AS is_match,
         |  ROUND(f.cos_full, 6) + 0.0 AS cos_full_top,
         |  ROUND(s.cos_sub, 6) + 0.0 AS cos_sub_top
         |FROM rf f JOIN rs s ON f.qid = s.qid AND f.r = 1 AND s.r = 1""".stripMargin,


    "q163_rrf_fusion" ->
      s"""WITH bmq AS (SELECT doc_id, score FROM ($bm25Sql) x),
         |tb AS (SELECT doc_id, r AS rank_a FROM (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
         |  FROM bmq) WHERE r <= 20),
         |cq AS (
         |  SELECT c.vec_id AS doc_id,
         |    ${dot("c.embedding", "q.embedding")} /
         |      sqrt(${dot("c.embedding", "c.embedding")} *
         |           ${dot("q.embedding", "q.embedding")}) AS cos
         |  FROM embeddings c CROSS JOIN
         |    (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |  WHERE c.vec_id <> 0),
         |tc AS (SELECT doc_id, r AS rank_b FROM (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
         |  FROM cq) WHERE r <= 20)
         |SELECT doc_id,
         |  COALESCE(rank_a, 0) AS rank_a, COALESCE(rank_b, 0) AS rank_b,
         |  ROUND(COALESCE(1.0::DOUBLE / (60 + rank_a), 0.0::DOUBLE)
         |      + COALESCE(1.0::DOUBLE / (60 + rank_b), 0.0::DOUBLE), 6) AS rrf
         |FROM tb FULL JOIN tc USING (doc_id)""".stripMargin,


    "q130_rand_projection" -> {
      val m = graft.llm.Similarity.rpMatrix(64, 16)
      val scale = math.rint(math.sqrt(3.0 / 16) * 1e6) / 1e6
      (0 until 16).map { j =>
        val terms = (0 until 64).filter(i => m(i)(j) != 0).map { i =>
          val sign = if (m(i)(j) > 0) "+" else "-"
          s"$sign (embedding[${i + 1}])::DOUBLE"
        }
        val body =
          if (terms.isEmpty) "0.0"
          else terms.mkString(" ").stripPrefix("+ ")
        s"""SELECT vec_id, CAST($j AS BIGINT) AS dim,
           |  ROUND(($body) * $scale, 6) + 0.0 AS val FROM embeddings""".stripMargin
      }.mkString("\nUNION ALL\n")
    },


    "q86_source_drift" ->
      s"""WITH sw AS (
         |  SELECT source, word, COUNT(*) AS c
         |  FROM (SELECT source, unnest($WORDS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |corpus AS (SELECT word, CAST(SUM(c) AS BIGINT) AS cw FROM sw GROUP BY 1),
         |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts FROM sw GROUP BY 1),
         |tc AS (SELECT CAST(SUM(cw) AS BIGINT) AS tc FROM corpus),
         |terms AS (
         |  SELECT source, ts,
         |    ROUND((c::DOUBLE / ts::DOUBLE)
         |      * ROUND(ln(c::DOUBLE / ts::DOUBLE), 6), 10) AS ent_term,
         |    ROUND((c::DOUBLE / ts::DOUBLE)
         |      * ROUND(ln((c::DOUBLE / ts::DOUBLE) / (cw::DOUBLE / tc::DOUBLE)), 6), 10) AS kl_term
         |  FROM sw JOIN corpus USING (word) JOIN totals USING (source) CROSS JOIN tc)
         |SELECT source, MAX(ts) AS n_tokens, COUNT(*) AS n_vocab,
         |  ROUND(-${graft.core.Det.sumDetSql("ent_term", 10)}, 6) AS entropy,
         |  ROUND(${graft.core.Det.sumDetSql("kl_term", 10)}, 6) AS kl_corpus
         |FROM terms GROUP BY 1""".stripMargin,


    "q217_margin_mining" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |fwd AS (
         |  SELECT query_id, cand_id, cos, rnk FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) AS cos,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |                 c.vec_id) AS rnk
         |    FROM n q JOIN n c ON q.vec_id % 2 = 0 AND q.vec_id < 40
         |                     AND c.vec_id % 2 = 1)
         |  WHERE rnk <= 4),
         |favg AS (
         |  SELECT query_id,
         |    CAST(SUM(CAST(cos AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*) AS avg_q
         |  FROM fwd GROUP BY 1),
         |cand AS (SELECT DISTINCT cand_id FROM fwd),
         |bwd AS (
         |  SELECT cid AS cand_id, cos FROM (
         |    SELECT y.vec_id AS cid, s.vec_id AS sid,
         |      ROUND(${dot("y.embedding", "s.embedding")} / sqrt(y.n2 * s.n2), 6) AS cos,
         |      ROW_NUMBER() OVER (PARTITION BY y.vec_id
         |        ORDER BY ROUND(${dot("y.embedding", "s.embedding")} / sqrt(y.n2 * s.n2), 6) DESC,
         |                 s.vec_id) AS rnk
         |    FROM n y JOIN cand ON y.vec_id = cand.cand_id
         |             JOIN n s ON s.vec_id % 2 = 0)
         |  WHERE rnk <= 4),
         |bavg AS (
         |  SELECT cand_id,
         |    CAST(SUM(CAST(cos AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*) AS avg_c
         |  FROM bwd GROUP BY 1)
         |SELECT f.query_id, f.cand_id, f.cos, f.rnk,
         |  ROUND(f.cos / ((avg_q + avg_c) / 2), 6) AS margin
         |FROM fwd f JOIN favg USING (query_id) JOIN bavg USING (cand_id)""".stripMargin,


    "q240_hyperball" -> {
      // Register-step and ball-step CTE generators; the estimator text is
      // q139's verbatim (proven cross-engine double parity).
      def regStep(prev: String, out: String) =
        s"""$out AS (
           |  SELECT v, bucket, MAX(m) AS m FROM (
           |    SELECT * FROM $prev
           |    UNION ALL
           |    SELECT e.v AS v, r.bucket, r.m
           |    FROM edges e JOIN $prev r ON r.v = e.u)
           |  GROUP BY 1, 2)""".stripMargin
      def ballStep(prev: String, out: String) =
        s"""$out AS (
           |  SELECT DISTINCT v, w FROM (
           |    SELECT * FROM $prev
           |    UNION ALL
           |    SELECT e.v AS v, b.w FROM edges e JOIN $prev b ON b.v = e.u))"""
          .stripMargin
      def estCte(reg: String, out: String) =
        s"""$out AS (
           |  SELECT v, CASE WHEN raw <= 160.0 AND zeros > 0
           |    THEN ROUND(64 * ln(CAST(64.0 AS DOUBLE) / zeros), 4)
           |    ELSE ROUND(raw, 4) END AS est
           |  FROM (
           |    SELECT v, 64 - np AS zeros,
           |      CAST(2904.064 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
           |        / CAST(psum + (64 - np)::HUGEINT
           |            * 1152921504606846976::HUGEINT AS DOUBLE) AS raw
           |    FROM (SELECT v, COUNT(*) AS np,
           |            SUM((1::BIGINT << (60 - m))::HUGEINT) AS psum
           |          FROM $reg GROUP BY 1)))""".stripMargin
      def snapCte(est: String, b: String, t: Int, out: String) =
        s"""$out AS (
           |  SELECT CAST($t AS BIGINT) AS t, COUNT(*) AS n_nodes,
           |    ROUND(${graft.core.Det.avgDetSql("est", 4)}, 4) AS avg_est_ball,
           |    ROUND(CAST(SUM(c) AS BIGINT)::DOUBLE / COUNT(*), 6)
           |      AS avg_exact_ball,
           |    ROUND(${graft.core.Det.avgDetSql("err", 4)}, 4) AS mean_abs_err
           |  FROM (
           |    SELECT ee.v, ee.est, x.c,
           |      ROUND(ABS(ee.est - x.c::DOUBLE), 4) AS err
           |    FROM $est ee JOIN (SELECT v, COUNT(*) AS c FROM $b GROUP BY 1) x
           |      USING (v)))""".stripMargin
      s"""WITH RECURSIVE $textClusterCtes,
         |nd AS (SELECT DISTINCT u AS v FROM edges),
         |h0 AS (
         |  SELECT v, ('0x' || substr(md5('hb:' || CAST(v AS VARCHAR)),
         |    1, 15))::BIGINT AS hv
         |  FROM nd),
         |r0 AS (
         |  SELECT v, hv & 63 AS bucket,
         |    CASE WHEN (hv >> 6) = 0 THEN 55
         |         ELSE 55 - length(bin(hv >> 6)) END AS m
         |  FROM h0),
         |${regStep("r0", "r1")},
         |${regStep("r1", "r2")},
         |b0 AS (SELECT v, v AS w FROM nd),
         |${ballStep("b0", "b1")},
         |${ballStep("b1", "b2")},
         |${estCte("r0", "e0")},
         |${estCte("r1", "e1")},
         |${estCte("r2", "e2")},
         |${snapCte("e0", "b0", 0, "s0")},
         |${snapCte("e1", "b1", 1, "s1")},
         |${snapCte("e2", "b2", 2, "s2")}
         |SELECT * FROM s0 UNION ALL SELECT * FROM s1
         |UNION ALL SELECT * FROM s2""".stripMargin
    },


    "q290_hits" -> {
      val S = graft.ops.PageRank.HitsScale
      val iter = (k: Int) =>
        s"""a${k}r AS MATERIALIZED (
           |  SELECT s AS node, CAST(SUM(h) AS BIGINT) AS r
           |  FROM cs JOIN h${k - 1} ON h${k - 1}.node = cs.c GROUP BY 1),
           |a$k AS MATERIALIZED (
           |  SELECT node, (r * $S)
           |    // (SELECT CAST(SUM(r) AS BIGINT) FROM a${k}r) AS a
           |  FROM a${k}r),
           |h${k}r AS MATERIALIZED (
           |  SELECT c AS node, CAST(SUM(a) AS BIGINT) AS r
           |  FROM cs JOIN a$k ON a$k.node = cs.s GROUP BY 1),
           |h$k AS MATERIALIZED (
           |  SELECT node, (r * $S)
           |    // (SELECT CAST(SUM(r) AS BIGINT) FROM h${k}r) AS h
           |  FROM h${k}r)""".stripMargin
      s"""WITH cs AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |h0 AS MATERIALIZED (SELECT DISTINCT c AS node,
         |       CAST($S AS BIGINT) AS h FROM cs),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, 'hub' AS role, h AS score_scaled FROM h5
         |UNION ALL
         |SELECT node, 'authority' AS role, a AS score_scaled
         |FROM a5""".stripMargin
    },


    "q287_lof" ->
      s"""WITH $knnGraphCtes,
         |g AS (
         |  SELECT id AS p, nbr_id AS o, 1.0::DOUBLE - ROUND(c, 6) AS d
         |  FROM rk WHERE nbr_rank <= 3),
         |kd AS (SELECT p, MAX(d) AS kd FROM g GROUP BY 1),
         |lrd AS (
         |  SELECT p, n,
         |    CASE WHEN sr > 0.0::DOUBLE THEN ROUND(n::DOUBLE / sr, 8) END
         |      AS lrd
         |  FROM (
         |    SELECT g.p, COUNT(*) AS n,
         |      CAST(SUM(CAST(GREATEST(k2.kd, g.d) AS DECIMAL(24,6)))
         |        AS DOUBLE) AS sr
         |    FROM g JOIN kd k2 ON k2.p = g.o
         |    GROUP BY 1)),
         |agg AS (
         |  SELECT g.p, COUNT(l2.lrd) AS n_nbrs,
         |    CAST(SUM(CAST(l2.lrd AS DECIMAL(24,8))) AS DOUBLE) AS sl
         |  FROM g JOIN lrd l2 ON l2.p = g.o
         |  GROUP BY 1)
         |SELECT agg.p AS vec_id, n_nbrs, lrd.lrd AS lrd,
         |  ROUND(CASE WHEN lrd.lrd > 0.0::DOUBLE AND n_nbrs > 0
         |    THEN sl / n_nbrs / lrd.lrd END, 6) AS lof
         |FROM agg JOIN lrd ON lrd.p = agg.p""".stripMargin,


    "q288_ann_ndcg" -> {
      val disc = (1 to 5).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
      val idcg = (1 to 5).map(i => (6 - i) * disc(i - 1)).sum
      val dcase = (1 to 5).map(i => s"WHEN rnk = $i THEN ${disc(i - 1)}")
        .mkString(" ")
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |exact AS (
         |  SELECT query_id, cand_id, 6 - rnk AS rel FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ROUND(${dot("q.embedding", "c.embedding")}
         |          / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
         |    FROM n q JOIN n c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 20)
         |  WHERE rnk <= 5),
         |cents AS (
         |  SELECT cent_id, c_emb, c_n2 FROM (
         |    SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2,
         |      ROW_NUMBER() OVER (ORDER BY vec_id) AS crn,
         |      COUNT(*) OVER () AS ccnt
         |    FROM n)
         |  WHERE crn <= CAST(ceil(sqrt(ccnt::DOUBLE)) AS BIGINT)),
         |ranked AS (
         |  SELECT n.vec_id, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |      ORDER BY ${dot("n.embedding", "cents.c_emb")}
         |        / sqrt(n.n2 * cents.c_n2) DESC, cent_id) AS rn
         |  FROM n CROSS JOIN cents),
         |cells AS (SELECT vec_id AS cand_id, cent_id AS cell
         |          FROM ranked WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cent_id AS cell
         |  FROM ranked WHERE rn <= 2 AND vec_id < 20),
         |cand AS (
         |  SELECT DISTINCT query_id, cand_id
         |  FROM probes JOIN cells USING (cell)
         |  WHERE cand_id <> query_id),
         |ann AS (
         |  SELECT query_id, cand_id, rnk FROM (
         |    SELECT query_id, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY ROUND(${dot("q.embedding", "c.embedding")}
         |          / sqrt(q.n2 * c.n2), 6) DESC, cand_id) AS rnk
         |    FROM cand JOIN n q ON cand.query_id = q.vec_id
         |              JOIN n c ON cand.cand_id = c.vec_id)
         |  WHERE rnk <= 5),
         |j AS (
         |  SELECT ann.query_id,
         |    COALESCE(exact.rel, 0) AS rel,
         |    ROUND(COALESCE(exact.rel, 0)::DOUBLE *
         |      (CASE $dcase ELSE 0.0::DOUBLE END), 8) AS g
         |  FROM ann LEFT JOIN exact USING (query_id, cand_id))
         |SELECT query_id,
         |  CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  ROUND(CAST(SUM(CAST(g AS DECIMAL(24,8))) AS DOUBLE), 6)
         |    AS dcg,
         |  ROUND(CAST(SUM(CAST(g AS DECIMAL(24,8))) AS DOUBLE)
         |    / $idcg, 6) AS ndcg
         |FROM j GROUP BY 1""".stripMargin
    },


    "q285_participation_ratio" ->
      s"""WITH $topPcCtes
         |SELECT 64 AS dim, ROUND(tr2, 8) AS trace,
         |  ROUND(f2, 10) AS frobenius_sq,
         |  ROUND(CASE WHEN f2 > 0.0::DOUBLE THEN tr2 * tr2 / f2 END, 4)
         |    AS participation_ratio
         |FROM (
         |  SELECT
         |    CAST(SUM(CASE WHEN i = j
         |      THEN CAST(ROUND(cov, 12) AS DECIMAL(24,12))
         |      ELSE CAST(0.0 AS DECIMAL(24,12)) END) AS DOUBLE) AS tr2,
         |    CAST(SUM(CAST(ROUND(cov * cov, 14) AS DECIMAL(24,14)))
         |      AS DOUBLE) AS f2
         |  FROM cov)""".stripMargin,


    "q286_twonn" ->
      s"""WITH $knnGraphCtes,
         |p AS (
         |  SELECT id,
         |    MAX(CASE WHEN nbr_rank = 1 THEN ROUND(c, 6) END) AS c1,
         |    MAX(CASE WHEN nbr_rank = 2 THEN ROUND(c, 6) END) AS c2
         |  FROM rk WHERE nbr_rank <= 2 GROUP BY 1),
         |l AS (
         |  SELECT ROUND(ln((1.0::DOUBLE - c2) / (1.0::DOUBLE - c1)), 8)
         |    AS lg
         |  FROM p WHERE c2 IS NOT NULL AND c1 < 1.0::DOUBLE),
         |a AS (
         |  SELECT COUNT(*) AS n_used,
         |    CAST(SUM(CAST(lg AS DECIMAL(24,8))) AS DOUBLE) AS s
         |  FROM l)
         |SELECT n_used, ROUND(s, 6) AS sum_log,
         |  ROUND(CASE WHEN s > 0.0::DOUBLE THEN n_used::DOUBLE / s END, 4)
         |    AS intrinsic_dim
         |FROM a""".stripMargin,


    "q273_clustering_coeff" ->
      s"""WITH $lshCandCtes,
         |pairs AS (
         |  SELECT id_a, id_b FROM cand
         |  JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
         |  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))
         |    ::DOUBLE / len(list_distinct(sa.shingles || sb.shingles)), 6)
         |    >= 0.3),
         |e AS (SELECT id_a AS u, id_b AS v FROM pairs),
         |deg AS (
         |  SELECT id, COUNT(*) AS deg FROM (
         |    SELECT u AS id FROM e UNION ALL SELECT v FROM e)
         |  GROUP BY 1),
         |tri AS (
         |  SELECT id, COUNT(*) AS t FROM (
         |    SELECT unnest([e1.u, e1.v, e2.v]) AS id
         |    FROM e e1 JOIN e e2 ON e1.v = e2.u
         |    WHERE EXISTS (SELECT 1 FROM e e3
         |                  WHERE e3.u = e1.u AND e3.v = e2.v))
         |  GROUP BY 1)
         |SELECT deg.id, deg.deg, COALESCE(t, 0) AS n_triangles,
         |  CASE WHEN deg >= 2 THEN ROUND(
         |    2.0::DOUBLE * COALESCE(t, 0) / (deg * (deg - 1)), 6) END
         |    AS local_cc
         |FROM deg LEFT JOIN tri USING (id)""".stripMargin,


    "q274_assortativity" ->
      s"""WITH $lshCandCtes,
         |pairs AS (
         |  SELECT id_a, id_b FROM cand
         |  JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
         |  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))
         |    ::DOUBLE / len(list_distinct(sa.shingles || sb.shingles)), 6)
         |    >= 0.3),
         |dir AS (SELECT id_a AS u, id_b AS v FROM pairs
         |        UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT u, COUNT(*) AS d FROM dir GROUP BY 1),
         |xy AS (
         |  SELECT dx.d AS x, dy.d AS y
         |  FROM dir JOIN deg dx ON dx.u = dir.u
         |  JOIN deg dy ON dy.u = dir.v),
         |a AS (
         |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM xy),
         |b AS (
         |  SELECT n, sxy, sx, sy,
         |    n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
         |  FROM a)
         |SELECT n AS n_dir_edges,
         |  ROUND(CASE WHEN vx > 0 AND vy > 0 THEN
         |    CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         |      / sqrt(CAST(CAST(vx AS VARCHAR) AS DOUBLE)
         |        * CAST(CAST(vy AS VARCHAR) AS DOUBLE)) END, 6) + 0.0
         |    AS assortativity
         |FROM b""".stripMargin,


    "q259_knn_shapley" ->
      s"""WITH n AS (
         |  SELECT vec_id, label, embedding,
         |    ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |r AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ROUND(${dot("q.embedding", "c.embedding")}
         |        / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk,
         |    CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS m
         |  FROM n q JOIN n c ON c.vec_id >= 20
         |  WHERE q.vec_id < 20),
         |d AS (
         |  SELECT query_id, cand_id, rnk, m,
         |    COUNT(*) OVER (PARTITION BY query_id) AS nn,
         |    LEAD(m) OVER (PARTITION BY query_id ORDER BY rnk) AS m2
         |  FROM r),
         |s AS (
         |  SELECT query_id, cand_id,
         |    SUM(CASE WHEN rnk < nn THEN CAST(FLOOR(
         |        ((m - m2) * LEAST(5, rnk))::DOUBLE / (5 * rnk)
         |          * 1073741824 + 0.5) AS BIGINT) ELSE 0 END)
         |      OVER (PARTITION BY query_id ORDER BY rnk DESC
         |        ROWS UNBOUNDED PRECEDING)
         |    + MAX(CASE WHEN rnk = nn THEN CAST(FLOOR(
         |        m::DOUBLE / nn * 1073741824 + 0.5) AS BIGINT) END)
         |      OVER (PARTITION BY query_id) AS s_scaled
         |  FROM d)
         |SELECT cand_id AS vec_id, COUNT(*) AS n_queries,
         |  ROUND(CAST(SUM(s_scaled) AS BIGINT)::DOUBLE / 1073741824
         |    / COUNT(*), 6) + 0.0 AS shap_mean
         |FROM s GROUP BY 1""".stripMargin,


    "q261_label_prop" -> {
      def iterCte(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT u AS id, lab FROM (
           |    SELECT e.u AS u, l.lab AS lab, COUNT(*) AS c,
           |      ROW_NUMBER() OVER (PARTITION BY e.u
           |        ORDER BY COUNT(*) DESC, l.lab) AS rn
           |    FROM edges e JOIN $prev l ON l.id = e.v
           |    GROUP BY e.u, l.lab)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $lshCandCtes,
         |pairs AS (
         |  SELECT id_a, id_b FROM cand
         |  JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
         |  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))
         |    ::DOUBLE / len(list_distinct(sa.shingles || sb.shingles)), 6)
         |    >= 0.3),
         |edges AS (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT id_a AS u, id_b AS v FROM pairs
         |    UNION ALL SELECT id_b, id_a FROM pairs)),
         |l0 AS (SELECT DISTINCT u AS id, u AS lab FROM edges),
         |${iterCte("l0", "l1")},
         |${iterCte("l1", "l2")},
         |${iterCte("l2", "l3")},
         |${iterCte("l3", "l4")}
         |SELECT id, lab AS community,
         |  COUNT(*) OVER (PARTITION BY lab) AS community_size
         |FROM l4""".stripMargin
    },


    "q246_mmd" ->
      s"""WITH s AS (
         |  SELECT label, pos,
         |    CAST(SUM(CAST(ROUND(embedding[pos]::DOUBLE, 6)
         |      AS DECIMAL(24,6))) AS DOUBLE) AS s
         |  FROM embeddings, unnest(range(1, 65)) AS t(pos)
         |  GROUP BY 1, 2),
         |st AS (
         |  SELECT label, COUNT(*) AS m,
         |    CAST(SUM(CAST(ROUND(${dot("embedding", "embedding")}, 6)
         |      AS DECIMAL(24,6))) AS DOUBLE) AS q
         |  FROM embeddings GROUP BY 1),
         |sf AS (
         |  SELECT label,
         |    CAST(SUM(CAST(ROUND(s * s, 6) AS DECIMAL(24,6))) AS DOUBLE)
         |      AS ss
         |  FROM s GROUP BY 1),
         |cx AS (
         |  SELECT a.label AS label_a, b.label AS label_b,
         |    CAST(SUM(CAST(ROUND(a.s * b.s, 6) AS DECIMAL(24,6)))
         |      AS DOUBLE) AS sab
         |  FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
         |  GROUP BY 1, 2)
         |SELECT label_a, label_b, sa.m AS m_a, sb.m AS m_b,
         |  ROUND((sfa.ss - sa.q) / CAST(sa.m * (sa.m - 1) AS DOUBLE)
         |    + (sfb.ss - sb.q) / CAST(sb.m * (sb.m - 1) AS DOUBLE)
         |    - 2.0 * sab / CAST(sa.m * sb.m AS DOUBLE), 6) AS mmd2
         |FROM cx
         |JOIN st sa ON sa.label = cx.label_a
         |JOIN st sb ON sb.label = cx.label_b
         |JOIN sf sfa ON sfa.label = cx.label_a
         |JOIN sf sfb ON sfb.label = cx.label_b""".stripMargin,


    "q247_silhouette" ->
      s"""WITH $kmeansCtes,
         |sil0 AS (
         |  SELECT n.vec_id, c.cluster,
         |    n.n2 + c.c_n2 - 2.0 * ${dot("n.embedding", "c.c_emb")} AS d2,
         |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |      n.n2 + c.c_n2 - 2.0 * ${dot("n.embedding", "c.c_emb")},
         |      c.cluster) AS rn
         |  FROM n CROSS JOIN cents1 c),
         |silp AS (
         |  SELECT o.vec_id, o.cluster,
         |    sqrt(greatest(o.d2, 0.0::DOUBLE)) AS a,
         |    sqrt(greatest(q.d2, 0.0::DOUBLE)) AS b
         |  FROM sil0 o JOIN sil0 q
         |    ON o.vec_id = q.vec_id AND q.rn = 2
         |  WHERE o.rn = 1),
         |sils AS (
         |  SELECT cluster, ROUND(a, 6) AS a6, ROUND(b, 6) AS b6,
         |    ROUND(CASE WHEN greatest(a, b) > 0.0::DOUBLE
         |      THEN (b - a) / greatest(a, b) ELSE 0.0::DOUBLE END, 6) AS s6
         |  FROM silp)
         |SELECT cluster, COUNT(*) AS n_points,
         |  ROUND(${graft.core.Det.avgDetSql("a6", 6)}, 6) AS avg_a,
         |  ROUND(${graft.core.Det.avgDetSql("b6", 6)}, 6) AS avg_b,
         |  ROUND(${graft.core.Det.avgDetSql("s6", 6)}, 6) AS avg_silhouette
         |FROM sils GROUP BY 1""".stripMargin,


    "q225_embedding_divergence" -> {
      val m = graft.llm.Similarity.rpMatrix(64, 4)
      val scale = math.rint(math.sqrt(3.0 / 4) * 1e6) / 1e6
      val projCols = (0 until 4).map { j =>
        val terms = (0 until 64).filter(i => m(i)(j) != 0).map { i =>
          val sign = if (m(i)(j) > 0) "+" else "-"
          s"$sign (e.embedding[${i + 1}])::DOUBLE"
        }
        val body =
          if (terms.isEmpty) "0.0" else terms.mkString(" ").stripPrefix("+ ")
        s"ROUND(($body) * $scale, 6) + 0.0 AS p$j"
      }.mkString(",\n    ")
      val cellExpr = (0 until 4).map { j =>
        s"CASE WHEN p$j >= 0 THEN ${1 << (3 - j)} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH pr AS (
         |  SELECT d.source AS g,
         |    $projCols
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |cellt AS (SELECT g, CAST($cellExpr AS BIGINT) AS cell FROM pr),
         |counts AS (SELECT g, cell, COUNT(*) AS c FROM cellt GROUP BY 1, 2),
         |totals AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts
         |           GROUP BY 1),
         |filled AS (
         |  SELECT t.g, r.range AS cell, t.n,
         |    (COALESCE(c.c, 0) + 1)::DOUBLE / (t.n + 16) AS p
         |  FROM totals t CROSS JOIN range(16) r
         |  LEFT JOIN counts c ON c.g = t.g AND c.cell = r.range),
         |pairs AS (
         |  SELECT a.g AS src_a, b.g AS src_b, a.n AS n_a, b.n AS n_b,
         |    ROUND((a.p * ln(a.p / ((a.p + b.p) / 2)) +
         |           b.p * ln(b.p / ((a.p + b.p) / 2))) / 2, 8) AS term
         |  FROM filled a JOIN filled b ON a.cell = b.cell AND a.g < b.g),
         |agg AS (
         |  SELECT src_a, src_b, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
         |    ${graft.core.Det.roundSumDetSql("term", 8, 6)} AS js_divergence
         |  FROM pairs GROUP BY 1, 2)
         |SELECT src_a, src_b, n_a, n_b, js_divergence,
         |  ROUND(sqrt(GREATEST(js_divergence, 0.0::DOUBLE)), 6) AS js_dist
         |FROM agg""".stripMargin
    },


    "q146_cluster_purity" ->
      s"""WITH $kmeansCtes,
         |lab AS (
         |  SELECT a2.vec_id, a2.cluster, e.label
         |  FROM a2 JOIN embeddings e USING (vec_id)),
         |cnt AS (SELECT cluster, label, COUNT(*) AS n_l FROM lab GROUP BY 1, 2),
         |top AS (
         |  SELECT cluster, label AS top_label, n_l AS top_n,
         |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_l DESC, label)
         |      AS rn
         |  FROM cnt)
         |SELECT c.cluster, CAST(SUM(c.n_l) AS BIGINT) AS n,
         |  MAX(t.top_label) AS top_label, MAX(t.top_n) AS top_n,
         |  ROUND(MAX(t.top_n)::DOUBLE / SUM(c.n_l), 6) AS purity
         |FROM cnt c JOIN top t ON c.cluster = t.cluster AND t.rn = 1
         |GROUP BY c.cluster""".stripMargin,


    "q147_hard_negatives" ->
      s"""WITH n AS (
         |  SELECT vec_id, label, embedding,
         |    ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings)
         |SELECT query_id, q_label, cand_id, cand_label, cos, rnk FROM (
         |  SELECT q.vec_id AS query_id, q.label AS q_label,
         |    c.vec_id AS cand_id, c.label AS cand_label,
         |    ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |      c.vec_id) AS rnk
         |  FROM n q JOIN n c
         |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id AND q.label <> c.label)
         |WHERE rnk <= 5""".stripMargin,


    "q190_int8_quant" ->
      """WITH c AS (
        |  SELECT i.i - 1 AS pos, CAST(embedding[i.i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, 65)) AS i(i)),
        |r AS (
        |  SELECT pos, MIN(x) AS mn, MAX(x) AS mx,
        |    (MAX(x) - MIN(x)) / 255.0 AS scale
        |  FROM c GROUP BY 1),
        |q AS (
        |  SELECT c.pos, r.mn, r.mx, r.scale, c.x,
        |    CASE WHEN r.scale = 0 THEN 0
        |      ELSE CAST(FLOOR((c.x - r.mn) / r.scale + 0.5) AS BIGINT)
        |    END AS code
        |  FROM c JOIN r USING (pos)),
        |e2 AS (
        |  SELECT pos, mn, mx, scale,
        |    ABS(x - (mn + code::DOUBLE * scale)) AS err
        |  FROM q)
        |SELECT CAST(pos AS INT) AS pos, MIN(mn) AS mn, MAX(mx) AS mx,
        |  MIN(scale) AS scale, MAX(err) AS max_abs_err,
        |  CAST(SUM(CAST(FLOOR(err * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / COUNT(*) / 1e9 AS mean_abs_err
        |FROM e2 GROUP BY pos""".stripMargin,


    "q191_top_pc" -> topPcSql,


    "q192_abtt" -> abttSql,


    "q195_kcenter" -> kCenterSql,


    // q30's exact chain + the band/probe matches: bit flips as the
    // portable arithmetic k + m - 2*(k & m), probes = the band key plus
    // its 8 single-bit perturbations.
    "q198_multiprobe" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |bands AS ($bandKeysSql),
         |qb AS (SELECT vec_id, bi, bk FROM bands WHERE vec_id < 20),
         |probes AS (
         |  SELECT vec_id, bi,
         |    CASE WHEN t.p < 0 THEN bk
         |         ELSE bk + (1 << t.p) - 2 * (bk & (1 << t.p)) END AS pk
         |  FROM qb, unnest(range(-1, 8)) AS t(p)),
         |plain AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
         |  FROM qb q JOIN bands c ON q.bi = c.bi AND q.bk = c.bk
         |  WHERE q.vec_id <> c.vec_id),
         |mp AS (
         |  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS cand_id
         |  FROM probes p JOIN bands c ON p.bi = c.bi AND p.pk = c.bk
         |  WHERE p.vec_id <> c.vec_id),
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ROUND(${dot("q.embedding", "c.embedding")}
         |          / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
         |    FROM n q JOIN n c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 20)
         |  WHERE rnk <= 5)
         |SELECT e.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN pl.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hits_plain,
         |  CAST(SUM(CASE WHEN mp.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hits_mp,
         |  ROUND(CAST(SUM(CASE WHEN pl.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT)::DOUBLE / COUNT(*), 6) AS recall_plain,
         |  ROUND(CAST(SUM(CASE WHEN mp.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT)::DOUBLE / COUNT(*), 6) AS recall_mp
         |FROM exact e
         |LEFT JOIN plain pl ON pl.query_id = e.query_id AND pl.cand_id = e.cand_id
         |LEFT JOIN mp ON mp.query_id = e.query_id AND mp.cand_id = e.cand_id
         |GROUP BY 1""".stripMargin,


    "q207_label_separation" ->
      s"""WITH sv AS (
         |  SELECT CAST(label AS BIGINT) AS label, list_transform(embedding,
         |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 16777216 + 0.5) AS BIGINT))
         |    AS s
         |  FROM embeddings),
         |c0 AS (
         |  SELECT label, ii.i AS i, CAST(SUM(s[ii.i]) AS BIGINT) AS si,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM sv, unnest(range(1, 65)) AS ii(i) GROUP BY 1, 2),
         |c1 AS (SELECT label, MAX(n) AS n, list(si ORDER BY i) AS sil
         |       FROM c0 GROUP BY 1),
         |c2 AS (SELECT label, n, list_transform(sil,
         |         x -> (CAST(x AS DOUBLE) / 16777216.0) / n) AS c FROM c1),
         |c3 AS (SELECT label, n, c, ${dot("c", "c")} AS cn2 FROM c2),
         |own AS (
         |  SELECT e.label, ROUND(${dot("e.embedding", "c3.c")} /
         |    sqrt(${dot("e.embedding", "e.embedding")} * c3.cn2), 6) AS cos
         |  FROM embeddings e JOIN c3 ON c3.label = e.label),
         |intra AS (
         |  SELECT label, ROUND(${graft.core.Det.sumDetSql("cos", 6)}
         |    / COUNT(*), 6) AS mean_intra_cos
         |  FROM own GROUP BY 1)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  ROUND(${dot("a.c", "b.c")} / sqrt(a.cn2 * b.cn2), 6)
         |    AS centroid_cos,
         |  CASE WHEN a.label = b.label THEN a.n END AS n_vecs,
         |  i.mean_intra_cos
         |FROM c3 a CROSS JOIN c3 b
         |LEFT JOIN intra i ON i.label = a.label AND a.label = b.label""".stripMargin,


    // HLL registers are max-mergeable, so the incremental path equals
    // the from-scratch t=2 run register-for-register; the oracle
    // recomputes the direct registers (q240's CTE machinery verbatim)
    // and asserts full agreement plus the t=2 estimate.
    "q296_hyperball_persist" -> {
      def regStep(prev: String, out: String) =
        s"""$out AS (
           |  SELECT v, bucket, MAX(m) AS m FROM (
           |    SELECT * FROM $prev
           |    UNION ALL
           |    SELECT e.v AS v, r.bucket, r.m
           |    FROM edges e JOIN $prev r ON r.v = e.u)
           |  GROUP BY 1, 2)""".stripMargin
      def estCte(reg: String, out: String) =
        s"""$out AS (
           |  SELECT v, CASE WHEN raw <= 160.0 AND zeros > 0
           |    THEN ROUND(64 * ln(CAST(64.0 AS DOUBLE) / zeros), 4)
           |    ELSE ROUND(raw, 4) END AS est
           |  FROM (
           |    SELECT v, 64 - np AS zeros,
           |      CAST(2904.064 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
           |        / CAST(psum + (64 - np)::HUGEINT
           |            * 1152921504606846976::HUGEINT AS DOUBLE) AS raw
           |    FROM (SELECT v, COUNT(*) AS np,
           |            SUM((1::BIGINT << (60 - m))::HUGEINT) AS psum
           |          FROM $reg GROUP BY 1)))""".stripMargin
      s"""WITH RECURSIVE $textClusterCtes,
         |nd AS (SELECT DISTINCT u AS v FROM edges),
         |h0 AS (
         |  SELECT v, ('0x' || substr(md5('hb:' || CAST(v AS VARCHAR)),
         |    1, 15))::BIGINT AS hv
         |  FROM nd),
         |r0 AS (
         |  SELECT v, hv & 63 AS bucket,
         |    CASE WHEN (hv >> 6) = 0 THEN 55
         |         ELSE 55 - length(bin(hv >> 6)) END AS m
         |  FROM h0),
         |${regStep("r0", "r1")},
         |${regStep("r1", "r2")},
         |${estCte("r2", "e2")},
         |cnt AS (SELECT COUNT(*) AS n_registers FROM r2)
         |SELECT (SELECT COUNT(*) FROM nd) AS n_nodes,
         |  cnt.n_registers, cnt.n_registers AS n_eq_registers,
         |  TRUE AS merge_exact,
         |  (SELECT ROUND(${graft.core.Det.avgDetSql("est", 4)}, 4) FROM e2)
         |    AS avg_est_t2
         |FROM cnt""".stripMargin
    },


    // The per-round survivor sets are each referenced three times (two
    // edge-filter legs + the tally) and chain three levels deep — every
    // round CTE is AS MATERIALIZED or DuckDB's per-reference inlining
    // re-expands the chain exponentially (the q290 HITS oracle lesson).
    "q297_kcore" -> {
      def peel(prevA: String, prevE: String, a: String, e: String) =
        s"""$a AS MATERIALIZED (
           |  SELECT u FROM (
           |    SELECT u, COUNT(*) AS d FROM $prevE GROUP BY 1)
           |  WHERE d >= 2),
           |$e AS MATERIALIZED (
           |  SELECT pe.u, pe.v FROM $prevE pe
           |  JOIN $a x ON x.u = pe.u JOIN $a y ON y.u = pe.v)""".stripMargin
      def row(r: Int, a: String, e: String, prevA: String) =
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT COUNT(*) FROM $a) AS n_alive,
           |  (SELECT COUNT(*) FROM $e) AS n_dir_edges,
           |  CAST((SELECT COUNT(*) FROM $prevA)
           |    - (SELECT COUNT(*) FROM $a) AS BIGINT) AS n_removed"""
          .stripMargin
      s"""WITH RECURSIVE $textClusterCtes,
         |e0 AS MATERIALIZED (SELECT u, v FROM edges),
         |a0 AS MATERIALIZED (SELECT DISTINCT u FROM e0),
         |${peel("a0", "e0", "a1", "e1")},
         |${peel("a1", "e1", "a2", "e2")},
         |${peel("a2", "e2", "a3", "e3")}
         |${row(0, "a0", "e0", "a0")}
         |UNION ALL ${row(1, "a1", "e1", "a0")}
         |UNION ALL ${row(2, "a2", "e2", "a1")}
         |UNION ALL ${row(3, "a3", "e3", "a2")}""".stripMargin
    },


    "q302_sq8_recall" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ROUND(${dot("q.embedding", "c.embedding")} / sqrt(q.n2 * c.n2), 6) DESC,
         |        c.vec_id) AS rnk
         |    FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |  WHERE rnk <= 5),
         |c AS (
         |  SELECT vec_id, i.i AS i, CAST(embedding[i.i] AS DOUBLE) AS x
         |  FROM embeddings, unnest(range(1, 65)) AS i(i)),
         |r AS (
         |  SELECT i, MIN(x) AS mn, (MAX(x) - MIN(x)) / 255.0 AS sc
         |  FROM c GROUP BY 1),
         |dq AS (
         |  SELECT vec_id, list(CASE WHEN sc = 0 THEN mn
         |    ELSE mn + LEAST(255.0::DOUBLE, GREATEST(0.0::DOUBLE,
         |      FLOOR((x - mn) / sc + 0.5))) * sc END ORDER BY i) AS e
         |  FROM c JOIN r USING (i) GROUP BY 1),
         |dn AS (SELECT vec_id, e, ${dot("e", "e")} AS n2 FROM dq),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ROUND(${dot("q.e", "c.e")} / sqrt(q.n2 * c.n2), 6) DESC,
         |        c.vec_id) AS rnk
         |    FROM dn q JOIN dn c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |  WHERE rnk <= 5)
         |SELECT e.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  ROUND(CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
         |    / COUNT(*), 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
         |GROUP BY 1""".stripMargin,


    "q305_ivf_cell_drift" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |o AS (SELECT * FROM n WHERE vec_id % 2 = 0),
         |nw AS (SELECT * FROM n WHERE vec_id % 2 = 1),
         |cents AS (
         |  SELECT cent_id, c_emb, c_n2 FROM (
         |    SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2,
         |      ROW_NUMBER() OVER (ORDER BY vec_id) AS crn,
         |      COUNT(*) OVER () AS ccnt
         |    FROM o)
         |  WHERE crn <= CAST(ceil(sqrt(ccnt::DOUBLE)) AS BIGINT)),
         |lst AS (SELECT COUNT(*) AS l FROM cents),
         |ao AS (
         |  SELECT cent_id AS cell, COUNT(*) AS n_old FROM (
         |    SELECT o.vec_id, cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY o.vec_id ORDER BY
         |        ${dot("o.embedding", "cents.c_emb")} / sqrt(o.n2 * cents.c_n2) DESC,
         |        cent_id) AS rn
         |    FROM o CROSS JOIN cents)
         |  WHERE rn = 1 GROUP BY 1),
         |an AS (
         |  SELECT cent_id AS cell, COUNT(*) AS n_new FROM (
         |    SELECT nw.vec_id, cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY nw.vec_id ORDER BY
         |        ${dot("nw.embedding", "cents.c_emb")} / sqrt(nw.n2 * cents.c_n2) DESC,
         |        cent_id) AS rn
         |    FROM nw CROSS JOIN cents)
         |  WHERE rn = 1 GROUP BY 1),
         |byc AS (
         |  SELECT cent_id AS cell, COALESCE(n_old, 0) AS n_old,
         |    COALESCE(n_new, 0) AS n_new,
         |    COALESCE(n_old, 0) + COALESCE(n_new, 0) AS n_total
         |  FROM cents LEFT JOIN ao ON ao.cell = cents.cent_id
         |             LEFT JOIN an ON an.cell = cents.cent_id),
         |tot AS (SELECT CAST(SUM(n_total) AS BIGINT) AS nn FROM byc)
         |SELECT cell, n_old, n_new, n_total,
         |  CAST(CAST(CAST(n_total AS HUGEINT) * l AS VARCHAR) AS DOUBLE)
         |    / nn::DOUBLE AS load_factor,
         |  CAST(n_total AS HUGEINT) * l > CAST(nn AS HUGEINT) * 2
         |    AS needs_split
         |FROM byc, tot, lst""".stripMargin,


    "q306_centroid_drift" ->
      s"""WITH s AS (
         |  SELECT label, vec_id % 2 AS b, i.i AS d,
         |    CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 16777216 + 0.5)
         |      AS BIGINT) AS sv
         |  FROM embeddings, unnest(range(1, 65)) AS i(i)),
         |g AS (
         |  SELECT label, b, d, SUM(sv) AS sm, COUNT(*) AS c
         |  FROM s GROUP BY 1, 2, 3),
         |j AS (
         |  SELECT o.label, o.sm AS so, n.sm AS sn, o.c AS co, n.c AS cn
         |  FROM g o JOIN g n ON o.label = n.label AND o.d = n.d
         |  WHERE o.b = 0 AND n.b = 1),
         |a AS (
         |  SELECT label, MAX(co) AS n_old, MAX(cn) AS n_new,
         |    SUM(so * sn) AS xy, SUM(so * so) AS xx, SUM(sn * sn) AS yy
         |  FROM j GROUP BY 1)
         |SELECT label, n_old, n_new,
         |  CASE WHEN xx > 0 AND yy > 0 THEN
         |    CAST(CAST(xy AS VARCHAR) AS DOUBLE) /
         |      sqrt(CAST(CAST(xx AS VARCHAR) AS DOUBLE)
         |        * CAST(CAST(yy AS VARCHAR) AS DOUBLE)) END AS cos_centroid,
         |  1.0::DOUBLE - (CASE WHEN xx > 0 AND yy > 0 THEN
         |    CAST(CAST(xy AS VARCHAR) AS DOUBLE) /
         |      sqrt(CAST(CAST(xx AS VARCHAR) AS DOUBLE)
         |        * CAST(CAST(yy AS VARCHAR) AS DOUBLE)) END) AS drift
         |FROM a""".stripMargin,


    "q311_hubness" ->
      s"""WITH $knnGraphCtes,
         |kcn AS (
         |  SELECT nbr_id, CAST(COUNT(*) AS BIGINT) AS kc
         |  FROM rk WHERE nbr_rank <= 3 GROUP BY 1),
         |kocc AS (
         |  SELECT e.vec_id, COALESCE(kcn.kc, 0) AS kc
         |  FROM embeddings e LEFT JOIN kcn ON kcn.nbr_id = e.vec_id),
         |a AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN kc = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_antihubs,
         |    CAST(SUM(CASE WHEN kc > 6 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hubs,
         |    MAX(kc) AS max_kocc,
         |    SUM(CAST(kc AS HUGEINT)) AS s1,
         |    SUM(CAST(kc AS HUGEINT) * kc) AS s2,
         |    SUM(CAST(kc AS HUGEINT) * kc * kc) AS s3
         |  FROM kocc),
         |b AS (
         |  SELECT n, n_antihubs, n_hubs, max_kocc, s1,
         |    n * s2 - s1 * s1 AS v2,
         |    n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS v3
         |  FROM a)
         |SELECT n AS n_nodes, n_antihubs, n_hubs, max_kocc,
         |  CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
         |    AS mean_kocc,
         |  CASE WHEN v2 > 0 THEN
         |    (CAST(CAST(v3 AS VARCHAR) AS DOUBLE)
         |       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         |    / ((CAST(CAST(v2 AS VARCHAR) AS DOUBLE)
         |         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         |       * sqrt(CAST(CAST(v2 AS VARCHAR) AS DOUBLE)
         |         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
         |  END AS skew_kocc
         |FROM b""".stripMargin,


    "q312_ivf_boundary" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |cents AS (
         |  SELECT cent_id, c_emb, c_n2 FROM (
         |    SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2,
         |      ROW_NUMBER() OVER (ORDER BY vec_id) AS crn,
         |      COUNT(*) OVER () AS ccnt
         |    FROM n)
         |  WHERE crn <= CAST(ceil(sqrt(ccnt::DOUBLE)) AS BIGINT)),
         |ranked AS (
         |  SELECT n.vec_id, cent_id,
         |    ${dot("n.embedding", "cents.c_emb")} / sqrt(n.n2 * cents.c_n2)
         |      AS cc,
         |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${dot("n.embedding", "cents.c_emb")} / sqrt(n.n2 * cents.c_n2) DESC,
         |      cent_id) AS rn
         |  FROM n CROSS JOIN cents),
         |t AS (
         |  SELECT vec_id,
         |    MAX(CASE WHEN rn = 1 THEN cent_id END) AS cell,
         |    MAX(CASE WHEN rn = 1 THEN cc END) AS c1,
         |    MAX(CASE WHEN rn = 2 THEN cc END) AS c2
         |  FROM ranked WHERE rn <= 2 GROUP BY 1)
         |SELECT cell, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN c1 - c2 < 0.05::DOUBLE THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_boundary,
         |  CAST(SUM(CASE WHEN c1 - c2 < 0.05::DOUBLE THEN 1 ELSE 0 END)
         |    AS BIGINT)::DOUBLE / COUNT(*) AS boundary_frac
         |FROM t GROUP BY 1""".stripMargin,


    "q313_ivf_cell_split" ->
      s"""WITH ${ivfSplitCtes(6, 5)},
         |rows_ AS (
         |  SELECT b.cell, CAST(0 AS BIGINT) AS sub, b.n_total AS n_vecs,
         |    FALSE AS was_split
         |  FROM byc b LEFT JOIN flag f ON f.cell = b.cell
         |  WHERE f.cell IS NULL
         |  UNION ALL
         |  SELECT f.cell, t.j AS sub, COUNT(a2.vec_id) AS n_vecs,
         |    TRUE AS was_split
         |  FROM flag f
         |  CROSS JOIN (SELECT CAST(0 AS BIGINT) AS j
         |              UNION ALL SELECT CAST(1 AS BIGINT)) t
         |  LEFT JOIN asg2 a2 ON a2.cell = f.cell AND a2.sub = t.j
         |  GROUP BY 1, 2)
         |SELECT cell, sub, n_vecs, was_split,
         |  CAST(CAST(CAST(n_vecs AS HUGEINT) * (l + nsplit) AS VARCHAR)
         |    AS DOUBLE) / nn::DOUBLE AS load_factor
         |FROM rows_, lst, tot, nf""".stripMargin,


    "q314_ivf_split_recall" -> ivfSplitRecallSql,

    // Persisted-index round trip: value-identical to the live q314
    // build, so it shares q314's oracle verbatim — a hash match
    // certifies the on-disk artifacts reproduce the live search.
    "q319_ivf_split_persist" -> ivfSplitRecallSql,

    // Arrival write-back: the updated index must be value-identical to
    // the from-scratch rebuild over corpus + arrivals (= q314's build),
    // so it shares q314's oracle verbatim — the hash match IS the
    // rebuild-parity proof.
    "q324_ivf_split_update" -> ivfSplitRecallSql
  )

  /** q314's recall-vs-exact oracle over the split index — also the
    * q319 oracle (the persisted index must reproduce it exactly). */
  private def ivfSplitRecallSql: String =
      s"""WITH ${ivfSplitCtes(6, 5)},
         |surv AS (
         |  SELECT cents.cent_id AS cell, CAST(0 AS BIGINT) AS sub, c_emb
         |  FROM cents LEFT JOIN flag f ON f.cell = cents.cent_id
         |  WHERE f.cell IS NULL),
         |survd AS (
         |  SELECT cell, sub, i.i AS d,
         |    CAST(CAST(FLOOR(CAST(c_emb[i.i] AS DOUBLE) * 16777216 + 0.5)
         |      AS BIGINT) AS HUGEINT) AS sv
         |  FROM surv, unnest(range(1, 65)) AS i(i)),
         |ncd AS (SELECT * FROM survd
         |  UNION ALL SELECT cell, j AS sub, d, sv FROM csum),
         |ncn AS (SELECT cell, sub, SUM(sv * sv) AS cn2 FROM ncd
         |  GROUP BY 1, 2),
         |qv AS (
         |  SELECT vec_id AS query_id,
         |    list_transform(range(1, 65), i -> CAST(FLOOR(
         |      CAST(embedding[i] AS DOUBLE) * 16777216 + 0.5) AS BIGINT))
         |      AS mx
         |  FROM embeddings WHERE vec_id < 20),
         |qv2 AS (SELECT query_id, mx,
         |    list_reduce(list_transform(range(1, 65), i -> mx[i] * mx[i]),
         |      (x, y) -> x + y) AS mn2 FROM qv),
         |pd AS (
         |  SELECT q.query_id, c.cell, c.sub,
         |    SUM(CAST(q.mx[c.d] AS HUGEINT) * c.sv) AS dt
         |  FROM qv2 q CROSS JOIN ncd c GROUP BY 1, 2, 3),
         |pc AS (SELECT query_id, cell, sub FROM (
         |    SELECT p.query_id, p.cell, p.sub,
         |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
         |        CAST(CAST(p.dt AS VARCHAR) AS DOUBLE) /
         |          sqrt(q.mn2::DOUBLE * CAST(CAST(n2.cn2 AS VARCHAR)
         |            AS DOUBLE)) DESC,
         |        p.cell, p.sub) AS pr
         |    FROM pd p JOIN ncn n2 ON n2.cell = p.cell AND n2.sub = p.sub
         |              JOIN qv2 q ON q.query_id = p.query_id)
         |  WHERE pr <= 5),
         |cand AS (
         |  SELECT DISTINCT pc.query_id, a2.vec_id AS cand_id
         |  FROM pc JOIN asg2 a2 ON a2.cell = pc.cell AND a2.sub = pc.sub
         |  WHERE a2.vec_id <> pc.query_id),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT cand.query_id, cand.cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY cand.query_id
         |        ORDER BY ROUND(${dot("q.embedding", "c.embedding")}
         |          / sqrt(q.n2 * c.n2), 6) DESC, cand.cand_id) AS rnk
         |    FROM cand JOIN n q ON cand.query_id = q.vec_id
         |              JOIN n c ON cand.cand_id = c.vec_id)
         |  WHERE rnk <= 5),
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ROUND(${dot("q.embedding", "c.embedding")}
         |          / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
         |    FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |  WHERE rnk <= 5)
         |SELECT e.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  ROUND(CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0
         |    END) AS BIGINT)::DOUBLE / COUNT(*), 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
         |GROUP BY 1""".stripMargin
}
