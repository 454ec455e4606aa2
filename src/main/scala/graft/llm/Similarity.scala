package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pin.Syntax

/** Nearest-neighbor search over an `array<float>` embedding column.
  *
  * Every top-k entry point composes the same stages, each defined once
  * at the top of this object:
  *
  *  - sides ([[side]]): the `(query_id, q_emb, q_n2)` and
  *    `(cand_id, c_emb, c_n2)` projections, squared norms computed once;
  *  - a candidate source: all pairs with the query side broadcast
  *    ([[allPairs]]), sign-bit LSH band equi-joins ([[bandKeys]],
  *    [[bandPairs]]), IVF cells under the lowest-id coarse quantizer
  *    ([[cellSeeds]], [[assignCells]], [[probeCells]]), the IVF-split
  *    `(cell, sub)` probes, or PQ codes scored by ADC ([[adcLut]]);
  *  - a score: exact cosine rounded to 6 dp ([[cos6]]), or the unrounded
  *    ADC sum;
  *  - the one per-query selection ([[topK]]): ties rank by ascending
  *    candidate id (ascending `adc` first on the ADC paths);
  *  - an optional exact rerank of a candidate set ([[exactRerank]]);
  *  - recall against the exact top-k ([[recallAgainst]]).
  *
  * The broadcast side is always the bounded query batch, so the corpus
  * side never shuffles for all-pairs, and the approximate sources turn
  * the candidate join into an equi-join on a bucket or cell key, which
  * at 100 TB is also the natural partitioning key.
  */
object Similarity {

  /** Column names of one search side. */
  private case class Side(id: String, emb: String, n2: String)
  private val Query = Side("query_id", "q_emb", "q_n2")
  private val Cand = Side("cand_id", "c_emb", "c_n2")
  /** A corpus side the coarse quantizer assigns to cells. */
  private val Corpus = Side("id", "emb", "n2")

  /** One search side: id and embedding under `s`'s names, any carried
    * columns, and the squared norm. Registers the vector expressions for
    * every search that starts here. */
  private def side(df: DataFrame, idCol: String, embCol: String, s: Side,
      carry: Column*): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    df.select(col(idCol).as(s.id) +: col(embCol).as(s.emb) +: carry: _*)
      .withColumn(s.n2, VectorOps.normSq(col(s.emb)))
  }

  /** Raw IEEE cosine of two embedding columns given their squared norms. */
  private def cos(a: String, b: String, na: String, nb: String): Column =
    VectorOps.cosine(VectorOps.dot(col(a), col(b)), col(na), col(nb))

  /** The retrieval score: exact cosine rounded to 6 dp, the form every
    * engine reproduces bit for bit before ranking. */
  private def cos6(a: String, b: String, na: String, nb: String): Column =
    round(cos(a, b, na, nb), 6)

  /** The one top-k selection: a `row_number` named `rank` over `by`,
    * ordered by `order`, kept at `<= k`. The filter sits directly above
    * the window, so Spark's WindowGroupLimit drops each partition's
    * surplus rows before the sort. */
  private def topK(df: DataFrame, k: Int, rank: String, by: String*)(
      order: Column*): DataFrame =
    df.withColumn(rank, row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** Scores joined query/candidate side rows with [[cos6]] and keeps each
    * query's top k, ties to the lower candidate id. */
  private def scoreTopK(pairs: DataFrame, k: Int,
      out: Seq[String] = Seq("query_id", "cand_id", "cos", "rnk")): DataFrame =
    topK(pairs.withColumn("cos", cos6("q_emb", "c_emb", "q_n2", "c_n2")),
        k, "rnk", "query_id")(col("cos").desc, col("cand_id"))
      .select(out.map(col): _*)

  /** All-pairs candidate source: the broadcast query side against every
    * candidate but itself; `extra` predicates are evaluated inside the
    * join, so excluded rows never reach the ranking. */
  private def allPairs(q: DataFrame, c: DataFrame, extra: Column*): DataFrame =
    broadcast(q).join(c,
      ((col("query_id") =!= col("cand_id")) +: extra).reduce(_ && _))

  /** Exact rerank of a distinct `(query_id, cand_id)` candidate set: the
    * bounded query side broadcasts, the candidate side joins on id. */
  private def exactRerank(pairs: DataFrame, q: DataFrame, c: DataFrame,
      k: Int): DataFrame =
    scoreTopK(pairs.join(broadcast(q), Seq("query_id"))
      .join(c, Seq("cand_id")), k)

  /** Sign-bit LSH keys: one `(idAs, band_idx, band_key)` row per band. */
  private def bandKeys(df: DataFrame, idCol: String, embCol: String,
      idAs: String, bands: Seq[Seq[Int]]): DataFrame =
    df.select(col(idCol).as(idAs),
      posexplode(array(bands.map(d =>
        VectorOps.signBucket(col(embCol), d)): _*)).as(Seq("band_idx", "band_key")))

  /** LSH candidate source: distinct `(query_id, cand_id)` pairs sharing
    * any `(band_idx, band_key)`, self-pairs dropped. */
  private def bandPairs(qk: DataFrame, ck: DataFrame): DataFrame =
    qk.select("query_id", "band_idx", "band_key")
      .join(ck.select("cand_id", "band_idx", "band_key"),
        Seq("band_idx", "band_key"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()

  /** The IVF coarse quantizer: the `lists` lowest-id rows of a corpus
    * side `(id, emb[, n2])` (deterministic sample seeding; at 100 TB the
    * quantizer is trained offline on a sample anyway, FAISS-style),
    * renamed `(cent_id, c_emb[, c_n2])`. */
  private def cellSeeds(n: DataFrame, lists: Int): DataFrame =
    n.orderBy("id").limit(lists).select(n.columns.map(c =>
      col(c).as(if (c == "id") "cent_id" else s"c_$c")): _*)

  /** Corpus-side cell assignment: each `(id, emb, n2)` row joins the cell
    * of its argmax-cosine seed (ties to the lower seed id) as ONE
    * map-side-combinable aggregate. The crossJoin still fans out
    * N×nList rows, but hash-aggregate partials collapse them to one row
    * per id BEFORE the exchange, so shuffle volume is N; a windowed
    * row_number form would shuffle the exploded N×nList rows (N^1.5 at
    * the ⌈√N⌉ sizing rule). max_by's ordering struct (cosine, then
    * -cent_id) is tie-free because cent_id is unique per seed. The
    * `payload` columns ride through the aggregate, so callers need no
    * re-join. Output: (id, cell, payload...). */
  private def assignCells(n: DataFrame, cents: DataFrame,
      payload: Column*): DataFrame =
    n.crossJoin(broadcast(cents))
      .withColumn("__cc", cos("emb", "c_emb", "n2", "c_n2"))
      .groupBy("id")
      .agg(max_by(struct(col("cent_id").as("cell") +: payload: _*),
        struct(col("__cc"), -col("cent_id"))).as("__b"))
      .select(col("id"), col("__b.*"))

  /** Query-side probes: each query's `nProbe` nearest seeds. The window
    * stays: its exchange is |Q|×nList rows, bounded by the query batch,
    * never the corpus. Keeps every query and seed column. */
  private def probeCells(q: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame =
    topK(q.crossJoin(broadcast(cents))
        .withColumn("__cc", cos("q_emb", "c_emb", "q_n2", "c_n2")),
      nProbe, "__rn", "query_id")(col("__cc").desc, col("cent_id"))

  /** ADC lookup table: every `m`-way subvector of `vec` against every
    * codebook centroid, as the squared distance floored onto the 2^-20
    * grid, so the m-addend sums are exact in any order. One row per
    * (keys..., sub, code). */
  private def adcLut(df: DataFrame, vec: String, codebook: DataFrame,
      m: Int, d: Int, keys: String*): DataFrame = {
    val grid = 1L << 20
    df.select(keys.map(col) :+ posexplode(array((0 until m).map(j =>
        slice(col(vec), j * d + 1, d)): _*)).as(Seq("sub", "qe")): _*)
      .withColumn("qn2", VectorOps.normSq(col("qe")))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("term", floor((col("qn2") + col("c_n2") -
        lit(2.0) * VectorOps.dot(col("qe"), col("c_emb"))) * grid) / grid)
      .select(keys.map(col) ++ Seq(col("sub").cast("long").as("sub"),
        col("cluster").cast("long").as("code"), col("term")): _*)
  }

  /** ADC top-k: per (query, candidate) the sum of its code terms, ties to
    * the lower candidate id; self-pairs dropped before the sum. */
  private def adcTopK(terms: DataFrame, k: Int): DataFrame =
    topK(terms.filter(col("query_id") =!= col("cand_id"))
        .groupBy("query_id", "cand_id").agg(sum(col("term")).as("adc")),
      k, "rnk", "query_id")(col("adc"), col("cand_id"))
      .select("query_id", "cand_id", "adc", "rnk")

  /** Recall of named approximate `(query_id, cand_id)` sets against the
    * exact brute-force top-k: per query, `n_exact`, then each set's hit
    * count, then each set's recall (6 dp). The exact side runs over the
    * query batch only, never corpus×corpus. */
  private def recallAgainst(queries: DataFrame, candidates: DataFrame,
      idCol: String, embCol: String, k: Int,
      sets: (String, String, DataFrame)*): DataFrame = {
    val exact = bruteForceTopK(queries, candidates, idCol, embCol, k)
      .select("query_id", "cand_id")
    sets.foldLeft(exact) { case (df, (hits, _, a)) =>
      df.join(a.select(col("query_id"), col("cand_id"), lit(1L).as(hits)),
        Seq("query_id", "cand_id"), "left")
    }
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), sets.map { case (hits, _, _) =>
        coalesce(sum(col(hits)), lit(0L)).as(hits)
      }: _*)
      .select(Seq(col("query_id"), col("n_exact")) ++
        sets.map(s => col(s._1)) ++ sets.map { case (hits, recall, _) =>
          round(col(hits).cast("double") / col("n_exact"), 6).as(recall)
        }: _*)
  }

  /** Exact top-k cosine neighbors for each query row.
    * Scores rounded to 6 dp before ranking; ties break on candidate id
    * (deterministic across engines). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame =
    scoreTopK(allPairs(side(queries, idCol, embCol, Query),
      side(candidates, idCol, embCol, Cand)), k)

  /** Margin-based bitext candidate mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings" — the LASER/CCMatrix selection rule): a forward neighbor
    * pair (x, y) scores margin = cos(x, y) / ((μ_k(x) + μ_k(y)) / 2),
    * where μ_k is the mean cosine of each endpoint's OWN k-NN
    * neighborhood in the opposite language — absolute similarity is a
    * poor alignment signal under hubness, the ratio margin is not.
    *
    * Scale shape: two [[bruteForceTopK]] passes, both with a BOUNDED
    * broadcast side — the query batch forward, then only the ≤ |Q|·k
    * retrieved candidates backward against the full source language (the
    * backward pass prices the candidates' neighborhoods, never all-pairs).
    * Neighborhood means go through exact DECIMAL sums of the 6-dp scores
    * (reduction-order independent), division happens once in double. At
    * corpus scale the two passes swap in ivfTopK unchanged — the margin
    * algebra only needs (pair, cos, per-endpoint mean). */
  def marginMining(srcQueries: DataFrame, srcAll: DataFrame,
      tgtAll: DataFrame, idCol: String, embCol: String,
      k: Int = 4): DataFrame = {
    val fwd = bruteForceTopK(srcQueries, tgtAll, idCol, embCol, k)
    def nbrMean(nbrs: DataFrame, outId: String, outAvg: String) =
      nbrs.groupBy(col("query_id").as(outId))
        .agg((sum(col("cos").cast("decimal(24,6)")).cast("double") /
          count(lit(1))).as(outAvg))
    val fAvg = nbrMean(fwd, "query_id", "__avg_q")
    val candVecs = tgtAll.join(
      fwd.select(col("cand_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val bwd = bruteForceTopK(candVecs, srcAll, idCol, embCol, k)
    val bAvg = nbrMean(bwd, "cand_id", "__avg_c")
    fwd.join(fAvg, Seq("query_id")).join(bAvg, Seq("cand_id"))
      .withColumn("margin",
        round(col("cos") / ((col("__avg_q") + col("__avg_c")) / 2), 6))
      .select("query_id", "cand_id", "cos", "rnk", "margin")
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus vectors carrying a DIFFERENT label — the pairs a
    * retrieval model most needs to push apart (in-batch-negatives
    * literature, e.g. DPR/ANCE). The [[allPairs]] source of
    * [[bruteForceTopK]] with the label predicate evaluated inside the
    * join, so same-label rows never reach the ranking; the labels are
    * carried through for the training-pair sink. */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
      idCol: String, embCol: String, labelCol: String, k: Int): DataFrame =
    scoreTopK(allPairs(
        side(queries, idCol, embCol, Query, col(labelCol).as("q_label")),
        side(candidates, idCol, embCol, Cand,
          col(labelCol).as("cand_label")),
        col("q_label") =!= col("cand_label")),
      k, Seq("query_id", "q_label", "cand_id", "cand_label", "cos", "rnk"))

  /** Cluster-vs-label purity report over a [[kMeans]] assignment: per
    * cluster, its size, majority label (ties to the lower label id), and
    * purity = majority count / size — the standard external quality check
    * before using clusters for balanced sampling or semantic dedup. Two
    * bounded aggregations on top of the assignment (cluster x label is
    * k x |labels| rows); the max_by pick is map-side partial like the
    * assignment itself. */
  def clusterPurity(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int, iters: Int = 2): DataFrame = {
    val asg = kMeans(emb, idCol, embCol, k, iters)
    val lab = emb.select(col(idCol).as("id"), col(labelCol).as("label"))
    val cnt = asg.join(lab, Seq("id"))
      .groupBy("cluster", "label").agg(count(lit(1)).as("n_l"))
    cnt.groupBy("cluster")
      .agg(sum("n_l").as("n"),
        max_by(struct(col("label"), col("n_l")),
          struct(col("n_l"), -col("label"))).as("__t"))
      .select(col("cluster"), col("n"),
        col("__t.label").as("top_label"), col("__t.n_l").as("top_n"),
        round(col("__t.n_l").cast("double") / col("n"), 6).as("purity"))
  }

  /** Embedding-cosine near-duplicate pairs (the fifth dedup strategy):
    * candidate pairs confined to shared banded sign-bit LSH buckets —
    * OR-amplified like minhashPairs: `numBands` disjoint hyperplane bands,
    * a pair is a candidate when ANY band key matches (recall
    * 1-(1-p^b)^B instead of single-table p^b), the join stays an equi-join
    * on (band_idx, band_key), never a cross join. Candidates are deduped
    * on the narrow (id_a, id_b) key before the exact-cosine verify.
    * Output (id_a < id_b, cos >= threshold). */
  def embeddingDupPairs(docs: DataFrame, idCol: String, embCol: String,
      threshold: Double, numBands: Int = 4, bitsPerBand: Int = 8,
      dim: Int = 64): DataFrame = {
    val n = side(docs, idCol, embCol, Corpus)
    val keyed = bandKeys(n, "id", "emb", "id",
      VectorOps.bandDims(numBands, bitsPerBand, dim))
    val a = keyed.select(col("id").as("id_a"), col("band_idx"), col("band_key"))
    val b = keyed.select(col("id").as("id_b"), col("band_idx"), col("band_key"))
    val cand = a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(n.select(col("id").as("id_a"), col("emb").as("ea"), col("n2").as("na")), Seq("id_a"))
      .join(n.select(col("id").as("id_b"), col("emb").as("eb"), col("n2").as("nb")), Seq("id_b"))
      .withColumn("cos", cos6("ea", "eb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** IVF ANN: an inverted-file index over DISJOINT cells. The coarse
    * quantizer is the `nList` lowest-id vectors (deterministic sample
    * seeding — at 100 TB the quantizer is trained offline on a sample
    * anyway, FAISS-style); every vector joins exactly one cell (argmax
    * cosine to the seeds, ties to the lower seed id), and a query probes
    * only its `nProbe` nearest cells. Complements the LSH path: cells
    * partition the corpus (bucket key = natural partitioning key, no
    * multi-band row duplication), recall is tuned by nProbe instead of
    * band count. The assignment "cross" join is against `nList`
    * broadcast rows — bounded fan-out, not a corpus cross join. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, embCol: String, k: Int, nList: Int = 0,
      nProbe: Int = 2): DataFrame = {
    val n = side(candidates, idCol, embCol, Corpus)
    val cents = cellSeeds(n, resolveNList(nList, 0, n.count()))
    val q = side(queries, idCol, embCol, Query)
    val pairs = probeCells(q, cents, nProbe)
      .select(col("query_id"), col("cent_id").as("cell"))
      .join(assignCells(n, cents)
        .select(col("id").as("cand_id"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    // norms reused from the assignment projection, no re-derivation
    exactRerank(pairs, q, n.select(col("id").as("cand_id"),
      col("emb").as("c_emb"), col("n2").as("c_n2")), k)
  }

  /** Multi-probe LSH recall audit (Lv et al. 2007, "Multi-Probe LSH:
    * Efficient Indexing for High-Dimensional Similarity Search"): instead
    * of adding hash tables for recall, each query ALSO probes the
    * buckets whose band key differs by one bit — the perturbation
    * sequence for sign-hyperplane LSH, where a near-threshold coordinate
    * is the likeliest single-bit disagreement. The audit scores, per
    * query, how many of its exact top-`k` neighbors are reachable
    * through the plain band match vs the 1-bit probes — the
    * recall-per-memory evidence for choosing probing over more tables.
    *
    * Scale shape: the candidate side keys once (one row per doc×band,
    * pinned — per-doc state); the probe expansion multiplies only the
    * QUERY side (×(bitsPerBand+1)); both matches are equi-joins on
    * (band, key); the exact side is bounded by the query batch (the
    * q72 recall-audit argument). Bit flips are pure arithmetic
    * (k + m − 2·(k AND m)) — portable to the oracle without XOR
    * semantics differences. */
  def multiProbeRecall(queries: DataFrame, candidates: DataFrame,
      idCol: String, embCol: String, k: Int, numBands: Int = 4,
      bitsPerBand: Int = 8, dim: Int = 64): DataFrame = {
    val bands = VectorOps.bandDims(numBands, bitsPerBand, dim)
    val candK = bandKeys(candidates, idCol, embCol, "cand_id", bands)
      .pin()
    val qBase = bandKeys(queries, idCol, embCol, "query_id", bands)
    val probes = qBase
      .select(col("query_id"), col("band_idx"), col("band_key"),
        explode(array((-1 until bitsPerBand).map(lit): _*)).as("__p"))
      .withColumn("band_key", when(col("__p") < 0, col("band_key"))
        .otherwise(expr(
          "band_key + shiftleft(1, __p) - 2 * (band_key & shiftleft(1, __p))")))
    recallAgainst(queries, candidates, idCol, embCol, k,
      ("hits_plain", "recall_plain", bandPairs(qBase, candK)),
      ("hits_mp", "recall_mp", bandPairs(probes, candK)))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with the IVF coarse quantizer
    * (deterministic lowest-id seeds, same quantizer as [[ivfTopK]]), then
    * within each cell drop every item whose cosine to a LOWER-id item in
    * the same cell reaches `threshold` — the canonical
    * keep-one-representative rule made deterministic by id order. The
    * pairing is an equi-join on the cell key: quadratic only within a
    * cell, and at corpus scale `nList` grows ~sqrt(N) (the FAISS sizing
    * rule) so cell populations stay bounded; the corpus itself never
    * cross-joins. Output one row per input: (id, cell, max_sim = highest
    * cosine to any lower-id cell-mate, null when none, kept flag). */
  def semDedup(docs: DataFrame, idCol: String, embCol: String,
      threshold: Double, nList: Int = 0, targetCellSize: Int = 0): DataFrame = {
    val n = side(docs, idCol, embCol, Corpus)
    val cents = cellSeeds(n, resolveNList(nList, targetCellSize, n.count()))
    val cells = assignCells(n, cents, col("emb"), col("n2"))
      // referenced three times below (lo, sims, final select): pin the
      // one-row-per-doc assignment once, like Dedup.signaturesFromRows,
      // instead of recomputing the centroid fan-out per reference
      .pin()
    val lo = cells.select(col("cell"), col("id").as("lo_id"),
      col("emb").as("lo_emb"), col("n2").as("lo_n2"))
    val sims = cells.join(lo, Seq("cell"))
      .filter(col("lo_id") < col("id"))
      .groupBy(col("cell"), col("id"))
      .agg(max(cos6("emb", "lo_emb", "n2", "lo_n2")).as("max_sim"))
    cells.select("id", "cell")
      .join(sims, Seq("cell", "id"), "left")
      .select(col("id"), col("cell"), col("max_sim"),
        (col("max_sim").isNull || col("max_sim") < threshold).as("kept"))
  }

  /** Incremental SemDeDup: a NEW embedding batch against an already-
    * indexed corpus — the nightly-crawl shape of [[semDedup]], mirroring
    * [[graft.llm.Dedup.minhashPairsIncremental]] on the embedding side.
    * The coarse quantizer (lowest-id index vectors, ceil(sqrt(N)) cells)
    * and the index side's cell assignment are derived from the INDEX side
    * only — in production both are persisted artifacts (the q140 layout),
    * so each increment costs one assignment pass over the new batch plus
    * cell-confined cosine verification; the corpus is never rescanned and
    * arriving batches can never perturb existing cell boundaries. Output:
    * one row per new document — its cell, the max cosine against any
    * index vector sharing the cell, and the kept flag (max_sim below
    * `threshold` or no cell-mate). */
  def semDedupIncremental(newDocs: DataFrame, indexDocs: DataFrame,
      idCol: String, embCol: String, threshold: Double,
      nList: Int = 0, targetCellSize: Int = 0): DataFrame = {
    val idx = side(indexDocs, idCol, embCol, Corpus)
    val cents = cellSeeds(idx,
      resolveNList(nList, targetCellSize, idx.count()))
    def assign(df: DataFrame) = assignCells(df, cents, col("emb"), col("n2"))
    val idxCells = assign(idx)
      .select(col("cell"), col("id").as("idx_id"),
        col("emb").as("idx_emb"), col("n2").as("idx_n2"))
    val newCells = assign(side(newDocs, idCol, embCol, Corpus))
      .pin()
    val sims = newCells.join(idxCells, Seq("cell"))
      .groupBy(col("cell"), col("id"))
      .agg(max(cos6("emb", "idx_emb", "n2", "idx_n2")).as("max_sim"))
    newCells.select("id", "cell")
      .join(sims, Seq("cell", "id"), "left")
      .select(col("id"), col("cell"), col("max_sim"),
        (col("max_sim").isNull || col("max_sim") < threshold).as("kept"))
  }

  /** Cell-confined k-nearest-neighbor GRAPH over one embedding set — the
    * curation primitive behind kNN label audits, graph-based dedup
    * priorities, and retrieval-index QA. Same deterministic coarse
    * quantizer as [[semDedup]] (lowest-id ⌈√N⌉ seed centroids, argmax
    * cosine via the map-side-combinable max_by — shuffle volume N, never
    * N×nList), then neighbors are ranked ONLY among cell-mates.
    *
    * Scale shape: the candidate set is the within-cell self-join
    * (N×√N rows at the sizing rule — the irreducible kNN-graph candidate
    * volume for an IVF layout, never all-pairs), and because every id
    * lives in exactly one cell, the top-k window re-uses the cell join's
    * hash exchange: `partitionBy(cell, id)` is satisfied by
    * hashpartitioning(cell), so ranking adds a local sort, not a second
    * shuffle. Output: (id, nbr_rank 1..k, nbr_id, cos) — vectors with
    * fewer than k cell-mates emit fewer rows.
    *
    * Determinism contract (shared with q83's oracle): ranking compares the
    * raw IEEE cosine (bit-identical in any engine given the fixed-order
    * dot fold), ties on the lower neighbor id; the emitted score is
    * rounded to 6 dp.
    *
    * Hot-cell skew (`saltCells`): a degenerate corpus (mass duplication,
    * collapsed embedding space) can land a large fraction of vectors in
    * ONE cell, making that cell's self-join a single |hot|² task. With
    * saltCells = S the probe side is salted by pmod(hash(id), S) and the
    * mate side replicated to every salt — the PAIR SET is exactly
    * preserved (each (id, nbr) meets at salt(id)) while the hot key
    * splits into S sub-keys, the same salt-replicate contract as
    * [[Dedup.minhashPairs]]'s hot bands. The salted top-k window then
    * costs one (cell, id) exchange of the candidate rows — that
    * redistribution is the point. Default 1 = the exchange-reusing
    * unsalted plan.
    *
    * Sizing at scale (`targetCellSize`): the ⌈√N⌉ default makes total
    * in-cell pair WORK Σ|cell|² ≈ N^1.5 (inside tasks, not through a
    * shuffle) — fine to tens of millions of vectors, a compute wall at
    * billions. `targetCellSize = C` switches to nList = ⌈N/C⌉
    * ([[resolveNList]]), pinning expected cell population at C so pair
    * work is N·C — LINEAR in N at fixed C; recall degrades gracefully as
    * cells shrink (same trade FAISS makes when nlist grows). Combine
    * with `saltCells` when the embedding distribution is also skewed. */
  def knnGraph(emb: DataFrame, idCol: String, embCol: String, k: Int,
      nList: Int = 0, saltCells: Int = 1, targetCellSize: Int = 0): DataFrame = {
    val n = side(emb, idCol, embCol, Corpus)
    val cents = cellSeeds(n, resolveNList(nList, targetCellSize, n.count()))
    val cells = assignCells(n, cents, col("emb"), col("n2")).pin()
    val mates = cells.select(col("cell"), col("id").as("nbr_id"),
      col("emb").as("nbr_emb"), col("n2").as("nbr_n2"))
    val joined =
      if (saltCells <= 1) cells.join(mates, Seq("cell"))
      else cells
        .withColumn("__salt", pmod(hash(col("id")), lit(saltCells)))
        .join(mates.withColumn("__salt",
          explode(array((0 until saltCells).map(lit): _*))),
          Seq("cell", "__salt"))
    val ranked = topK(joined.filter(col("nbr_id") =!= col("id"))
        .withColumn("__cos", cos("emb", "nbr_emb", "n2", "nbr_n2")),
      k, "nbr_rank", "cell", "id")(col("__cos").desc, col("nbr_id"))
    ranked.select(col("id").as(idCol), col("nbr_rank").cast("long"),
      col("nbr_id"), round(col("__cos"), 6).as("cos"))
  }

  /** kNN label-vote classification over [[knnGraph]] — the pseudo-labeling
    * / label-error-audit op: each vector's predicted label is the majority
    * label among its top-`k` cell-confined neighbors (ties to the lower
    * label id), compared against its own label. Cost on top of the graph:
    * one broadcast-free equi-join on nbr_id for the neighbor labels (the
    * label table is a projection of the same input) and two
    * map-side-combinable aggregates. Output: (id, label, pred_label,
    * n_votes, agree). */
  def knnClassify(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int, nList: Int = 0,
      targetCellSize: Int = 0): DataFrame = {
    val labels = emb.select(col(idCol).as("nbr_id"),
      col(labelCol).as("nbr_label"))
    val votes = knnGraph(emb, idCol, embCol, k, nList,
      targetCellSize = targetCellSize)
      .join(labels, Seq("nbr_id"))
      .groupBy(col(idCol), col("nbr_label"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      // min_by over (-count, label): highest vote count, ties to the
      // LOWEST label in its natural order. Negating the count (always
      // numeric) instead of the label keeps labelCol type-agnostic —
      // string labels order lexicographically, no analysis-time cast.
      .agg(
        min_by(col("nbr_label"), struct(-col("__c"), col("nbr_label")))
          .as("pred_label"),
        max(col("__c")).as("n_votes"))
    emb.select(col(idCol), col(labelCol).as("label"))
      .join(votes, Seq(idCol))
      .withColumn("agree", col("label") === col("pred_label"))
  }

  /** Confident-learning label-noise estimate (Northcutt et al. 2021,
    * "Confident Learning: Estimating Uncertainty in Dataset Labels",
    * with kNN vote fractions standing in for model probabilities): per
    * class j the threshold t_j is the mean self-confidence — the average
    * vote fraction for j among examples LABELED j (absent votes count
    * as 0 via the labeled-count denominator) — and an example joins the
    * confident-joint cell (label=i, pred=j) for the highest-fraction
    * class j whose fraction clears t_j (ties to the lowest label).
    * Off-diagonal mass is the estimated label-noise rate per class.
    *
    * Scale shape: one [[knnGraph]] pass into a checkpointed
    * (id, class, fraction) table (≤ N·min(k, classes) rows — the two
    * consumers, thresholds and qualification, must not replan the graph
    * build); everything after the argmax aggregate is bounded by
    * classes², and the class-threshold table broadcasts. */
  def confidentJoint(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int, nList: Int = 0,
      targetCellSize: Int = 0): DataFrame = {
    val labels = emb.select(col(idCol).as("nbr_id"),
      col(labelCol).as("nbr_label"))
    val frac = knnGraph(emb, idCol, embCol, k, nList,
      targetCellSize = targetCellSize)
      .join(labels, Seq("nbr_id"))
      .groupBy(col(idCol), col("nbr_label"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("frac", round(col("__c").cast("double") / k, 6))
      .pin()
    val lbl = emb.select(col(idCol), col(labelCol).as("label"))
    val nJ = lbl.groupBy("label").agg(count(lit(1)).as("__nj"))
    val sumSelf = frac.join(lbl, Seq(idCol))
      .filter(col("nbr_label") === col("label"))
      .groupBy("label")
      .agg(graft.core.Det.sumDet(col("frac"), 6).as("__ss"))
    val tj = nJ.join(sumSelf, Seq("label"), "left")
      .select(col("label").as("pred_label"),
        round(coalesce(col("__ss"), lit(0.0d)) / col("__nj"), 6).as("t_pred"))
    val assign = frac
      .join(broadcast(tj), col("nbr_label") === col("pred_label"))
      .filter(col("frac") >= col("t_pred"))
      .groupBy(col(idCol))
      .agg(min_by(col("nbr_label"), struct(-col("frac"), col("nbr_label")))
        .as("pred_label"))
    val cj = lbl.join(assign, Seq(idCol))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n_confident"))
      .pin()
    val rowTot = cj.groupBy("label").agg(sum(col("n_confident")).as("__rt"))
    cj.join(broadcast(rowTot), Seq("label"))
      .join(broadcast(tj), Seq("pred_label"))
      .select(col("label"), col("pred_label"), col("n_confident"),
        round(col("n_confident").cast("double") / col("__rt"), 6)
          .as("frac_of_label"),
        col("t_pred"))
  }

  /** Relational Lloyd k-means over an `array<float>` embedding column —
    * the cluster-curation primitive (cluster-balanced sampling, SemDeDup
    * cell sizing, corpus diversity audits all start from it).
    *
    * Deterministic by construction: seeds are the `k` lowest-id vectors
    * (cluster j = seed rank j), assignment is argmin squared Euclidean
    * distance ||x||² + ||c||² - 2<x,c> with the codegen dot fold (IEEE
    * ops in a fixed order — bit-identical in any engine), ties to the
    * lower cluster id. Centroid updates quantize coordinates to 6 digits
    * and average through exact decimal, so the means are reduction-order
    * independent (a raw double sum would drift with partition count);
    * the <1e-6 quantization delta is immaterial to a heuristic
    * quantizer. Per iteration: one broadcast-join assignment pass + one
    * posexplode aggregation on (cluster, dim) — k×dim means come back to
    * the driver (bounded, the Lloyd synchronization point on any
    * cluster), never the vectors. Empty clusters drop out, matching the
    * SQL mirror. Output: (id, cluster, d2) after `iters` assignments. */
  def kMeans(docs: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int = 2): DataFrame = {
    val (n, cents) = kMeansTrained(docs, idCol, embCol, k, iters)
    kMeansAssign(n, cents)
      .select(col("id"), col("cluster"), round(col("d2"), 6).as("d2"))
  }

  /** The Lloyd loop behind [[kMeans]], exposed so diagnostics over the
    * SAME trained centroids (e.g. [[simplifiedSilhouette]]) reuse it:
    * returns the normalized point table and the final centroid table. */
  private def kMeansTrained(docs: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val n = docs.select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("n2", VectorOps.normSq(col("emb")))
    // element-generic seed read: DotProductF accepts array<float|double>,
    // so the driver-side read must too (boxed java.lang.Number covers both)
    val seeds = n.orderBy("id").limit(k)
      .select(col("emb")).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toArray)
    def centsDf(cents: Array[(Int, Array[Double])]): DataFrame = {
      import spark.implicits._
      cents.map { case (cl, c) =>
        (cl, c.toSeq, c.map(x => x * x).sum)
      }.toSeq.toDF("cluster", "c_emb", "c_n2")
    }
    // assignment: argmin d2, ties to the lower cluster id; d2 via the
    // same left-to-right dot fold on both engines (c_n2 is a driver-side
    // scalar, identical to the oracle's list fold over the same values).
    // min_by aggregate, not a window: partial aggregation collapses the
    // N×k fan-out to one row per id map-side (shuffle N, not N×k); the
    // (d2, cluster) ordering struct is tie-free (cluster unique), so the
    // pick matches the old row_number orderBy exactly.
    def assign(cents: Array[(Int, Array[Double])]): DataFrame =
      kMeansAssign(n, centsDf(cents))
    var cents = seeds.zipWithIndex.map { case (c, j) => (j, c) }
    for (_ <- 1 until iters) {
      // update: 6-digit-quantized coordinates averaged through exact
      // decimal per (cluster, dim) — map-side partials, order-free
      val means = assign(cents).select(col("cluster"),
          posexplode(col("emb")).as(Seq("pos", "__x")))
        .groupBy("cluster", "pos")
        .agg(round(graft.core.Det.sumDet(
          round(col("__x").cast("double"), 6), scale = 6) / count(lit(1)), 6)
          .as("__m"))
        .collect()
      cents = means.groupBy(_.getInt(0)).toArray.sortBy(_._1).map {
        case (cl, rows) =>
          val c = new Array[Double](rows.map(_.getInt(1)).max + 1)
          rows.foreach(r => c(r.getInt(1)) = r.getDouble(2))
          (cl, c)
      }
    }
    (n, centsDf(cents))
  }

  private def kMeansAssign(n: DataFrame, centsDf: DataFrame): DataFrame =
    n.crossJoin(broadcast(centsDf))
      .withColumn("d2",
        col("n2") + col("c_n2") - lit(2.0) * VectorOps.dot(col("emb"), col("c_emb")))
      .groupBy("id")
      .agg(min_by(struct(col("cluster"), col("d2"), col("emb")),
        struct(col("d2"), col("cluster"))).as("__b"))
      .select(col("id"), col("__b.cluster").as("cluster"),
        col("__b.d2").as("d2"), col("__b.emb").as("emb"))

  /** Simplified (centroid-based) silhouette over [[kMeans]]'s trained
    * centroids (Hruschka et al. 2004 — the O(N·k) silhouette used when
    * the O(N²) pairwise original can't exist at corpus scale): per point,
    * a = distance to its own centroid, b = distance to the nearest OTHER
    * centroid, s = (b−a)/max(a,b); reported per cluster. One broadcast
    * fan-out to N×k rows collapsed map-side by the same (d2, cluster)
    * ordering as the assignment — the two smallest centroid distances
    * per point ARE (a, b), so no second pass and no join. */
  def simplifiedSilhouette(docs: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int = 2): DataFrame = {
    // Silhouette is undefined with a single cluster: the nearest-OTHER
    // centroid distance __t(1) would be null and every downstream column
    // would silently go null instead of the defined s = 0 — reject the
    // input (the labelPropagation/hits iteration-guard convention).
    require(k >= 2, "silhouette needs at least two centroids")
    val (n, cents) = kMeansTrained(docs, idCol, embCol, k, iters)
    val two = n.crossJoin(broadcast(cents))
      .withColumn("d2",
        col("n2") + col("c_n2") - lit(2.0) * VectorOps.dot(col("emb"), col("c_emb")))
      .groupBy("id")
      .agg(slice(sort_array(collect_list(
        struct(col("d2"), col("cluster")))), 1, 2).as("__t"))
      .select(col("id"), col("__t")(0).getField("cluster").as("cluster"),
        sqrt(greatest(col("__t")(0).getField("d2"), lit(0.0))).as("__a"),
        sqrt(greatest(col("__t")(1).getField("d2"), lit(0.0))).as("__b"))
    val s = when(greatest(col("__a"), col("__b")) > 0.0,
      (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
      .otherwise(lit(0.0))
    two.groupBy("cluster")
      .agg(count(lit(1)).as("n_points"),
        round(graft.core.Det.avgDet(round(col("__a"), 6), 6), 6).as("avg_a"),
        round(graft.core.Det.avgDet(round(col("__b"), 6), 6), 6).as("avg_b"),
        round(graft.core.Det.avgDet(round(s, 6), 6), 6)
          .as("avg_silhouette"))
  }

  /** Banded ANN: candidates restricted to rows sharing ANY of the query's
    * band keys (multi-table OR-amplification; same recall math as
    * embeddingDupPairs), then exact cosine + per-query top-k. */
  def lshTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, embCol: String, k: Int, numBands: Int = 4,
      bitsPerBand: Int = 8, dim: Int = 64): DataFrame = {
    val bands = VectorOps.bandDims(numBands, bitsPerBand, dim)
    exactRerank(
      bandPairs(bandKeys(queries, idCol, embCol, "query_id", bands),
        bandKeys(candidates, idCol, embCol, "cand_id", bands)),
      side(queries, idCol, embCol, Query),
      side(candidates, idCol, embCol, Cand), k)
  }

  /** FAISS sizing rule: nList ≈ √N keeps expected cell population ≈ √N,
    * so both the per-cell quadratic (SemDeDup) and the per-probe scan
    * (IVF) grow as √N instead of N. `nList = 0` (the default) derives it
    * from a count of the candidate side — one cheap aggregate scan,
    * exactly what an offline index build would do. */
  def autoNList(n: Long): Int =
    math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Quantizer sizing with the LINEAR-scale escape hatch. Precedence:
    * an explicit `nList` wins; else `targetCellSize > 0` pins the
    * EXPECTED cell population at that constant — nList = ⌈N/C⌉, so the
    * in-cell pair work Σ|cell|² ≈ (N/C)·C² = N·C grows LINEARLY in N
    * (the √N default's Σ|cell|² ≈ N^1.5 is fine to tens of millions of
    * vectors, but at 100 TB the graph/dedup builds need the fixed-C
    * sizing — C a few thousand is the FAISS-practice range); else the
    * √N rule. `count` is only evaluated when a rule needs it. */
  def resolveNList(nList: Int, targetCellSize: Int, count: => Long): Int =
    if (nList > 0) nList
    else if (targetCellSize > 0)
      math.max(1, math.ceil(count.toDouble / targetCellSize).toInt)
    else autoNList(count)

  /** Product quantization (Jegou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search") — the billion-vector ANN memory layout:
    * the embedding splits into `m` subspaces of dim/m coordinates, each
    * k-means-quantized independently (`k` codes, [[kMeans]]'s
    * deterministic conventions — first-k-by-id seeds, ties to the lower
    * code, empty codes drop — but with BINARY-quantized centroid means,
    * see the loop comment), so a vector stores as m small codes instead
    * of dim floats (64 floats -> 8 nibbles at the defaults, 64x smaller).
    *
    * Codebooks are m*k*(dim/m) doubles synced at the driver per Lloyd
    * iteration — the same bounded state as kMeans; the vectors never
    * leave the executors. One exchange on (id, sub) for the assignment
    * window; everything else is broadcast. Output is the LONG code
    * table (id, sub, code, d2) — d2 is the subspace reconstruction
    * error, so `sum(d2) group by id` is the vector's total squared
    * quantization error. Also returns the trained codebook
    * (sub, cluster, c_emb, c_n2) for ADC search ([[pqTopK]]). */
  def productQuantizeFull(docs: DataFrame, idCol: String, embCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 2,
      dim: Int = 64): (DataFrame, DataFrame) = {
    require(m >= 1 && dim % m == 0, "dim must split evenly into m subspaces")
    val d = dim / m
    val spark = docs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    import spark.implicits._
    val subs = docs.select(col(idCol).as("id"), col(embCol).as("emb"))
      .select(col("id"), posexplode(array((0 until m).map(j =>
        slice(col("emb"), j * d + 1, d)): _*)).as(Seq("sub", "e")))
      .withColumn("n2", VectorOps.normSq(col("e")))
    val seedRows = docs.select(col(idCol).as("id"), col(embCol).as("emb"))
      .orderBy(idCol).limit(k).collect()
    var code: Array[(Int, Int, Array[Double])] =
      (for (j <- 0 until m; (r, cl) <- seedRows.zipWithIndex) yield {
        val full = r.getSeq[Number](1).map(_.doubleValue).toArray
        (j, cl, full.slice(j * d, (j + 1) * d))
      }).toArray
    def centsDf(cs: Array[(Int, Int, Array[Double])]) =
      cs.map { case (s, cl, c) => (s, cl, c.toSeq, c.map(x => x * x).sum) }
        .toSeq.toDF("sub", "cluster", "c_emb", "c_n2")
    // argmin-d2 code pick as a min_by aggregate (shuffle N·m rows, not
    // N·m·k — see kMeans.assign); (d2, cluster) ordering is tie-free.
    def assign(cs: Array[(Int, Int, Array[Double])]): DataFrame = {
      subs.join(broadcast(centsDf(cs)), Seq("sub"))
        .withColumn("d2", col("n2") + col("c_n2") -
          lit(2.0) * VectorOps.dot(col("e"), col("c_emb")))
        .groupBy("id", "sub")
        .agg(min_by(struct(col("cluster"), col("d2"), col("e")),
          struct(col("d2"), col("cluster"))).as("__b"))
        .select(col("id"), col("sub"), col("__b.cluster").as("cluster"),
          col("__b.d2").as("d2"), col("__b.e").as("e"))
    }
    for (_ <- 1 until iters) {
      // Binary-quantized centroid means (vs kMeans' decimal route):
      // coordinates snap to multiples of 2^-20, so the double SUM is
      // EXACT in any order (every partial sum needs < 53 significand
      // bits) and the mean is one IEEE division — bit-identical across
      // engines with no decimal casts and no end rounding, which is what
      // lets d2 ship unrounded below.
      // BOUND: exactness holds while the running sum stays under 2^53
      // units of 2^-20, i.e. rowsPerCluster * max|coord| < 2^33 (~8.6B
      // unit-magnitude rows in one cluster). Beyond that — a pathological
      // hot cluster at true billion-vector scale — aggregate per-partition
      // sums as scaled longs (sum of floor(x*2^20) as LONG, divide once)
      // to make it unconditional; at any plausible k>=16 split this path
      // never gets within 3 orders of magnitude of the bound.
      val q = 1L << 20
      val means = assign(code)
        .select(col("sub"), col("cluster"),
          posexplode(col("e")).as(Seq("pos", "__x")))
        .groupBy("sub", "cluster", "pos")
        .agg((sum(floor(col("__x").cast("double") * q) / q) / count(lit(1)))
          .as("__m"))
        .collect()
      code = means.groupBy(r => (r.getInt(0), r.getInt(1))).toArray
        .sortBy(_._1).map { case ((s, cl), rows) =>
          val c = new Array[Double](d)
          rows.foreach(r => c(r.getInt(2)) = r.getDouble(3))
          (s, cl, c)
        }
    }
    // d2 ships UNROUNDED: every op in the chain (float->double widening,
    // left-to-right fold, binary-quantized centroid coordinates) is
    // IEEE-identical across engines, so the raw doubles hash-match —
    // while a final 6-digit round can straddle the cross-engine
    // double-rounding boundary (ARCHITECTURE.md), observed at sf0.01.
    val codes = assign(code).select(col("id"), col("sub").cast("long").as("sub"),
      col("cluster").cast("long").as("code"), col("d2"))
    (codes, centsDf(code))
  }

  /** [[productQuantizeFull]] keeping only the code table (q112). */
  def productQuantize(docs: DataFrame, idCol: String, embCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 2, dim: Int = 64): DataFrame =
    productQuantizeFull(docs, idCol, embCol, m, k, iters, dim)._1

  /** PQ asymmetric-distance search (ADC, Jegou 2011 §IV): each query
    * subvector precomputes its distance to every codebook centroid (the
    * m*k lookup table — tiny, broadcast), then a candidate's approximate
    * squared distance is the SUM of its m codes' table entries. The
    * corpus side touches only the code table — never the vectors — which
    * is the point: at 10^9 vectors the codes are ~100x smaller than the
    * embeddings and the scan is one broadcast-join + sum per probe.
    *
    * LUT terms are binary-quantized (floor(x*2^20)/2^20) so the m-addend
    * sum is exact in any order — adc is bit-identical across engines
    * unrounded, same determinism route as the centroid means. Output:
    * (query_id, cand_id, adc, rnk <= k) per query. */
  def pqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      embCol: String, k: Int, m: Int = 8, codebookK: Int = 16,
      iters: Int = 2, dim: Int = 64): DataFrame = {
    val (codes, codebook) = productQuantizeFull(
      candidates, idCol, embCol, m, codebookK, iters, dim)
    val lut = adcLut(side(queries, idCol, embCol, Query), "q_emb",
      codebook, m, dim / m, "query_id")
    adcTopK(codes.withColumnRenamed("id", "cand_id")
      .join(broadcast(lut), Seq("sub", "code")), k)
  }

  /** ANN index evaluation: recall@k of any approximate top-k result
    * against the exact brute-force cosine top-k, per query (q89 for IVF,
    * q115 for IVF-PQ, q302 for SQ8) — the QA harness that tells whether
    * an index is sized right BEFORE a 100 TB build. The exact side is the
    * bounded one (it only runs over the evaluation query sample, never
    * corpus×corpus); the approximate side is the production plan under
    * test. Output: (query_id, n_exact, n_hits, recall). */
  def recallVsExact(queries: DataFrame, candidates: DataFrame,
      idCol: String, embCol: String, k: Int, approx: DataFrame): DataFrame =
    recallAgainst(queries, candidates, idCol, embCol, k,
      ("n_hits", "recall", approx))

  /** One-row DataFrame holding the id-ASCENDING centroid struct array
    * `(id, e, n2c)` the per-row fold assignments score against. Input
    * must carry `cent_id` and `c_emb`; norms are computed ONCE per
    * centroid here (not once per row×cell). Shared by
    * [[foldAssignCell]], [[ivfBoundaryAudit]]'s top-2 fold, and the
    * streaming arrival monitor — one source of truth for the centroid
    * packaging. */
  private[graft] def centArray(cents: DataFrame): DataFrame =
    cents
      .select(col("cent_id").cast("long").as("id"),
        col("c_emb").cast("array<double>").as("e"))
      .withColumn("n2c", expr("aggregate(zip_with(e, e, " +
        "(x, y) -> x * y), cast(0.0 as double), (a, b) -> a + b)"))
      .agg(sort_array(collect_list(struct(col("id"), col("e"),
        col("n2c")))).as("__cents"))

  /** Per-row argmax-cosine cell assignment: the codegen
    * [[graft.functions.CellTop2F]] kernel over the broadcast centroid
    * array — O(cells·d) compute per row and NO shuffle (the
    * crossJoin+max_by aggregate shape shuffles one partial per corpus
    * row and churns row×cell tuples first; an interpreted HOF fold
    * avoids the shuffle but walks expression trees per (cell, dim) —
    * q305 at sf0.1: 0.89 s max_by, 1.96 s HOF, ~0.5 s this kernel).
    * Appends a `cell` column (bigint). Bit-exact with both forms it
    * replaces — see the CellTop2F scaladoc for the tie-break/NaN/seed
    * contract. Works unchanged on streaming inputs (stream-static
    * broadcast cross join, no per-key state). */
  private[graft] def foldAssignCell(df: DataFrame, embCol: String,
      cents: DataFrame): DataFrame =
    foldAssignCellPre(df, embCol, centArray(cents))

  /** [[foldAssignCell]] with a pre-built [[centArray]] row — callers
    * that assign several inputs against the SAME quantizer (q305's two
    * halves, q313's split loop) build the broadcast array once. */
  private[graft] def foldAssignCellPre(df: DataFrame, embCol: String,
      centsRow: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    df.crossJoin(broadcast(centsRow))
      .withColumn("cell", graft.functions.VectorExpressions
        .celltop2(col(embCol), col("__cents")).getField("id1"))
      .drop("__cents")
  }

  /** IVF cell-drift audit after an incremental batch — the index-
    * maintenance question q148's incremental SemDeDup answers for
    * clusters and q296's HyperBall answers for registers, asked of the
    * SERVING ANN index: a frozen coarse quantizer (trained on the old
    * corpus) assigns each new-crawl vector to its nearest existing
    * cell; cells that outgrow the fleet mean need re-splitting before
    * probe-time latency degrades. Per cell: old/new/total populations,
    * the post-batch load factor (population ÷ mean population), and a
    * needs_split verdict at load factor > 2 — computed as the integer
    * cross-multiply n_total·nLists > 2·N, never a double boundary.
    *
    * Scale shape: the centroid table is the ⌈√N⌉ broadcast seed set
    * (the q72 rule); BOTH assignment passes are the per-row
    * [[foldAssignCell]] fold (O(cells·d) compute per row, zero shuffle
    * before the nLists-row count aggregate); the audit table is nLists
    * rows. The load factor is ONE double division of exact integers,
    * unrounded (the q298 rule). */
  def ivfCellDriftAudit(oldBatch: DataFrame, newBatch: DataFrame,
      idCol: String, embCol: String, nList: Int = 0): DataFrame = {
    val n0 = side(oldBatch, idCol, embCol, Corpus)
    val lists = resolveNList(nList, 0, n0.count())
    val cents = cellSeeds(n0, lists)
    // per-row codegen assignment (see foldAssignCellPre): zero shuffle
    // vs the old crossJoin+max_by shape's row×cell tuple churn,
    // bit-identical cell picks — one source of truth with q312/q313 and
    // the streaming twin; the broadcast centroid array is built ONCE
    // and reused by both halves' passes.
    val centsRow = centArray(cents)
    def cellsOf(df: DataFrame) = foldAssignCellPre(df, "emb", centsRow)
      .groupBy("cell").agg(count(lit(1)))
    val oldCells = cellsOf(n0).withColumnRenamed("count(1)", "n_old")
    val newCells = cellsOf(side(newBatch, idCol, embCol, Corpus))
      .withColumnRenamed("count(1)", "n_new")
    val byCell = cents.select(col("cent_id").as("cell"))
      .join(oldCells, Seq("cell"), "left")
      .join(newCells, Seq("cell"), "left")
      .na.fill(0L, Seq("n_old", "n_new"))
      .withColumn("n_total", col("n_old") + col("n_new"))
      .pin() // nLists rows: totals + the per-cell verdicts
    // products in decimal (the q274 discipline): a skewed cell's
    // n_total·nLists wraps in long at N ≳ 4e12 while the DuckDB
    // HUGEINT mirror raises — widen BEFORE the multiply on both engines
    byCell
      .crossJoin(broadcast(byCell.agg(sum(col("n_total")).as("__N"))))
      .select(col("cell"), col("n_old"), col("n_new"), col("n_total"),
        ((dec(col("n_total")) * lists).cast("string").cast("double") /
          col("__N").cast("double")).as("load_factor"),
        (dec(col("n_total")) * lists > dec(col("__N")) * 2)
          .as("needs_split"))
  }

  /** IVF assignment-margin (boundary-mass) audit — the stability
    * companion to [[ivfCellDriftAudit]]: a vector whose top-2 cell
    * cosines differ by less than `eps` sits on a quantizer boundary and
    * will churn cells on any retrain, so a cell with high boundary mass
    * is unstable regardless of its size. Per cell: population, boundary
    * count, boundary fraction.
    *
    * Scale shape: top-1 AND top-2 come from ONE per-row pass over the
    * broadcast centroid array (the codegen
    * [[graft.functions.CellTop2F]] kernel, shared with q305/q313 and
    * the streaming twin) — O(cells·d) compute per row, NO shuffle at
    * all; a windowed top-2 over the exploded row×cell table would
    * shuffle N·cells rows (the round-10 anti-pattern). The kernel's
    * strict > over the id-ASCENDING array reproduces the batch argmax
    * tie-break (lower centroid id). The fraction is one double division
    * of exact counts; the margin compare runs on identical unrounded
    * doubles on both engines. */
  def ivfBoundaryAudit(emb: DataFrame, idCol: String, embCol: String,
      nList: Int = 0, eps: Double = 0.05): DataFrame = {
    val n0 = emb.select(col(idCol).as("id"), col(embCol).as("emb"))
    val lists = resolveNList(nList, 0, n0.count())
    require(lists >= 2, "boundary margin needs at least two cells")
    // centroid norms ride IN the broadcast array (computed once per
    // centroid, not once per row×cell — see centArray); the top-2 walk
    // itself is the codegen CellTop2F kernel (the interpreted HOF fold
    // it replaces cost 2.16 s at sf0.1; an inlined-cos variant 2.8 s).
    val centsRow = centArray(cellSeeds(n0, lists))
    graft.functions.VectorExpressions.register(emb.sparkSession)
    emb.crossJoin(broadcast(centsRow))
      .withColumn("__t", graft.functions.VectorExpressions
        .celltop2(col(embCol), col("__cents")))
      .select(col("__t.id1").as("cell"),
        (col("__t.c1") - col("__t.c2") < eps).as("__bnd"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("__bnd"), 1L).otherwise(0L)).as("n_boundary"))
      .withColumn("boundary_frac",
        col("n_boundary").cast("double") / col("n_vecs").cast("double"))
  }

  /** Intermediate state of [[ivfCellSplit]], shared with
    * [[ivfSplitRecall]] so the recall audit reuses the SAME split
    * pipeline (never a re-derivation that could drift).
    *
    * `assign`: (vid, cell, sub) post-split assignment of the full
    * corpus (sub = 0 for unsplit-cell members).
    * `cells`: original per-cell totals (cell, n_total) incl. empties.
    * `flagged`: the cells the load rule selected for splitting.
    * `children`: per split child (cell, j, sv array<decimal>, cn2) —
    * the fixed-point Lloyd centroids; empty children are absent.
    * `lists`: the original quantizer size. */
  private[graft] case class IvfSplitState(assign: DataFrame,
      cells: DataFrame, flagged: DataFrame, children: DataFrame,
      cents: DataFrame, lists: Int)

  /** Exact fixed-point dot of two long arrays (products ≤ 2^54 at the
    * [[EmbeddingOps.Q]] scale, sums ≤ 2^60 over 64 dims — long-safe).
    * Shared with the streaming post-split arrival twin. */
  private[graft] def dotLong(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
      "cast(0 as bigint), (x, y) -> x + y)")

  /** Exact dot of a long array with a decimal(38,0) array — the
    * member·child-centroid products of the Lloyd round (child sums grow
    * with cell population, so the accumulator must be decimal). */
  private[graft] def dotDec(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x as decimal(38,0)) * y), " +
      "cast(0 as decimal(38,0)), (x, y) -> x + y)")

  private[graft] def d2d(c: Column): Column = c.cast("string").cast("double")

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Embedding coordinates on the [[EmbeddingOps.Q]] fixed-point grid,
    * as longs. */
  private def fixedPoint(emb: Column): Column =
    transform(emb, x => floor(x * EmbeddingOps.Q + 0.5).cast("long"))

  /** The nearer split child (0 or 1) of a fixed-point member `(mx, mn2)`
    * against the pivoted child centroids (`sv0, cn20, sv1, cn21`): exact
    * decimal dots and ONE double per cosine, ties to child 0, and an
    * empty child's null cosine coalesces to −1e300, so it never wins. */
  private def nearerChild: Column = {
    def cosTo(j: Int) = coalesce(d2d(dotDec("mx", s"sv$j")) /
      sqrt(col("mn2").cast("double") * d2d(col(s"cn2$j"))), lit(-1e300))
    when(cosTo(0) >= cosTo(1), 0L).otherwise(1L)
  }

  /** Pivot of [[IvfSplitState.children]] to one row per split cell —
    * the static side a stream-static arrival join broadcasts. */
  private[graft] def childPivot(children: DataFrame): DataFrame =
    children.groupBy("cell").agg(
      max(when(col("j") === 0, col("sv"))).as("sv0"),
      max(when(col("j") === 0, col("cn2"))).as("cn20"),
      max(when(col("j") === 1, col("sv"))).as("sv1"),
      max(when(col("j") === 1, col("cn2"))).as("cn21"))

  /** Post-split assignment of one vector set against a FROZEN split
    * index (original quantizer `cents` + Lloyd `children`): coarse cell
    * by the codegen [[graft.functions.CellTop2F]] kernel, then — for
    * split cells only — the child with the larger exact fixed-point
    * cosine (ties to child 0, a drained child's null cosine coalesces
    * to −1e300, NaN resolves identically on both engines). This IS the
    * maintenance pipeline's own final reassignment rule, so for vectors
    * that were IN the build it reproduces [[ivfSplitState]]'s `assign`
    * bit-exactly (asserted by StreamingSpec) — and it is pure
    * per-row/stream-static work, so a serving index keeps ingesting
    * arrivals mid-maintenance with no semantic gap: zero shuffle, no
    * per-key state, broadcast statics only. */
  private[graft] def splitAssignArrivals(emb: DataFrame, cents: DataFrame,
      children: DataFrame, embCol: String): DataFrame = {
    foldAssignCellPre(emb, embCol, centArray(cents))
      .join(broadcast(childPivot(children)), Seq("cell"), "left")
      .withColumn("mx", fixedPoint(col(embCol).cast("array<double>")))
      .withColumn("mn2", dotLong("mx", "mx"))
      .withColumn("sub", nearerChild)
      .drop("mx", "mn2", "sv0", "cn20", "sv1", "cn21")
  }

  /** The split pipeline's corpus side: (vid, emb as array<double>). */
  private def splitSide(df: DataFrame, idCol: String, embCol: String) =
    df.select(col(idCol).as("vid"), col(embCol).cast("array<double>").as("emb"))

  /** The split pipeline shared by [[ivfCellSplit]] (load audit) and
    * [[ivfSplitRecall]] (recall audit). Steps, each exactly mirrored by
    * the DuckDB oracle:
    *
    *  1. q305's frozen quantizer (lowest-vid ⌈√N_old⌉ seeds of the old
    *     batch) assigns the FULL corpus via the codegen
    *     [[graft.functions.CellTop2F]] kernel — zero shuffle.
    *  2. Cells with n·lists·thrDen > thrNum·N (integer cross-multiply,
    *     never a double boundary) are flagged for splitting.
    *  3. Local 2-means per flagged cell: seeds = the cell's two
    *     lowest-vid members; members assign to the nearer seed; ONE
    *     distributed Lloyd round re-centers (fixed-point integer sums —
    *     the 1/n and 2^24 factors cancel in cosine, so the child
    *     centroid IS the exact integer sum vector) and reassigns.
    *
    * Determinism: every sub-assignment cosine is built from EXACT
    * integer/decimal sums (order-free — the q306 discipline) with ONE
    * final double expression, so Spark's fold order and the oracle's
    * SUM order cannot diverge; ties take the lower child index, and a
    * NaN cosine (zero vector) never wins on either engine (both order
    * NaN largest, so `c0 >= c1` agrees). An EMPTY child (possible when
    * the Lloyd round drains a side) contributes cosine −1e300 via
    * coalesce, never a null-comparison surprise.
    *
    * Scale shape: flagged membership is a broadcast semi-join (the flag
    * table is ≤ nLists rows); the 2-means touches ONLY flagged-cell
    * mass — per member it is O(d) integer work plus one d-row explode
    * into a map-side-combinable (cell, j, dim) aggregate, the standard
    * distributed-Lloyd reduction. Nothing quadratic, no corpus-wide
    * extra pass: the weekly 100 TB maintenance job this models re-reads
    * only the flagged cells' vectors. */
  private[graft] def ivfSplitState(oldBatch: DataFrame, newBatch: DataFrame,
      idCol: String, embCol: String, nList: Int = 0,
      thrNum: Int = 2, thrDen: Int = 1): IvfSplitState = {
    val n0 = splitSide(oldBatch, idCol, embCol)
    val lists = resolveNList(nList, 0, n0.count())
    // nLists rows, read by the broadcast assignment array AND the
    // survivor-centroid side of the search — pinned once
    val cents = cellSeeds(n0.withColumnRenamed("vid", "id"), lists)
      .pin()
    val centsRow = centArray(cents)
    val all = n0.unionByName(splitSide(newBatch, idCol, embCol))
    // step 1: frozen-quantizer assignment of the full corpus (q305's
    // exact semantics: the kernel's strict > keeps the lower cent_id)
    val asg = foldAssignCellPre(all, "emb", centsRow)
    val byCell = cents.select(col("cent_id").as("cell"))
      .join(asg.groupBy("cell").agg(count(lit(1)).as("n_total")),
        Seq("cell"), "left")
      .na.fill(0L, Seq("n_total"))
      .pin() // nLists rows
    ivfSplitFinish(asg.select("vid", "cell"), all, byCell, cents, lists,
      thrNum, thrDen)
  }

  /** Steps 2–5 of the split pipeline (flag → seed → Lloyd → reassign),
    * runnable off ANY pre-split assignment: `asgIds` is the full
    * corpus's (vid, cell) — a fresh frozen-quantizer scan in
    * [[ivfSplitState]], or the PERSISTED assignment plus one arrival
    * batch in [[ivfSplitUpdateIndex]] (where re-running the corpus
    * scan is exactly the cost the incremental form exists to avoid);
    * `embSrc` (vid, emb) supplies embeddings and is joined AFTER the
    * flagged semi-join, so only flagged-cell members' vectors are
    * fetched — the "re-read only the flagged cells" contract;
    * `byCell` is the per-cell census including empties (from-scratch
    * aggregate, or persisted counts + one arrival-batch sum). */
  private def ivfSplitFinish(asgIds: DataFrame, embSrc: DataFrame,
      byCell: DataFrame, cents: DataFrame, lists: Int,
      thrNum: Int, thrDen: Int): IvfSplitState = {
    val withN = byCell
      .crossJoin(broadcast(byCell.agg(sum(col("n_total")).as("__N"))))
    // step 2: the load rule as an integer cross-multiply (q305, with the
    // threshold a rational thrNum/thrDen — the audit's 2× is POLICY, and
    // a maintenance job tightens it to act before probe latency hurts)
    val flagged = withN
      .filter(dec(col("n_total")) * lists * thrDen > dec(col("__N")) * thrNum)
      .select("cell", "n_total")
    // step 3a: flagged-cell members in fixed point (broadcast semi-join
    // FIRST, so the embedding fetch touches only flagged-cell vids)
    // the 2-means working set is PINNED: flagged-cell mass only (a
    // bounded fraction of the corpus — the overloaded cells), and every
    // downstream consumer (seeds, both assignment passes, the Lloyd
    // sums) would otherwise replay the corpus-wide assignment scan
    val mem = asgIds.join(broadcast(flagged.select("cell")), Seq("cell"))
      .join(embSrc, Seq("vid"))
      .withColumn("mx", fixedPoint(col("emb")))
      .withColumn("mn2", dotLong("mx", "mx"))
      .pin()
    // step 3b: deterministic seeds — the two lowest-vid members
    val seeds = topK(mem.select(col("cell"), col("vid"), col("mx"), col("mn2")),
        2, "__rn", "cell")(col("vid"))
      .groupBy("cell").agg(
        max(when(col("__rn") === 1, col("mx"))).as("smx0"),
        max(when(col("__rn") === 1, col("mn2"))).as("sn20"),
        max(when(col("__rn") === 2, col("mx"))).as("smx1"),
        max(when(col("__rn") === 2, col("mn2"))).as("sn21"))
    // step 3c: nearer-seed assignment (exact long dots; ONE double per
    // cosine; ties and NaN resolve identically on both engines)
    val sub1 = mem.join(broadcast(seeds), Seq("cell"))
      .withColumn("__c0", dotLong("mx", "smx0").cast("double") /
        sqrt(col("mn2").cast("double") * col("sn20").cast("double")))
      .withColumn("__c1", dotLong("mx", "smx1").cast("double") /
        sqrt(col("mn2").cast("double") * col("sn21").cast("double")))
      .withColumn("__js", when(col("__c0") >= col("__c1"), 0L).otherwise(1L))
    // step 3d: ONE distributed Lloyd round — per-(cell, child, dim)
    // fixed-point sums (map-side combinable), re-collected into the
    // child centroid array; the 2^24·n scale cancels in cosine
    val dimsum = sub1
      .select(col("cell"), col("__js").as("j"),
        posexplode(col("mx")).as(Seq("d", "v")))
      .groupBy("cell", "j", "d")
      .agg(sum(dec(col("v"))).as("sv"))
    val children = dimsum.groupBy("cell", "j").agg(
      transform(array_sort(collect_list(struct(col("d"), col("sv")))),
        x => x.getField("sv")).as("sv"),
      sum(col("sv") * col("sv")).as("cn2"))
      .pin() // ≤ 2·|flagged| rows
    // step 3e: Lloyd reassignment against the child centroids
    val re = sub1.join(broadcast(childPivot(children)), Seq("cell"))
      .select(col("vid"), col("cell"), nearerChild.as("sub"))
    val assign = asgIds
      .join(re.withColumnRenamed("sub", "__sub"), Seq("vid", "cell"), "left")
      .withColumn("sub", coalesce(col("__sub"), lit(0L)))
      .select("vid", "cell", "sub")
    IvfSplitState(assign, byCell, flagged, children, cents, lists)
  }

  /** ARRIVAL WRITE-BACK — the update step that closes the persisted
    * index's life cycle (r18 verdict #5): q319 persists the split
    * index and the streaming twin routes arrivals, but nothing
    * appended them INTO the persisted state. This reads the index at
    * `dir`, assigns the arrival batch against the SAME frozen
    * quantizer (one CellTop2F scan over the arrivals only — never a
    * corpus re-scan: the corpus's pre-split cells come from the
    * persisted `assign`), merges per-cell counts (persisted totals +
    * ONE aggregate over the arrivals — integer-exact, the census
    * merge discipline), then re-runs flag → seed → Lloyd → reassign
    * off the merged state via [[ivfSplitFinish]]. Because every step
    * downstream of the merge sees exactly the inputs a from-scratch
    * build over corpus + arrivals would see (frozen cents are
    * arrival-independent; per-vector cells depend only on the vector
    * and the cents; counts merge exactly; seeds/Lloyd are
    * deterministic integer arithmetic), the updated state is
    * VALUE-IDENTICAL to the from-scratch rebuild — q324 certifies it
    * by sharing q314's oracle, and IvfSplitSpec asserts component
    * parity table-by-table.
    *
    * `corpus` supplies embeddings for vectors already in the index;
    * it is joined only for flagged-cell members (the
    * [[ivfSplitFinish]] contract), so the weekly job re-reads only
    * the overloaded cells' vectors plus the arrival batch. */
  private[graft] def ivfSplitUpdateIndex(corpus: DataFrame,
      arrivals: DataFrame, idCol: String, embCol: String, dir: String,
      thrNum: Int = 2, thrDen: Int = 1): IvfSplitState = {
    val st = ivfSplitReadIndex(corpus.sparkSession, dir)
    // arrivals assign against the frozen quantizer — the only
    // assignment scan the update runs
    val arrAsg = foldAssignCellPre(splitSide(arrivals, idCol, embCol), "emb",
      centArray(st.cents)).pin()
    // merged census: persisted totals + one arrival aggregate
    val byCell = st.cells
      .select(col("cell"), col("n_total").as("__n0"))
      .join(arrAsg.groupBy("cell").agg(count(lit(1)).as("__n1")),
        Seq("cell"), "left")
      .na.fill(0L, Seq("__n1"))
      .select(col("cell"), (col("__n0") + col("__n1")).as("n_total"))
      .pin() // nLists rows
    val asgIds = st.assign.select("vid", "cell")
      .unionByName(arrAsg.select("vid", "cell"))
    val embSrc = splitSide(corpus, idCol, embCol)
      .unionByName(arrAsg.select("vid", "emb"))
    ivfSplitFinish(asgIds, embSrc, byCell, st.cents, st.lists,
      thrNum, thrDen)
  }

  /** IVF cell-split remediation — the operator that ACTS on
    * [[ivfCellDriftAudit]]'s needs_split flags: local 2-means on each
    * oversized cell (deterministic lowest-vid seeds + one distributed
    * Lloyd round over exact fixed-point sums — see [[ivfSplitState]]),
    * then the post-split load table: per post-split cell (cell, sub),
    * its population and load factor against the ENLARGED list count
    * (lists + #flagged; every split adds one cell). Split cells emit
    * BOTH children (an empty child shows as n_vecs = 0 — the honest
    * account of a drained Lloyd side), so Σ n_vecs is always the corpus
    * and the load factors are comparable before/after.
    *
    * This is the weekly maintenance job of a serving ANN index: q305
    * flags, q312 prices the boundary mass, THIS rebalances — and its
    * output is the evidence the rebalance worked (max load back under
    * the threshold). */
  def ivfCellSplit(oldBatch: DataFrame, newBatch: DataFrame,
      idCol: String, embCol: String, nList: Int = 0,
      thrNum: Int = 2, thrDen: Int = 1): DataFrame = {
    val st = ivfSplitState(oldBatch, newBatch, idCol, embCol, nList,
      thrNum, thrDen)
    // both children of every split cell, empties included (left join)
    val childRows = st.flagged.select(col("cell"),
        explode(array(lit(0L), lit(1L))).as("sub"))
      .join(st.assign.join(broadcast(st.flagged.select("cell")), Seq("cell"))
          .groupBy("cell", "sub").agg(count(lit(1)).as("n_vecs")),
        Seq("cell", "sub"), "left")
      .na.fill(0L, Seq("n_vecs"))
      .withColumn("was_split", lit(true))
    val unsplitRows = st.cells
      .join(st.flagged.select("cell"), Seq("cell"), "left_anti")
      .select(col("cell"), lit(0L).as("sub"), col("n_total").as("n_vecs"),
        lit(false).as("was_split"))
    unsplitRows
      .unionByName(childRows.select("cell", "sub", "n_vecs", "was_split"))
      .crossJoin(broadcast(st.cells.agg(sum(col("n_total")).as("__N"))))
      .crossJoin(broadcast(st.flagged.agg(count(lit(1)).as("__ns"))))
      .select(col("cell"), col("sub"), col("n_vecs"), col("was_split"),
        // post-split load factor: population ÷ the NEW mean (every split
        // adds one list) — decimal cross-multiply, one double division
        (d2d(dec(col("n_vecs")) * dec(col("__ns") + lit(st.lists)))
          / col("__N").cast("double")).as("load_factor"))
  }

  /** Top-k search over the POST-SPLIT index: the [[ivfSplitState]]
    * assignment is the inverted file, the centroid set is the surviving
    * original seeds plus the Lloyd children, and a query probes its
    * `nProbe` nearest centroids. Probe ranking runs in the SAME
    * fixed-point arithmetic as the split (exact integer dots, one final
    * double, ties on (cell, sub)) so original seeds and integer-sum
    * children rank on one deterministic scale — cosine is
    * scale-invariant, so the 2^24·n child magnitudes are harmless. The
    * final rerank is the q89 shape: raw-embedding cosine rounded to
    * 6 dp, candidate-id tie-break.
    *
    * Scale shape: probes fan out |Q|·(lists+splits) rows (query-batch
    * bounded, the q72 rule); candidates come from an equi-join of probed
    * (cell, sub) against the corpus-sized assignment table — never a
    * corpus cross join. */
  def ivfSplitTopK(queries: DataFrame, oldBatch: DataFrame,
      newBatch: DataFrame, idCol: String, embCol: String, k: Int,
      nProbe: Int = 2, nList: Int = 0,
      thrNum: Int = 2, thrDen: Int = 1): DataFrame = {
    val st = ivfSplitState(oldBatch, newBatch, idCol, embCol, nList,
      thrNum, thrDen)
    ivfSplitTopKFrom(queries, oldBatch.unionByName(newBatch), st,
      idCol, embCol, k, nProbe)
  }

  /** The search tail of [[ivfSplitTopK]], runnable against ANY
    * [[IvfSplitState]] — a live build or one re-read from parquet via
    * [[ivfSplitReadIndex]]. `corpus` supplies the raw embeddings for
    * the final rerank (the index stores only fixed-point state). */
  private[graft] def ivfSplitTopKFrom(queries: DataFrame,
      corpus: DataFrame, st: IvfSplitState, idCol: String,
      embCol: String, k: Int, nProbe: Int): DataFrame = {
    val survivors = st.cents
      .join(st.flagged.select(col("cell").as("cent_id")),
        Seq("cent_id"), "left_anti")
      .select(col("cent_id").as("cell"), lit(0L).as("sub"),
        expr("transform(c_emb, v -> cast(cast(floor(" +
          s"v * ${EmbeddingOps.Q} + 0.5) as bigint) as decimal(38,0)))")
          .as("sv"))
      .withColumn("cn2", expr("aggregate(sv, cast(0 as decimal(38,0)), " +
        "(a, b) -> a + b * b)"))
    val newCents = survivors.select("cell", "sub", "sv", "cn2")
      .unionByName(st.children
        .select(col("cell"), col("j").as("sub"), col("sv"), col("cn2")))
    val qv = queries.select(col(idCol).as("query_id"),
        col(embCol).cast("array<double>").as("q_emb"))
      .withColumn("mx", fixedPoint(col("q_emb")))
      .withColumn("mn2", dotLong("mx", "mx"))
    val probes = topK(qv.crossJoin(broadcast(newCents))
        .withColumn("__pc", d2d(dotDec("mx", "sv")) /
          sqrt(col("mn2").cast("double") * d2d(col("cn2")))),
      nProbe, "__pr", "query_id")(col("__pc").desc, col("cell"), col("sub"))
    val pairs = probes.join(st.assign, Seq("cell", "sub"))
      .filter(col("query_id") =!= col("vid"))
      .select(col("query_id"), col("vid").as("cand_id")).distinct()
    // final rerank on RAW embeddings, the same tail as ivfTopK's
    exactRerank(pairs, side(queries, idCol, embCol, Query),
      side(corpus, idCol, embCol, Cand), k)
  }

  /** Persist / re-open the post-split index as parquet — the q140
    * serving discipline applied to [[ivfSplitState]]'s output: the
    * weekly maintenance job writes these artifacts ONCE and every
    * query/arrival consumer reloads them instead of re-deriving the
    * split pipeline. All five tables are integer/decimal/double exact
    * (longs, decimal(38,0) Lloyd sums, double centroid coordinates),
    * so parquet round-trips them bit-faithfully and a search from the
    * re-read state is value-identical to one from the live build. */
  private[graft] def ivfSplitWriteIndex(st: IvfSplitState,
      dir: String): Unit = {
    // assign is corpus-sized — natural partitioning; the other four are
    // nLists-bounded (≤ ~60 MB at 1e9 vectors), so they land as one
    // well-sized file each instead of a near-empty file per partition
    // (guide §6; also cuts the read-back listing/scheduling cost).
    // The six tables are INDEPENDENT outputs over eagerly-pinned state
    // — write them concurrently (guide §2.6 via Tables.parWrite) instead
    // of paying six serialized job+commit+gap rounds.
    val spark = st.assign.sparkSession
    import spark.implicits._
    graft.core.Tables.parWrite(Seq(
      () => graft.core.Tables.writeArtifact(st.assign, s"$dir/assign"),
      () => graft.core.Tables.writeSmall(st.cells, s"$dir/cells"),
      () => graft.core.Tables.writeSmall(st.flagged, s"$dir/flagged"),
      () => graft.core.Tables.writeSmall(st.children, s"$dir/children"),
      () => graft.core.Tables.writeSmall(st.cents, s"$dir/cents"),
      () => graft.core.Tables.writeSmall(
        Seq(st.lists).toDF("lists"), s"$dir/meta")))
  }

  private[graft] def ivfSplitReadIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfSplitState =
    IvfSplitState(
      graft.core.Tables.readStable(spark, s"$dir/assign"),
      graft.core.Tables.readStable(spark, s"$dir/cells"),
      graft.core.Tables.readStable(spark, s"$dir/flagged"),
      graft.core.Tables.readStable(spark, s"$dir/children"),
      graft.core.Tables.readStable(spark, s"$dir/cents"),
      graft.core.Tables.readStable(spark, s"$dir/meta").head().getInt(0))

  /** SQ8 (per-dimension uint8 scalar quantization) top-k: brute-force
    * cosine over DEQUANTIZED vectors, with min/max ranges learned from
    * the candidate corpus — the index-build side. Composed with
    * [[recallVsExact]] this prices what the 4× storage compression
    * costs in retrieval quality: the serving-layer decision that
    * per-dimension reconstruction error (q190) cannot answer, because
    * coordinate errors do not compose linearly into rank flips.
    *
    * Scale shape: the range table is ONE corpus aggregate (posexplode →
    * dim-sized groupBy, map-side partial) collapsed to a single row of
    * dim-length struct arrays and broadcast; de/quantization is then a
    * pure per-row zip_with — NO corpus shuffle at all — and the search
    * is [[bruteForceTopK]] on the dequantized column (swap in ivfTopK
    * unchanged at corpus scale). Determinism: code =
    * clamp(floor((x−mn)/scale + 0.5), 0..255) and dq = mn + code·scale
    * are IEEE double ops on exactly-widened f32 values, bit-identical
    * cross-engine; the cosine rounds to 6 dp with the id tie-break like
    * every retrieval op here. */
  def sq8TopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val ranges = candidates
      .select(posexplode(col(embCol).cast("array<double>"))
        .as(Seq("__p", "__x")))
      .groupBy("__p").agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
      .agg(sort_array(collect_list(struct(col("__p"), col("__mn"),
        ((col("__mx") - col("__mn")) / 255.0).as("__sc")))).as("__r"))
    def dq(c: Column): Column = zip_with(c.cast("array<double>"), col("__r"),
      (x, r) => {
        val mn = r.getField("__mn")
        val sc = r.getField("__sc")
        when(sc === 0.0, mn).otherwise(mn + least(lit(255.0),
          greatest(lit(0.0), floor((x - mn) / sc + lit(0.5)))) * sc)
      })
    def dequantized(df: DataFrame) = df.crossJoin(broadcast(ranges))
      .select(col(idCol), dq(col(embCol)).as(embCol))
    bruteForceTopK(dequantized(queries), dequantized(candidates), idCol,
      embCol, k)
  }

  /** IVF-PQ / IVFADC (Jegou, Douze, Schmid 2011 §IV-A — the actual
    * billion-vector layout): the IVF coarse quantizer assigns every
    * candidate to a cell, ONE shared PQ codebook is trained on the cell
    * RESIDUALS (x − coarse centroid), and search runs [[pqTopK]]'s ADC
    * against a per-(query, probed-cell) residual LUT, confined to the
    * nProbe nearest cells.
    *
    * Composition of the two halves already proven separately: [[ivfTopK]]'s
    * deterministic coarse cells (lowest-id seeds, cosine assignment) and
    * [[productQuantizeFull]]'s binary-quantized codebook. Determinism
    * carries through because the residual is one IEEE double subtraction
    * per coordinate (floats widened exactly), so codes, LUT terms, and the
    * m-addend ADC sums stay bit-identical across engines, unrounded.
    *
    * Scale shape: the corpus-side scan touches only (cell, sub, code) —
    * codes are ~dim/m·log2(k')/32 of the embedding bytes — and the
    * LUT broadcast is |Q|·nProbe·m·k' rows. Per-cell candidate scoring is
    * an equi-join on (cell, sub, code); nothing ever cross-joins the
    * corpus. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      embCol: String, k: Int, nList: Int = 0, nProbe: Int = 2,
      m: Int = 8, codebookK: Int = 16, iters: Int = 2,
      dim: Int = 64): DataFrame =
    ivfPqSearch(
      ivfPqBuild(candidates, idCol, embCol, nList, m, codebookK, iters, dim),
      queries, idCol, embCol, k, nProbe, m, dim)

  /** The four artifacts of an offline IVF-PQ index build — exactly what a
    * production pipeline persists once and searches many times:
    * coarse centroids (nList rows), cell assignment (one narrow row per
    * vector), PQ code table (m small codes per vector — the only
    * corpus-sized scan a search touches), and the residual codebook
    * (m·k' rows). All four are plain DataFrames, so "persist the index"
    * is four parquet writes ([[ivfPqWriteIndex]]) and the search half
    * runs unchanged against the re-read artifacts. */
  case class IvfPqIndex(cents: DataFrame, cells: DataFrame,
      codes: DataFrame, codebook: DataFrame)

  /** Build half of [[ivfPqTopK]]: coarse quantizer + residual encoding +
    * PQ codebook training. One pass over the corpus; outputs are the
    * bounded index artifacts. */
  def ivfPqBuild(candidates: DataFrame, idCol: String, embCol: String,
      nList: Int = 0, m: Int = 8, codebookK: Int = 16, iters: Int = 2,
      dim: Int = 64): IvfPqIndex = {
    val n = side(candidates, idCol, embCol, Corpus)
    val cents = cellSeeds(n, resolveNList(nList, 0, n.count()))
    // residual r = x − c(cell), widened to double first so the
    // per-coordinate subtraction is the same IEEE op the oracle runs;
    // (c_emb, emb) ride through the assignment, so no re-join
    val assigned = assignCells(n, cents, col("c_emb"), col("emb"))
      .select(col("id"), col("cell"), residual("emb", "c_emb").as("r_emb"))
    val (codes, codebook) = productQuantizeFull(assigned, "id", "r_emb",
      m, codebookK, iters, dim)
    IvfPqIndex(cents, assigned.select(col("id").as("cand_id"), col("cell")),
      codes, codebook)
  }

  /** Per-coordinate `a − b` of two embedding columns, both widened to
    * double first. */
  private def residual(a: String, b: String): Column =
    zip_with(col(a).cast("array<double>"), col(b).cast("array<double>"),
      (x, y) => x - y)

  /** Search half of [[ivfPqTopK]]: per (query, probed cell) residual LUT,
    * ADC confined to the probed cells' members. Runs identically against
    * a freshly-built or parquet-re-read [[IvfPqIndex]]. */
  def ivfPqSearch(index: IvfPqIndex, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int = 2, m: Int = 8,
      dim: Int = 64): DataFrame = {
    val probes = probeCells(side(queries, idCol, embCol, Query),
        index.cents, nProbe)
      .select(col("query_id"), col("cent_id").as("cell"),
        residual("q_emb", "c_emb").as("qr"))
    val lut = adcLut(probes, "qr", index.codebook, m, dim / m,
      "query_id", "cell")
    adcTopK(index.codes
      .join(index.cells, index.codes("id") === index.cells("cand_id"))
      .join(broadcast(lut), Seq("cell", "sub", "code")), k)
  }

  /** Persist / re-open the index artifacts as four parquet tables —
    * doubles and floats round-trip parquet bit-exactly, so a search from
    * the re-read index is value-identical to one from the live build. */
  def ivfPqWriteIndex(index: IvfPqIndex, dir: String): Unit = {
    // cells/codes are corpus-sized (one narrow row per vector) — natural
    // partitioning; cents (nLists rows) and codebook (m·k' rows) are
    // bounded and land as one file each (guide §6). The four tables are
    // independent outputs — written concurrently (guide §2.6 via
    // Tables.parWrite): overlapping the two corpus-sized writes' task
    // tails with the two bounded single-file commits.
    graft.core.Tables.parWrite(Seq(
      () => graft.core.Tables.writeArtifact(index.cells, s"$dir/cells"),
      () => graft.core.Tables.writeArtifact(index.codes, s"$dir/codes"),
      () => graft.core.Tables.writeSmall(index.cents, s"$dir/cents"),
      () => graft.core.Tables.writeSmall(index.codebook, s"$dir/codebook")))
  }

  def ivfPqReadIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex =
    IvfPqIndex(graft.core.Tables.readStable(spark, s"$dir/cents"),
      graft.core.Tables.readStable(spark, s"$dir/cells"),
      graft.core.Tables.readStable(spark, s"$dir/codes"),
      graft.core.Tables.readStable(spark, s"$dir/codebook"))

  /** IVFADC+R (Jegou, Douze, Schmid 2011 §IV-B): exact re-ranking of the
    * ADC shortlist. [[ivfPqTopK]] produces an R-deep shortlist from
    * compressed codes only; this stage fetches the TRUE embeddings for
    * just those |Q|·R candidates and re-ranks by exact cosine (6-dp
    * round, cand-id tie-break — the [[bruteForceTopK]] determinism
    * route).
    *
    * Scale shape: the shortlist (|Q|·R id pairs) broadcasts into ONE pass
    * over the corpus, so full embeddings are fetched for shortlisted rows
    * only — the corpus-wide scan stays codes-only inside the ADC stage.
    * This is the production billion-vector layout: compressed first pass,
    * exact second pass over |Q|·R rows. */
  def ivfPqRerank(queries: DataFrame, candidates: DataFrame, idCol: String,
      embCol: String, k: Int, shortlist: Int = 10, nList: Int = 0,
      nProbe: Int = 2, m: Int = 8, codebookK: Int = 16, iters: Int = 2,
      dim: Int = 64): DataFrame = {
    val short = ivfPqTopK(queries, candidates, idCol, embCol, shortlist,
      nList, nProbe, m, codebookK, iters, dim)
      .select("query_id", "cand_id")
    // broadcast shortlist into ONE corpus pass, so the join order is not
    // exactRerank's
    scoreTopK(side(candidates, idCol, embCol, Cand)
      .join(broadcast(short), Seq("cand_id"))
      .join(broadcast(side(queries, idCol, embCol, Query)),
        Seq("query_id")), k)
  }

  /** Deterministic Achlioptas sparse random-projection matrix
    * (Achlioptas 2003: entries +1/−1 with probability 1/6 each, 0 with
    * probability 2/3, scaled by sqrt(3/outDim)): entry (i, j) is derived
    * from the portable md5 hash of "rp:i:j", so BOTH engines receive the
    * same matrix as plan-time literals — no runtime hashing, no weight
    * table to ship. */
  def rpMatrix(inDim: Int, outDim: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(inDim, outDim) { (i, j) =>
      val hex = md.digest(s"rp:$i:$j".getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(15), 16) % 6) match {
        case 0 => 1
        case 1 => -1
        case _ => 0
      }
    }
  }

  /** Johnson–Lindenstrauss random projection of the embedding column,
    * `inDim` → `outDim`, via [[rpMatrix]]. Each output coordinate is a
    * fixed LEFT-TO-RIGHT ±sum of ~inDim/3 input floats (matrix zeros are
    * skipped in the same order in the oracle SQL) times the
    * sqrt(3/outDim) scale pinned to 6 digits, rounded to 6 — bit-identical
    * across engines. Pure map over the embedding scan: zero shuffles,
    * whole-stage codegen; at 100 TB this is the dimensionality-reduction
    * front of any ANN/clustering pipeline (4× fewer bytes into every
    * downstream shuffle at distance-preservation guaranteed by JL).
    *
    * Each coordinate is a [[graft.functions.SignedGatherSumF]] — a
    * codegen'd loop over the column's nonzero (index, sign) lists. The
    * earlier unrolled `±element_at` chains emitted O(inDim·outDim)
    * generated Java and broke Janino's 64 KB method limit already at
    * 64→16, silently dropping the stage to interpreted eval; the loop form
    * keeps generated size O(outDim) and the identical IEEE fold order. */
  def randomProjection(df: DataFrame, idCol: String, embCol: String,
      inDim: Int = 64, outDim: Int = 16): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val m = rpMatrix(inDim, outDim)
    val scale = math.rint(math.sqrt(3.0 / outDim) * 1e6) / 1e6
    val proj = (0 until outDim).map { j =>
      val nz = (0 until inDim).filter(i => m(i)(j) != 0)
      val s =
        if (nz.isEmpty) lit(0.0d)
        else graft.functions.VectorExpressions.sgsum(col(embCol),
          lit(nz.toArray), lit(nz.map(i => m(i)(j)).toArray))
      // IEEE `x + 0.0` maps -0.0 to +0.0 (and is identity elsewhere), so a
      // rounded-to-zero negative sum hashes identically to the oracle's
      // `ROUND(...) + 0.0` — Spark's round() already normalizes the sign,
      // DuckDB's does not; both sides normalize explicitly.
      round(s * scale, 6) + lit(0.0d)
    }
    df.select(col(idCol), array(proj: _*).as("proj"))
  }

  /** Pairwise Jensen–Shannon divergence between groups (sources) in
    * embedding space, over SRP sign-cells (Charikar 2002 hyperplane
    * rounding of the [[rpMatrix]] projection): each embedding lands in one
    * of 2^`bits` cells by the sign pattern of its `bits`-dim JL projection,
    * each group becomes an add-one-smoothed cell histogram over ALL cells
    * (absent cells carry the 1/(n+2^bits) floor — mandatory, or JS is
    * undefined), and group pairs compare via
    * JS = ½·KL(p‖m) + ½·KL(q‖m), m = (p+q)/2.
    *
    * The semantic companion to q223's value-space PSI: "which sources
    * cover the same embedding territory" drives mixture/dedup decisions
    * before any expensive cross-source pairwise scan. Scale shape: ONE
    * corpus-side map (the projection) + one (group, cell) hash aggregate
    * with map-side partials; everything after is bounded by
    * groups × 2^bits (the full-cell frame and the groups²/2 × cells
    * equi-join on the 2^bits-valued cell key — AQE broadcasts both).
    * Per-pair terms are 8-dp-pinned and summed exactly, so reduction
    * order cannot shift the hash; `js_dist` is the metric form √JS. */
  def signCellJsDivergence(df: DataFrame, groupCol: String, embCol: String,
      inDim: Int = 64, bits: Int = 4): DataFrame = {
    require(bits > 0 && bits <= 12, s"bits must be in [1,12], got $bits")
    val nCells = 1 << bits
    val projected = randomProjection(
      df.select(col(groupCol).as("__g"), col(embCol)), "__g", embCol,
      inDim, outDim = bits)
    val cell = (0 until bits)
      .map(j => when(col("proj")(j) >= 0, lit(1 << (bits - 1 - j)))
        .otherwise(lit(0)))
      .reduce(_ + _)
    // groups × ≤2^bits rows, but its subtree is the corpus-wide
    // projection pass and four consumers reference it (totals, the
    // cell-frame join, both pair sides) — materialize once so the corpus
    // is scanned once, not four times.
    val counts = projected.select(col("__g"), cell.cast("long").as("cell"))
      .groupBy("__g", "cell").agg(count(lit(1)).as("__c"))
      .pin()
    val totals = counts.groupBy("__g").agg(sum(col("__c")).as("__n"))
    // Everything below is groups × 2^bits sized: hint the broadcasts, so
    // they hold also with auto-broadcast off.
    val full = totals
      .withColumn("cell", explode(sequence(lit(0L), lit(nCells - 1L))))
      .join(broadcast(counts), Seq("__g", "cell"), "left")
      .withColumn("__p", (coalesce(col("__c"), lit(0L)) + 1).cast("double") /
        (col("__n") + nCells))
    val a = full.select(col("__g").as("src_a"), col("cell"),
      col("__p").as("__pa"), col("__n").as("n_a"))
    val b = full.select(col("__g").as("src_b"), col("cell"),
      col("__p").as("__pb"), col("__n").as("n_b"))
    a.join(broadcast(b), Seq("cell")).filter(col("src_a") < col("src_b"))
      .withColumn("__m", (col("__pa") + col("__pb")) / 2)
      .withColumn("__term", round(
        (col("__pa") * log(col("__pa") / col("__m")) +
          col("__pb") * log(col("__pb") / col("__m"))) / 2, 8))
      .groupBy("src_a", "src_b")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        graft.core.Det.roundSumDet(col("__term"), 8, 6)
          .as("js_divergence"))
      .withColumn("js_dist",
        round(sqrt(greatest(col("js_divergence"), lit(0.0d))), 6))
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): does the first-`subDim`-coordinate prefix
    * of the embedding (truncate + renormalize — exactly cosine over the
    * sliced array) retrieve the same top-1 neighbor as the full vector?
    * The decision table behind shipping a cheaper prefix index.
    *
    * Shape: broadcast the (small) query side, ONE candidate scan scoring
    * full and prefix cosine together, then a map-side-combinable max_by
    * argmax per query — no window, no second scan, shuffle volume
    * |queries|. Ties break to the lower candidate id on both metrics.
    * Output: (vec_id, top1_full, top1_sub, is_match, cos_full_top,
    * cos_sub_top). */
  def matryoshkaRecall(queries: DataFrame, candidates: DataFrame,
      idCol: String, embCol: String, subDim: Int): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("q_emb"),
      slice(col(embCol), 1, subDim).as("q_sub"))
    val c = candidates.select(col(idCol).as("cid"), col(embCol).as("c_emb"),
      slice(col(embCol), 1, subDim).as("c_sub"))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        VectorOps.cosine(VectorOps.dot(col("c_emb"), col("q_emb")),
          VectorOps.normSq(col("c_emb")), VectorOps.normSq(col("q_emb")))
          .as("cos_full"),
        VectorOps.cosine(VectorOps.dot(col("c_sub"), col("q_sub")),
          VectorOps.normSq(col("c_sub")), VectorOps.normSq(col("q_sub")))
          .as("cos_sub"))
      .groupBy(col("qid"))
      .agg(
        max_by(col("cid"), struct(col("cos_full"), -col("cid")))
          .as("top1_full"),
        max_by(col("cid"), struct(col("cos_sub"), -col("cid")))
          .as("top1_sub"),
        round(max(col("cos_full")), 6).as("cos_full_top"),
        round(max(col("cos_sub")), 6).as("cos_sub_top"))
      .select(col("qid").as(idCol), col("top1_full"), col("top1_sub"),
        (col("top1_full") === col("top1_sub")).as("is_match"),
        col("cos_full_top"), col("cos_sub_top"))
  }

  /** Local Outlier Factor (Breunig et al., SIGMOD 2000): density-based
    * embedding outliers — LOF(p) = mean(lrd of p's neighbors)/lrd(p),
    * where lrd is the inverse mean REACHABILITY distance
    * max(k-distance(o), d(p,o)) — ≈1 inside any uniform-density region
    * regardless of its density (the property a global z-score lacks),
    * ≫1 for isolated points. Distances are the 6-dp cosine distance
    * 1−cos on the cell-confined [[knnGraph]] (the ANN-backed LOF used
    * at scale).
    *
    * Scale shape: three equi-join/aggregate rounds over the N·k graph
    * rows (pinned once). Reachability values stay on the exact 6-dp
    * grid (max of exact values) so their sums are exact; lrd rounds to
    * 8 dp before the second aggregation so ITS sums are exact too —
    * nothing order-dependent anywhere. Points whose reach-sum is 0
    * (all-duplicate neighborhoods) have undefined lrd → null LOF. */
  def lof(emb: DataFrame, idCol: String, embCol: String, k: Int = 3,
      nList: Int = 0): DataFrame = {
    val g = knnGraph(emb, idCol, embCol, k, nList)
      .select(col(idCol).as("p"), col("nbr_id").as("o"),
        (lit(1.0) - col("cos")).as("d"))
      .pin()
    val kdist = g.groupBy("p").agg(max(col("d")).as("kd"))
    val lrd = g
      .join(kdist.select(col("p").as("o"), col("kd").as("__kdo")), Seq("o"))
      .groupBy("p")
      .agg(count(lit(1)).as("__n"),
        graft.core.Det.sumDet(greatest(col("__kdo"), col("d")), 6)
          .as("__sr"))
      .withColumn("lrd", when(col("__sr") > 0.0,
        round(col("__n").cast("double") / col("__sr"), 8)))
      .pin()
    g.join(lrd.select(col("p").as("o"), col("lrd").as("__lo")), Seq("o"))
      .groupBy("p")
      .agg(count(col("__lo")).as("n_nbrs"),
        graft.core.Det.sumDet(col("__lo"), 8).as("__sl"))
      .join(lrd.select(col("p"), col("lrd")), Seq("p"))
      .select(col("p").as(idCol), col("n_nbrs"), col("lrd"),
        round(when(col("lrd") > 0.0 && col("n_nbrs") > 0,
          col("__sl") / col("n_nbrs") / col("lrd")), 6).as("lof"))
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017, "Estimating
    * the intrinsic dimension of datasets by a minimal neighborhood
    * information"): under a locally uniform density the ratio
    * μ = r₂/r₁ of each point's 2nd/1st-neighbor distances is
    * Pareto(id), so the MLE is id = N / Σ ln μᵢ — two neighbors per
    * point is ALL the information needed. Distances here are the cosine
    * distance 1−cos on the 6-dp graph scores (the standard embedding
    * practice); pairs with r₁ = 0 (exact duplicates) carry no ratio
    * information and are excluded, as in the paper's protocol.
    *
    * Scale shape: rides the cell-confined [[knnGraph]] at k = 2 (the
    * ANN-backed TwoNN everyone runs at scale — exact 2-NN would be
    * all-pairs); per-point log terms round to 8 dp and sum through
    * exact decimal. Output: one row (n_used, sum_log, intrinsic_dim). */
  def twoNN(emb: DataFrame, idCol: String, embCol: String,
      nList: Int = 0): DataFrame = {
    val g = knnGraph(emb, idCol, embCol, k = 2, nList = nList)
    g.groupBy(col(idCol))
      .agg(max(when(col("nbr_rank") === 1, col("cos"))).as("__c1"),
        max(when(col("nbr_rank") === 2, col("cos"))).as("__c2"))
      .filter(col("__c2").isNotNull && col("__c1") < 1.0)
      .withColumn("__l", round(log(
        (lit(1.0) - col("__c2")) / (lit(1.0) - col("__c1"))), 8))
      .agg(count(lit(1)).as("n_used"),
        graft.core.Det.sumDet(col("__l"), 8).as("__s"))
      .select(col("n_used"), round(col("__s"), 6).as("sum_log"),
        round(when(col("__s") > 0.0,
          col("n_used").cast("double") / col("__s")), 4)
          .as("intrinsic_dim"))
  }

  /** Exact KNN-Shapley data valuation (Jia et al., VLDB 2019, "Efficient
    * Task-Specific Data Valuation for Nearest Neighbor Algorithms",
    * Theorem 1): under a K-NN utility, each training point's exact
    * Shapley value for one test point obeys the closed recursion
    * (train sorted nearest-first, rank i of N)
    *
    *   s_N = 1[y_N = y] / N
    *   s_i = s_{i+1} + (1[y_i = y] − 1[y_{i+1} = y]) · min(K,i) / (K·i)
    *
    * which TELESCOPES into a suffix sum — so the whole valuation is one
    * rank window plus one cumulative-sum window per test point, no
    * iteration, O(N log N) total. Output: per train point, the mean
    * Shapley value over the query batch (the "which examples help/hurt
    * this eval set" curation signal).
    *
    * Scale shape: bounded broadcast query side × one corpus scan (the
    * q30 cost class); the rank window range-partitions by query.
    * Cross-engine exactness: each rank increment is quantized onto the
    * 2^30 binary grid (floor(d·2^30 + 0.5); power-of-two scaling is
    * IEEE-exact), so every suffix and mean is integer arithmetic —
    * reduction order cannot shift the hash. Ranks sort on the 6-dp
    * cosine with id tie-break (the q30 convention). */
  def knnShapley(queries: DataFrame, train: DataFrame, idCol: String,
      embCol: String, labelCol: String, k: Int = 5): DataFrame = {
    val grid = 1073741824L // 2^30
    val q = side(queries, idCol, embCol, Query, col(labelCol).as("q_label"))
    val c = side(train, idCol, embCol, Cand, col(labelCol).as("c_label"))
    val byCos = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    val byRank = Window.partitionBy("query_id").orderBy("rnk")
    val part = Window.partitionBy("query_id")
    val suffix = Window.partitionBy("query_id").orderBy(col("rnk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a full ranking (no `<= k` cut), so not [[topK]]
    val ranked = c.crossJoin(broadcast(q))
      .withColumn("cos", cos6("q_emb", "c_emb", "q_n2", "c_n2"))
      .withColumn("rnk", row_number().over(byCos))
      .withColumn("m", (col("c_label") === col("q_label")).cast("int"))
      .select("query_id", "cand_id", "rnk", "m")
    val scored = ranked
      .withColumn("__n", count(lit(1)).over(part))
      .withColumn("__m2", lead(col("m"), 1).over(byRank))
      // d_i·2^30 as an exact integer; the lone double op per rank is one
      // correctly-rounded division, identical on both engines
      .withColumn("__d", when(col("rnk") < col("__n"),
        floor(((col("m") - col("__m2")) * least(lit(k), col("rnk")))
          .cast("double") / (lit(k) * col("rnk")) * grid + 0.5)
          .cast("long")).otherwise(0L))
      .withColumn("__sN", max(when(col("rnk") === col("__n"),
        floor(col("m").cast("double") / col("__n") * grid + 0.5)
          .cast("long"))).over(part))
      .withColumn("__s", sum(col("__d")).over(suffix) + col("__sN"))
    scored.groupBy(col("cand_id").as(idCol))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("__s")).cast("double") / grid /
          count(lit(1)), 6).as("shap_mean"))
  }
}
