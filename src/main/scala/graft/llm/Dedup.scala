package graft.llm

import scala.collection.mutable.LongMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pin.Syntax
import graft.core.Tables
import graft.ops.GraphLoop

/** Deduplication operators for large-scale document corpora.
  *
  * Four strategies, all shuffle-frugal by construction:
  *  - exact:   one hash-groupBy on md5(text); at 100 TB this is a single
  *             shuffle on a 16-byte key with map-side pre-aggregation.
  *  - minhash: shingle → k-permutation signature → banded LSH keys →
  *             equi-join on (band, key). The cross-document comparison is
  *             confined to hash buckets, never a cross join; candidate
  *             pairs are verified with exact Jaccard.
  *  - simhash: 60-bit fingerprint; near-dup candidates via pigeonhole band
  *             equality (h ≤ bands-1 differing bits guarantees one equal
  *             band), verified by Hamming distance.
  *  - ngram:   exact pairwise Jaccard within an explicit blocking key
  *             (e.g. source) — the quadratic fallback, bounded per block.
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct text with count and the
    * kept (minimum) id. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Positioned token rows (carry…, id, __pos, __w) — the one token scan
    * every shingle and span operator in this object starts from. It
    * repartitions on the doc id up front, at a PINNED width: corpus files
    * are often few large parquet files, the per-token work (hashing,
    * window `lead`s) is CPU-bound and invisible to AQE's size-based
    * coalescing (the q203 trap), and the per-doc windows that follow reuse
    * the same exchange. */
  private def tokenRows(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[Column] = Nil): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(carry :+ col(idCol) :+
        posexplode(TextOps.words(col(textCol))).as(Seq("__pos", "__w")): _*)

  /** Distinct word n-gram shingles, one ROW per (doc, shingle).
    *
    * posexplode + window `lead` composition over [[tokenRows]] — every
    * expression codegen'd (the array-lambda form evaluates interpreted
    * and measured ~30x slower at sf0.1). Row form is also the scale
    * layout — set intersections become shingle-equality joins instead of
    * array ops. The `lead` window partitions by `extraCols :+ idCol`, so
    * one id under two `extraCols` values (e.g. both sides of a tagged
    * union) shingles each document apart instead of interleaving their
    * tokens; HashPartitioning(id) satisfies that clustering, so the
    * window needs no exchange of its own. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, extraCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy((extraCols :+ idCol).map(col): _*)
      .orderBy(col("__pos"))
    val parts = col("__w") +: (1 until shingleN).map(k => lead(col("__w"), k).over(w))
    // Dedupe via distinct(): HashPartitioning(id) from the up-front
    // repartition SATISFIES ClusteredDistribution(extra.., id, shingle)
    // (hash keys are a subset of the grouping keys), so the aggregate runs
    // exchange-free on the existing id partitioning — and a hash aggregate
    // replaces the second full sort a row_number dedup window needed.
    tokenRows(docs, idCol, textCol, extraCols.map(col))
      .withColumn("shingle", concat_ws(" ", parts: _*))
      .withColumn("__last", lead(col("__w"), shingleN - 1).over(w))
      .filter(col("__last").isNotNull)
      .select((extraCols :+ idCol).map(col) :+ col("shingle"): _*)
      .distinct()
  }

  /** Distinct shingle-set sizes per document. */
  def shingleSetSizes(rows: DataFrame, idCol: String): DataFrame =
    rows.groupBy(col(idCol)).agg(count(lit(1)).as("__set_size"))

  /** Cross-document duplicate n-gram fraction (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * corpus-level counterpart of the within-doc repeated-span stats):
    * per document, the fraction of its DISTINCT n-gram shingles that
    * occur in at least one other document. Two shuffles, both on narrow
    * keys: a count aggregate on the shingle (map-side partials — the
    * shingle space is the corpus vocabulary, never all-pairs) and the
    * per-doc roll-up. Docs with fewer than n words have no shingles and
    * produce no row (mirrored by the oracle). */
  def dupNgramFraction(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, shingleN)
    // Skew-immune by algebra: n_dup = n_shingles - n_unique, and a
    // UNIQUE shingle (corpus doc-count == 1) identifies its sole document
    // via min(id) inside the same aggregate — no join back to the shingle
    // rows, no per-shingle window sort group (the round-8 window form put
    // a hot shingle's whole group in one task). A pathologically hot
    // shingle (one in 50% of all documents) collapses to <= one partial
    // row per input partition in the map-side count, so it costs the
    // same as a rare one; SkewSpec rehearses exactly that corpus, pins
    // the plan shape, and reads the partial-aggregate row metric.
    // Cost shape: the two consumers replan the shingle subtree, but both
    // branches share the canonically-identical scan+repartition exchange
    // (reused, one corpus read); the duplicated explode+distinct is
    // map-side CPU only. The per-doc total aggregates exchange-free on
    // the id partitioning; the unique-shingle branch pays one exchange
    // of COLLAPSED partials on the shingle key and one on min(id).
    val total = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val uniq = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__c"), min(col(idCol)).as("__id"))
      .filter(col("__c") === 1)
      .groupBy(col("__id")).agg(count(lit(1)).as("__n_uniq"))
    total.join(uniq, total(idCol) === uniq("__id"), "left")
      .select(total(idCol).as(idCol), col("n_shingles"),
        (col("n_shingles") - coalesce(col("__n_uniq"), lit(0L)))
          .as("n_dup_shingles"))
      .withColumn("dup_frac",
        bround(col("n_dup_shingles").cast("double") / col("n_shingles"), 6))
  }

  /** Exact-substring duplicate spans (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * operator class, word-granularity): a position is duplicated when it
    * lies inside any k-word window whose exact text occurs more than once
    * in the corpus. Per document: token count, tokens covered by the
    * UNION of overlapping duplicated windows (one-pass sweep — running
    * max of span ends inside the per-doc sort window), and the covered
    * fraction. Scale shape: positioned windows explode to ~n_words rows,
    * the duplicate test is ONE equi-aggregation on the window text (a hot
    * boilerplate window collapses map-side exactly like
    * [[dupNgramFraction]]), and the sweep shuffles only rows of
    * DUPLICATED windows, keyed by doc. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val base = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__w"))
      .withColumn("n_words", size(col("__w")).cast("long"))
    val wins = base.filter(col("n_words") >= k)
      .withColumn("__grams", expr(
        s"transform(sequence(0, size(__w) - $k), i -> concat_ws(' ', slice(__w, i + 1, $k)))"))
      .select(col(idCol), posexplode(col("__grams")).as(Seq("pos", "gram")))
    val dupGrams = wins.groupBy("gram").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
    val dup = wins.join(dupGrams.select("gram"), Seq("gram"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val covered = dup
      .withColumn("__cme", max(col("pos") + lit(k - 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__from", greatest(col("pos"), coalesce(col("__cme") + 1, col("pos"))))
      .withColumn("__contrib",
        greatest(col("pos") + lit(k - 1) - col("__from") + 1, lit(0)))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib").cast("long")).as("covered_tokens"))
    base.select(col(idCol), col("n_words"))
      .join(covered, Seq(idCol), "left")
      .na.fill(0L, Seq("covered_tokens"))
      .withColumn("dup_frac",
        round(col("covered_tokens").cast("double") / col("n_words"), 6))
  }

  /** Exact train→eval contamination spans (the cross-SET form of
    * [[dupSpans]], Lee et al. 2021 §4 "exact substring" applied to
    * benchmark decontamination — the EXACT counterpart of the q118
    * Bloom-probe screen): for every train document, the number of k-word
    * windows whose exact text occurs anywhere in the eval split
    * (`idCol % evalMod == 0`), and the LONGEST consecutive run of such
    * windows — `span_tokens = max_run + k − 1` is the length of the
    * longest verbatim-shared substring at word granularity, the statistic
    * that distinguishes a quoted sentence from wholesale test-set leakage.
    *
    * Scale shape: positioned train windows (≈ corpus token count) meet
    * the DISTINCT eval gram set in one LEFT SEMI equi-join on the gram
    * text — each train row matches at most once, so a boilerplate gram
    * hot on BOTH sides cannot fan out (contrast a pair join's df²). Run
    * detection then sorts only the MATCHED rows per doc (bounded by the
    * doc's own window count) in the same exchange as the per-doc rollup:
    * consecutive positions share `pos − row_number()`, a gaps-and-islands
    * key needing no self-join. Eval-side distinct collapses map-side. */
  def contaminationSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, evalMod: Int = 97): DataFrame = {
    val base = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__w"))
      .withColumn("n_words", size(col("__w")).cast("long"))
    val wins = base.filter(col("n_words") >= k)
      .withColumn("__grams", expr(
        s"transform(sequence(0, size(__w) - $k), i -> concat_ws(' ', slice(__w, i + 1, $k)))"))
      .select(col(idCol), posexplode(col("__grams")).as(Seq("pos", "gram")))
    val evalGrams = wins.filter(col(idCol) % evalMod === 0)
      .select("gram").distinct()
    val hits = wins.filter(col(idCol) % evalMod =!= 0)
      .join(evalGrams, Seq("gram"), "left_semi")
    val w = Window.partitionBy(idCol).orderBy("pos")
    val runs = hits
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col(idCol))
      .agg(sum(col("__len")).as("n_hits"), max(col("__len")).as("max_run"))
    base.filter(col(idCol) % evalMod =!= 0)
      .select(col(idCol), col("n_words"),
        greatest(col("n_words") - lit(k - 1), lit(0L)).as("n_grams"))
      .join(runs, Seq(idCol), "left")
      .na.fill(0L, Seq("n_hits", "max_run"))
      .withColumn("span_tokens",
        when(col("max_run") > 0, col("max_run") + lit(k - 1)).otherwise(0L))
  }

  /** Universal-hash constants for the k MinHash permutations: one 32-bit
    * base hash per shingle, then h_j = (A_j * h + B_j) mod P — 1 md5 per
    * shingle row instead of k (md5 dominates signature cost at k=8).
    * Products stay < 2^63 (A_j < 2^27, h < 2^32), so the arithmetic is
    * exact in both Spark longs and DuckDB BIGINTs — oracle-portable. */
  val MINHASH_P = 2147483647L // 2^31 - 1
  val HASH_A = Seq(1299721L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)
  val HASH_B = Seq(104729L, 1299709L, 2750159L, 4256233L,
    5800079L, 7368787L, 8960453L, 10570841L)

  /** Per-document MinHash signature over word n-gram shingles: shingle
    * rows → one 32-bit md5-derived base hash → `numHashes` codegen'd
    * universal-hash `min` aggregates with map-side partial mins — one
    * shuffle on the doc id. `mh` is array<long>. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    signaturesFromRows(shingleRows(docs, idCol, textCol, shingleN), idCol, numHashes)
      .select(col(idCol), col("mh"))

  /** MERGED MinHash signature per group (Broder's union property:
    * mh(A ∪ B) = elementwise-min(mh(A), mh(B)) — the MinHash analog of
    * the q168 per-register HLL MAX merge): one signature per `groupCol`
    * over the union of all member documents' shingle sets. Mergeability
    * is what makes this a 100 TB operator — group signatures fall out of
    * the SAME map-side-partial `min` aggregate as per-doc ones, shuffling
    * one collapsed row per (partition, group), and shard-level signatures
    * can later be re-merged without touching the corpus. Pairwise
    * signature agreement then estimates cross-group Jaccard overlap
    * (q220) from a groups² table, never a corpus join. */
  def mergedMinhash(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, shingleN: Int, numHashes: Int): DataFrame =
    signaturesFromRows(
      shingleRows(docs, idCol, textCol, shingleN, extraCols = Seq(groupCol)),
      groupCol, numHashes)

  /** Distinct-shingle cardinality per group from the SAME k-min-value
    * sketch the dedup layer already maintains (Bar-Yossef et al. 2002;
    * with k independent hash minima over n distinct elements each
    * min/P ~ Beta(1, n), so the MLE is n̂ = k·P / Σmin − 1). Audited
    * against the exact `COUNT(DISTINCT shingle)` in the same single
    * aggregation pass — one multi-distinct hash aggregate over the
    * shingle rows, map-side-partial mins, one collapsed row per group.
    *
    * The point at 100 TB: the estimator needs only the k·groups longs a
    * merged signature already carries (shard sketches re-merge by
    * elementwise min, like [[mergedMinhash]]), so "how many distinct
    * shingles does this source contribute" becomes metadata, not a
    * corpus-wide COUNT DISTINCT. The exact column is the audit side at
    * gate scale; Σmin is an EXACT long sum, so the estimate is one
    * deterministic double division on both engines. */
  def kmvCardinality(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, shingleN: Int = 3,
      numHashes: Int = 8): DataFrame = {
    require(numHashes <= HASH_A.size, s"at most ${HASH_A.size} hash functions")
    val base =
      conv(substr(md5(col("shingle")), lit(1), lit(8)), 16, 10).cast("long")
    val mins = (0 until numHashes).map(j =>
      min((lit(HASH_A(j)) * base + lit(HASH_B(j))) % MINHASH_P)
        .as(s"__mh$j"))
    val aggs = countDistinct(col("shingle")).as("n_exact") +: mins
    shingleRows(docs, idCol, textCol, shingleN, extraCols = Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__smh",
        (0 until numHashes).map(j => col(s"__mh$j")).reduce(_ + _))
      .select(col(groupCol), col("n_exact"),
        round(lit(numHashes.toDouble) * MINHASH_P / col("__smh") - 1.0, 2)
          .as("est_kmv"))
      .withColumn("rel_err",
        round(abs(col("est_kmv") - col("n_exact")) / col("n_exact"), 4))
  }

  /** Per-shard mergeable sketches — the first half of the incremental
    * crawl workflow a 100 TB corpus actually runs: each ingest shard
    * (deterministic `id mod numShards` here; a crawl dump or date
    * partition in production) reduces to ONE row per (shard, group)
    * carrying the k-min signature, and those rows are all that needs to
    * persist — signatures re-merge by elementwise min
    * ([[mergeShardSketches]]) with no access to the original text, so
    * a new shard updates corpus-level overlap (q220) and cardinality
    * (q228) metadata by touching k longs per group, never re-scanning
    * the corpus (Broder 1997 union property; Bar-Yossef et al. 2002
    * KMV). One shingle scan, one hash aggregate; output is
    * (shard, group, mh, n_docs). */
  def shardSketches(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, numShards: Int, shingleN: Int,
      numHashes: Int): DataFrame = {
    require(numShards > 0)
    require(numHashes <= HASH_A.size, s"at most ${HASH_A.size} hash functions")
    val base =
      conv(substr(md5(col("shingle")), lit(1), lit(8)), 16, 10).cast("long")
    val mins = (0 until numHashes).map(j =>
      min((lit(HASH_A(j)) * base + lit(HASH_B(j))) % MINHASH_P)
        .as(s"__mh$j"))
    val aggs = countDistinct(col(idCol)).as("n_docs") +: mins
    shingleRows(docs, idCol, textCol, shingleN, extraCols = Seq(groupCol))
      .withColumn("shard", pmod(col(idCol), lit(numShards)).cast("int"))
      .groupBy(col("shard"), col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("mh", array((0 until numHashes).map(j => col(s"__mh$j")): _*))
      .select(col("shard"), col(groupCol), col("mh"), col("n_docs"))
  }

  /** Re-merge persisted shard sketches into per-group corpus signatures:
    * elementwise min across shards (exactly [[mergedMinhash]]'s answer,
    * because min over a partition of the rows is min over the rows),
    * plus the KMV distinct-shingle estimate read off the merged minima —
    * the second half of the [[shardSketches]] workflow. Input is the
    * sketch TABLE (read back from parquet), so the merge never sees
    * text; one bounded hash aggregate over |shards|x|groups| rows. */
  def mergeShardSketches(sketches: DataFrame, groupCol: String,
      numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(j =>
      min(col("mh")(j)).as(s"__mh$j"))
    val aggs = count(lit(1)).as("n_shards") +: mins
    sketches.groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("mh", array((0 until numHashes).map(j => col(s"__mh$j")): _*))
      .withColumn("__smh",
        (0 until numHashes).map(j => col(s"__mh$j")).reduce(_ + _))
      .withColumn("est_kmv",
        round(lit(numHashes.toDouble) * MINHASH_P / col("__smh") - 1.0, 2))
      .select(col(groupCol), col("n_shards"), col("mh"), col("est_kmv"))
  }

  /** Signature + set size in ONE aggregation pass over the shingle rows —
    * (id, mh, __set_size). Callers that need both never re-scan the rows. */
  private def signaturesFromRows(rows: DataFrame, idCol: String,
      numHashes: Int, extraKeys: Seq[String] = Nil): DataFrame = {
    require(numHashes <= HASH_A.size, s"at most ${HASH_A.size} hash functions")
    val base = conv(substr(md5(col("shingle")), lit(1), lit(8)), 16, 10).cast("long")
    val mins = (0 until numHashes).map(j =>
      min((lit(HASH_A(j)) * base + lit(HASH_B(j))) % MINHASH_P).as(s"__mh$j"))
    // extraKeys are FUNCTIONALLY DEPENDENT on the id (e.g. the tagged-
    // union side flag) — adding them to the groupBy changes no group.
    rows.groupBy((idCol +: extraKeys).map(col): _*)
      .agg(count(lit(1)).as("__set_size"), mins: _*)
      .withColumn("mh", array((0 until numHashes).map(j => col(s"__mh$j")): _*))
      .select((col(idCol) +: extraKeys.map(col)) :+
        col("mh") :+ col("__set_size"): _*)
  }

  /** Max candidate-id cardinality for a DRIVER broadcast of the semi-join
    * prune side. Restricting shingle rows to candidate documents wants a
    * broadcast-hash semi-join (no shuffle of the per-shingle big side),
    * but the candidate set's cardinality is data-dependent: LSH keeps it
    * << corpus, while a duplicate-saturated corpus approaches one id per
    * document, where a forced O(N) broadcast kills the driver (round-10
    * verdict #4). So gate it the way [[GraphLoop]] gates its driver
    * executor: count the materialized candidate table (one cheap job on
    * a checkpointed ~16-byte-per-row table) and broadcast only below the
    * bound; above it, fall back to the shuffle semi-join, whose map-side
    * cost is exactly what AQE would have paid anyway. 4M ids ≈ 32 MB
    * broadcast — comfortably under Spark's 8 GB broadcast ceiling and the
    * driver heap at 1000-executor scale. */
  val BroadcastIdsMax: Long = 4L * 1000 * 1000

  /** Shingle rows restricted to documents appearing in `cand` (either
    * side), with the prune side broadcast iff its cardinality is under
    * [[BroadcastIdsMax]]. `cand` must already be materialized
    * (localCheckpoint) — the id derivation and the caller's later reads
    * then share one evaluation. The result is checkpointed: both sides of
    * the intersection join read it. */
  private def confineToCandidates(rows: DataFrame, cand: DataFrame,
      idCol: String): DataFrame = {
    val candIds = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b").as(idCol))).distinct()
      .pin()
    val gate = rows.sparkSession.conf
      .get("graft.dedup.broadcastIdsMax", BroadcastIdsMax.toString).toLong
    val prune =
      if (candIds.count() <= gate) broadcast(candIds) else candIds
    rows.join(prune, Seq(idCol), "leftsemi").pin()
  }

  /** Exact Jaccard for given candidate pairs via shingle-equality joins:
    * |A∩B| from a co-grouped count, |A∪B| = |A|+|B|-|A∩B|. Pairs with an
    * empty intersection get jaccard 0 (they only survive if threshold<=0).
    */
  private def verifyJaccard(candRaw: DataFrame, rows: DataFrame, sizes: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    // Candidate pairs are read three times below (id derivation, the
    // intersection base, the final left join) — materialize the bounded
    // (id_a, id_b) table once instead of re-running the band self-join
    // per consumer.
    val cand = candRaw.pin()
    val candRows = confineToCandidates(rows, cand, idCol)
    val inter = cand
      .join(candRows.select(col(idCol).as("id_a"), col("shingle")), Seq("id_a"))
      .join(candRows.select(col(idCol).as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__int"))
    cand
      .join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("__int"))
      .join(sizes.select(col(idCol).as("id_a"), col("__set_size").as("__na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__set_size").as("__nb")), Seq("id_b"))
      .withColumn("jaccard", round(
        col("__int").cast("double") / (col("__na") + col("__nb") - col("__int")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** LSH candidate pairs with exact-Jaccard verification.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * Hot-band skew (`saltBands`): on a near-duplicate-saturated corpus one
    * band value can cover half the documents, and the band self-join's hot
    * key then lands |hot|² candidate work in ONE task. With saltBands = S,
    * the left side is salted by pmod(hash(id), S) and the right side
    * replicated to every salt, so the hot key splits into S sub-keys whose
    * per-task probe side is |hot|/S — the candidate SET is exactly
    * preserved (each pair meets at exactly salt(id_a)), only its task
    * layout changes. Replication multiplies the (3-column, one row per
    * doc×band) bands table by S, never the corpus. Default 1 = the
    * unsalted plan; AQE skew-join is the runtime alternative when the
    * corpus is not known to be saturated. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.0, saltBands: Int = 1): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val rows = shingleRows(docs, idCol, textCol, shingleN)
    // Signatures are ONE ROW PER DOCUMENT — localCheckpoint materializes
    // the shingle+aggregation pipeline once and the band self-join, size
    // lookups, and candidate generation all read the tiny table instead of
    // re-deriving it per consumer. (Per-doc state is the thing that is
    // always safe to pin at 100 TB; per-shingle state is not.)
    val sigs = signaturesFromRows(rows, idCol, numHashes).pin()
    val bands = sigs
      .withColumn("band_keys", TextOps.bandKeys(col("mh"), numBands, rowsPerBand))
      .select(col(idCol), col("__set_size"),
        posexplode(col("band_keys")).as(Seq("band_idx", "band_key")))
    val cand = bandSelfCandidates(bands, idCol, saltBands)
    val sizes = sigs.select(col(idCol), col("__set_size"))
    verifyJaccard(cand, rows, sizes, idCol, threshold)
  }

  /** Band self-join candidate pairs (id_a < id_b, distinct) from
    * (id, band_idx, band_key) rows, optionally salt-split for hot bands —
    * the candidate stage of [[minhashPairs]], exposed separately so specs
    * can witness the salted plan shape (verifyJaccard checkpoints the
    * candidate table, truncating its lineage from the output plan). */
  private[graft] def bandSelfCandidates(bands: DataFrame, idCol: String,
      saltBands: Int): DataFrame = {
    val a = bands.select(col(idCol).as("id_a"), col("band_idx"), col("band_key"))
    val b = bands.select(col(idCol).as("id_b"), col("band_idx"), col("band_key"))
    (if (saltBands <= 1) a.join(b, Seq("band_idx", "band_key"))
      else {
        val aS = a.withColumn("__salt", pmod(hash(col("id_a")), lit(saltBands)))
        val bS = b.withColumn("__salt",
          explode(array((0 until saltBands).map(lit): _*)))
        aS.join(bS, Seq("band_idx", "band_key", "__salt"))
      })
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Expression-only per-row MinHash signature over the shingle ARRAY —
    * no groupBy, so it is stateless and runs unchanged on a STREAM where
    * each arriving row carries its whole document. Arithmetic matches
    * [[signaturesFromRows]] exactly (same md5-prefix base hash, same
    * (a·h+b) mod p family, min per hash index) because shingles are
    * distinct in both forms and min ignores multiplicity. NULL (empty
    * array_min) when the document has no shingles — filter on
    * `size(TextOps.shingles(...)) > 0` first, as the groupBy form
    * implicitly does by having no rows. */
  def signatureExpr(textCol: Column, shingleN: Int, numHashes: Int): Column = {
    require(numHashes <= HASH_A.size, s"at most ${HASH_A.size} hash functions")
    val sh = TextOps.shingles(TextOps.words(textCol), shingleN)
    def base(s: Column) =
      conv(substr(md5(s), lit(1), lit(8)), 16, 10).cast("long")
    array((0 until numHashes).map(j =>
      array_min(transform(sh,
        s => (lit(HASH_A(j)) * base(s) + lit(HASH_B(j))) % MINHASH_P))): _*)
  }

  /** (id, band_idx, band_key) rows — the persisted form of an LSH index
    * side: compute once for the corpus, store, and equi-join each new
    * batch (or stream) against it. */
  def bandRows(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / numBands
    signaturesFromRows(shingleRows(docs, idCol, textCol, shingleN), idCol,
      numHashes)
      .withColumn("band_keys", TextOps.bandKeys(col("mh"), numBands, rowsPerBand))
      .select(col(idCol),
        posexplode(col("band_keys")).as(Seq("band_idx", "band_key")))
  }

  /** Incremental MinHash-LSH dedup: newly-arrived documents against an
    * already-indexed corpus — the nightly-crawl shape at 100 TB. Unlike
    * [[minhashPairs]]' self-join, only the NEW batch is shingled fresh
    * each run; in production the index side's signatures and band keys
    * are computed once and persisted, so each increment costs
    * O(|new| + |collisions|), never a corpus rescan. The band join is
    * new x index (no self-pairs), and exact-Jaccard verification is
    * confined to colliding candidates exactly as in the self-join form.
    *
    * Caller guarantees the two sides' ids are disjoint. Output
    * (id_a = index doc, id_b = new doc, jaccard >= threshold). */
  def minhashPairsIncremental(newDocs: DataFrame, indexDocs: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 8,
      numBands: Int = 4, threshold: Double = 0.0): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // ONE tagged union pass (r21, guide §2.4): the two sides' ids are
    // disjoint by contract, so shingling + signature aggregation over
    // the tagged union groups identically to two separate passes —
    // one repartition exchange, one aggregation pipeline and ONE
    // signature checkpoint instead of two of each (the side flag is
    // functionally dependent on the id, so adding it to the groupBy
    // changes no group and no value). The band join stays new × index
    // via the side filters over the single pinned signature table.
    val tagged = newDocs
      .select(col(idCol), col(textCol), lit(1).as("__side"))
      .unionByName(indexDocs
        .select(col(idCol), col(textCol), lit(0).as("__side")))
    val rows = shingleRows(tagged, idCol, textCol, shingleN,
      extraCols = Seq("__side"))
    val sigs = signaturesFromRows(rows, idCol, numHashes,
      extraKeys = Seq("__side")).pin()
    def bandsOf(side: Int, as: String) = sigs
      .filter(col("__side") === side)
      .withColumn("band_keys", TextOps.bandKeys(col("mh"), numBands, rowsPerBand))
      .select(col(idCol).as(as),
        posexplode(col("band_keys")).as(Seq("band_idx", "band_key")))
    val cand = bandsOf(0, "id_a")
      .join(bandsOf(1, "id_b"), Seq("band_idx", "band_key"))
      .select("id_a", "id_b").distinct()
    val sizes = sigs.select(col(idCol), col("__set_size"))
    verifyJaccard(cand, rows.select(col(idCol), col("shingle")), sizes,
      idCol, threshold)
  }

  /** Chunk-level corpus dedup — the CCNet-style removal unit adapted to
    * disjoint word blocks: each document splits into `blockWords`-word
    * blocks, and a block survives iff this (doc, offset) is the block
    * content's FIRST occurrence corpus-wide (lowest doc id, then lowest
    * offset — a total order, so exactly one copy of every distinct block
    * remains). Emits per-document block counts plus the cleaned text
    * (surviving blocks re-joined in order) — the remove-and-rewrite
    * step, not just a score.
    *
    * Scale shape: one groupBy on the block string for the global
    * first-occurrence table (min over a (doc, offset) struct —
    * map-side partial) and one equi-join back on the block key: the same
    * two-exchange budget as exact dedup, applied at sub-document
    * granularity. A block repeated across half the corpus makes its join
    * key hot (every copy must meet the one first-occurrence row); the
    * aggregate side collapses map-side, and the join side is the AQE
    * skew-join case — same mitigation note as [[minhashPairs]]. */
  def dedupBlocks(docs: DataFrame, idCol: String, textCol: String,
      blockWords: Int = 10): DataFrame = {
    val blocks = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__ws"))
      .withColumn("__n", size(col("__ws")))
      .filter(col("__n") > 0)
      .withColumn("start",
        explode(sequence(lit(0), col("__n") - 1, lit(blockWords))))
      .select(col(idCol), col("start").cast("long").as("start"),
        concat_ws(" ",
          slice(col("__ws"), col("start") + 1, lit(blockWords))).as("block"))
    val first = blocks.groupBy("block")
      .agg(min(struct(col(idCol), col("start"))).as("__first"))
    blocks.join(first, Seq("block"))
      .withColumn("__keep", col("__first")(idCol) === col(idCol) &&
        col("__first")("start") === col("start"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        coalesce(array_join(transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("start"), col("block"))))),
          s => s("block")), " "), lit("")).as("clean_text"))
  }

  /** Asymmetric containment pairs (Broder 1997's c(A,B) = |A∩B| / |A|):
    * detects a document EMBEDDED in another — the quote/boilerplate/
    * superset dup that Jaccard (and therefore MinHash-LSH) structurally
    * misses when the sizes differ (a doc 10% the size of its container
    * caps Jaccard at ~0.1 however perfect the containment).
    *
    * Candidate generation is prefix-filtered rare-shingle blocking
    * (rarest-first prefix filtering in the AllPairs/PPJoin family, Bayardo
    * 2007): only shingles with document frequency <= maxDf are blocking-
    * eligible, and each document contributes only its `prefixK` RAREST
    * eligible shingles (ordered by (df, shingle) — deterministic) as
    * blocking keys — joined against the FULL rare index of the other
    * side, the asymmetric index shape containment needs (a container's
    * own prefix is dominated by its unique df=1 shingles; the shared
    * shingles live in its full set). Hard bounds a 100 TB corpus needs:
    * per-shingle join fan-out <= maxDf² (a ubiquitous boilerplate shingle
    * can never create a quadratic hot key) and total candidates <=
    * N·prefixK·maxDf — linear in corpus size even when every rare shingle
    * saturates at maxDf docs. Recall: a contained pair is caught when
    * either side's prefixK rarest eligible shingles include one shared
    * shingle — guaranteed for genuine containment A ⊆ B (ALL of A's
    * shingles are shared, so A's whole prefix is), approximate for
    * partial overlaps and for dup-clusters wider than maxDf (MinHash-LSH
    * territory, documented). Exact containment is then computed ONLY over
    * candidate documents (the verifyJaccard confinement pattern). Output:
    * (id_a, id_b, cont_a, cont_b) with id_a < id_b, where cont_a =
    * |A∩B|/|A|, keeping pairs whose larger containment clears
    * `threshold`. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxDf: Int = 10, threshold: Double = 0.5,
      prefixK: Int = 5): DataFrame = {
    val rows = shingleRows(docs, idCol, textCol, shingleN).pin()
    val sizes = shingleSetSizes(rows, idCol)
    val dfs = rows.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val rare = rows.join(dfs.filter(col("__df") <= maxDf), Seq("shingle"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("shingle"))
    val prefix = rare.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= prefixK)
    val cand = prefix.select(col(idCol).as("__pa"), col("shingle"))
      .join(rare.select(col(idCol).as("__pb"), col("shingle")), Seq("shingle"))
      .filter(col("__pa") =!= col("__pb"))
      .select(least(col("__pa"), col("__pb")).as("id_a"),
        greatest(col("__pa"), col("__pb")).as("id_b"))
      .distinct()
      // Read twice below (id derivation + intersection base) and bounded
      // by N·prefixK·maxDf by the blocking algebra — pin it once.
      .pin()
    // Confine the exact-intersection join to candidate documents' shingles
    // (semi-join prune), mirroring verifyJaccard: size-gated broadcast of
    // the id set (see [[BroadcastIdsMax]] — on the duplication-saturated
    // corpus this operator exists for, candidates approach N documents and
    // the gate falls back to the shuffle semi-join).
    val candRows = confineToCandidates(rows, cand, idCol)
    val inter = cand
      .join(candRows.select(col(idCol).as("id_a"), col("shingle")), Seq("id_a"))
      .join(candRows.select(col(idCol).as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__int"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__set_size").as("__na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__set_size").as("__nb")), Seq("id_b"))
      .withColumn("cont_a", round(col("__int").cast("double") / col("__na"), 6))
      .withColumn("cont_b", round(col("__int").cast("double") / col("__nb"), 6))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "cont_a", "cont_b")
  }

  /** Tail-head stitch pairs: (A, B) where A's LAST `k` words equal B's
    * FIRST `k` words — the continuation-boundary duplicate class produced
    * when an upstream chunker splits one document mid-stream. No other
    * dedup operator sees it: a split pair's shingle Jaccard is ~0 (the
    * halves share only the boundary k-gram), containment is ~1/|doc|, and
    * MinHash bands never collide.
    *
    * Shape: one equi-join on the boundary gram string (exact — the join
    * key IS the verification), with a document-frequency guard on BOTH
    * sides so a ubiquitous boilerplate opening/sign-off line (df > maxDf)
    * cannot turn one key into a quadratic hot spot — the same linear bound
    * as [[containmentPairs]]. Output: (id_a, id_b, gram) meaning id_a's
    * tail stitches onto id_b's head. */
  def stitchPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, maxDf: Int = 10): DataFrame = {
    val base = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= k)
    val tails = base.select(col(idCol).as("id_a"),
      concat_ws(" ", slice(col("__w"), -k, k)).as("gram"))
    val heads = base.select(col(idCol).as("id_b"),
      concat_ws(" ", slice(col("__w"), 1, k)).as("gram"))
    val tailDf = tails.groupBy("gram").agg(count(lit(1)).as("__dft"))
    val headDf = heads.groupBy("gram").agg(count(lit(1)).as("__dfh"))
    tails.join(tailDf, Seq("gram")).filter(col("__dft") <= maxDf)
      .join(heads.join(headDf, Seq("gram")).filter(col("__dfh") <= maxDf),
        Seq("gram"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("gram"))
  }

  /** Position cap for packed winnowing fingerprints: documents up to 2^20
    * chars (1 MiB — crawl-pipeline docs are truncated far below this). */
  private val WinPosCap = 1L << 20

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): hash every char `k`-gram, then keep, for each
    * window of `w` consecutive grams, the minimal hash (ties → rightmost
    * position). Guarantees a shared substring of length ≥ k+w−1 always
    * yields a shared fingerprint, at expected density 2/(w+1) — the
    * local-fingerprint robustness the q84 whole-doc rolling hash lacks.
    *
    * Shape: gram positions posexplode to ROWS so the md5/conv hashing is
    * whole-stage codegen (array-lambda formulations evaluate interpreted
    * — the nested-HOF draft re-ran the m-element md5 transform per
    * window, O(m²) interpreted digests and 12+ min of task time at
    * sf0.1; the materialized-array draft still paid ~4 s of interpreted
    * per-element digests); the w-window minimum is then ONE sliding
    * window frame over the id-keyed gram rows — the engine's standard
    * posexplode+window composition (ARCHITECTURE "codegen-first"). The
    * (hash ≪ 20 | cap−1−pos) packing makes "min hash, rightmost pos" a
    * single integer MIN, identical in DuckDB. Cost at scale: one
    * exchange of 24-byte gram rows on the id — the same order as the
    * MinHash shingle shuffles. Output: one selected (id, hash, pos) row
    * per fingerprint. */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1)
    val txt = col(textCol)
    val grams = docs
      .filter(length(txt) >= k + w - 1) // at least one full window
      // repartition on the id BEFORE the CPU-bound hashing (the engine's
      // standard corpus-scan shape): the exchange then carries compact
      // doc rows, parallelizes the md5 work across all cores even when
      // the source is one small file, and already satisfies the window's
      // clustering — no second exchange of the fatter gram rows. The
      // partition count is pinned so AQE cannot coalesce the tiny
      // byte-size doc rows back into one task (the md5 cost is per GRAM,
      // invisible to size-based coalescing — measured 3x slower when
      // coalesced).
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol), txt.as("__t"), length(txt).as("__L"),
        explode(sequence(lit(0), length(txt) - k)).as("__i"))
      .select(col(idCol), col("__L"), col("__i"),
        (conv(substr(md5(lower(col("__t").substr(col("__i") + 1, lit(k)))),
          lit(1), lit(8)), 16, 10).cast("long") * WinPosCap
          + (lit(WinPosCap - 1) - col("__i"))).as("__p"))
    val wFrame = Window.partitionBy(idCol).orderBy(col("__i"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__fp", min(col("__p")).over(wFrame))
      // window starts only: j ≤ m − w  ⇔  i ≤ L − (k+w−1)
      .filter(col("__i") <= col("__L") - (k + w - 1))
      .select(col(idCol), col("__fp"))
      .distinct()
      .select(col(idCol),
        expr(s"__fp div $WinPosCap").as("h"),
        (lit(WinPosCap - 1) - (col("__fp") % WinPosCap)).as("pos"))
  }

  /** Document pairs sharing winnowed fingerprints: the MOSS match report.
    * Per pair, the count of shared distinct fingerprint hashes and the
    * containment-style overlap vs the smaller selected set. Blocking is
    * the fingerprint-hash equi-join with a document-frequency guard
    * (`maxDf`) — candidate volume is Σ df² over surviving hashes, never
    * all-pairs, the same bound as the LSH band join. */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDf: Int = 10): DataFrame = {
    // one (id, hash) row per selected fingerprint — materialized once
    // (localCheckpoint, the Dedup-wide multi-consumer pattern): sizes,
    // the df table, and both join sides read it, and recomputing the
    // hash+window subtree per consumer quadrupled q203's cost.
    val fps = winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol), col("h")).distinct().pin()
    val sizes = fps.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val dfTab = fps.groupBy(col("h")).agg(count(lit(1)).as("__df"))
    val rare = fps.join(dfTab, Seq("h")).filter(col("__df") <= maxDf)
    val shared = rare.select(col("h"), col(idCol).as("id_a"))
      .join(rare.select(col("h"), col(idCol).as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("__sza")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("__szb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("__sza"), col("__szb")), 6).as("overlap"))
  }

  /** Per-document 60-bit SimHash fingerprints.
    *
    * Explode-side formulation: one 60-bit hash per word row, then 60
    * codegen'd conditional sums per document (majority vote per bit) and a
    * literal-shift recombination — integer-exact, so it hash-matches any
    * value-equivalent oracle formulation. (The nested-HOF form evaluated
    * interpreted and was the sf0.1 bench bottleneck.) */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .withColumn("__words", TextOps.words(col(textCol)))
      .filter(size(col("__words")) > 0)
      .select(col(idCol), explode(col("__words")).as("__w"))
      .withColumn("__h", TextOps.wordHash60(col("__w")))
    val votes = (0 until 60).map(j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"__b$j"))
    exploded.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .withColumn("simhash",
        (0 until 60).map(j => when(col(s"__b$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _))
      .select(col(idCol), col("simhash"))
  }

  /** SimHash near-duplicate pairs: banded candidate generation (pigeonhole
    * over `numBands` bit-bands of the 60-bit fingerprint), verified by
    * Hamming distance <= maxHamming. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      numBands: Int = 4, maxHamming: Int = 10): DataFrame = {
    // One row per document: localCheckpoint the 60-sum fingerprint
    // aggregation so banding and the two verification re-joins read it
    // instead of re-running the word explosion three times.
    val fps = simhashFingerprints(docs, idCol, textCol).pin()
    fingerprintPairs(fps, idCol, "simhash", numBands, maxHamming)
  }

  /** Banded near-duplicate pairing over ANY 60-bit fingerprint column
    * (SimHash text fingerprints, dHash image fingerprints, ...): pigeonhole
    * candidate generation over `numBands` bit-bands, Hamming verification
    * confined to candidates — never an all-pairs scan. `fps` must be one
    * row per id. */
  def fingerprintPairs(fps: DataFrame, idCol: String, fpCol: String,
      numBands: Int = 4, maxHamming: Int = 10): DataFrame = {
    val bitsPerBand = 60 / numBands
    val bandExprs = (0 until numBands).map(b =>
      shiftright(col(fpCol), b * bitsPerBand).bitwiseAND((1L << bitsPerBand) - 1L))
    val bands = fps.select(col(idCol), col(fpCol),
      posexplode(array(bandExprs: _*)).as(Seq("band_idx", "band_val")))
    val a = bands.select(col(idCol).as("id_a"), col("band_idx"), col("band_val"))
    val b = bands.select(col(idCol).as("id_b"), col("band_idx"), col("band_val"))
    // Dedupe candidates on the NARROW (id_a, id_b) key before re-attaching
    // fingerprints: pairs sharing several bands would otherwise carry both
    // 60-bit fingerprints through the distinct's shuffle. The fps re-join
    // sides are the same aggregation subtree — ReuseExchange runs it once.
    val cand = a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(fps.select(col(idCol).as("id_a"), col(fpCol).as("fp_a")), Seq("id_a"))
      .join(fps.select(col(idCol).as("id_b"), col(fpCol).as("fp_b")), Seq("id_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-duplicate pair list: every document
    * gets the MINIMUM doc id of its component as `cluster_id` — the
    * canonical "which copies collapse to one training example" table.
    *
    * Scale shape: the symmetric edge list is one [[GraphLoop]] graph.
    * Under its node gate the driver solve is exact union-find in one
    * pass and zero rounds: each pinned edge partition unions its own
    * edges in one Spark job, and the driver unions the partitions'
    * (node, parent) links. Above the gate the keyed executor runs
    * min-label rounds, each followed by a pointer jump (comp :=
    * comp(comp(id))), until a round changes no label. The jump makes
    * labels race down already-discovered paths, so rounds are O(log
    * diameter) instead of O(diameter); labels only decrease and always
    * name a member of the same component, so the fixpoint is the
    * component minimum. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    componentsGated(pairs, maxIter, GraphLoop.DriverMaxNodes)

  /** [[connectedComponents]] with the node gate as a parameter, so a spec
    * can force the keyed executor on a small graph. */
  private[graft] def componentsGated(pairs: DataFrame, maxIter: Int,
      nodeGate: Long): DataFrame = {
    val g = GraphLoop.open(symmetric(pairs), nodeGate)
    g match {
      case k: GraphLoop.Keyed =>
        k.start((id, _, _, _) => (id, 0L))
        val minLabel = new GraphLoop.Round[Long](Long.MaxValue,
            math.min(_, _), scalar = true) {
          def send(s: Long, x: Long) = s
          override def tally(s: Long, x: Long, in: Long) = if (in < s) 1L else 0L
          def update(s: Long, x: Long, in: Long, c: Long) = math.min(s, in)
        }
        var it = 0
        while (it < maxIter && k.step(minLabel) > 0) { k.jump(minLabel); it += 1 }
      case d =>
        val u = new MinUnion
        d.edges.queryExecution.toRdd.mapPartitions { rows =>
          val p = new MinUnion
          rows.foreach(r => p.union(r.getLong(0), r.getLong(1)))
          p.links
        }.collect().foreach { case (a, b) => u.union(a, b) }
        d.start((id, _, _, _) => (u.find(id), 0L))
    }
    g.nodes.select(col("node").as("id"), col("s").as("comp"))
  }

  /** `pairs` (id_a, id_b) as directed (src, dst) edges both ways. */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b"), col("id_a")))

  /** Union-find over long ids. A union points the larger root at the
    * smaller, so every root is its component's minimum. */
  private final class MinUnion {
    private val parent = LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    def links: Iterator[(Long, Long)] = parent.iterator
  }

  /** Pairs → cluster table: (outId, cluster_id, cluster_size). Works for
    * ANY near-dup pair source (minhash, simhash, embedding cosine). */
  def clustersFromPairs(pairs: DataFrame, outId: String): DataFrame =
    connectedComponents(pairs.select("id_a", "id_b"))
      .select(col("id").as(outId), col("comp").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))

  /** Dedup cluster table: LSH near-dup pairs above `threshold`, closed
    * under transitivity. (doc_id, cluster_id, cluster_size). */
  /** Cost floor (round-12 profile): the chain evaluates the shingle
    * explode exactly twice — once folded into the signature aggregation,
    * once semi-join-pruned to candidate docs for exact verification.
    * Collapsing to one evaluation would require pinning corpus-wide
    * PER-SHINGLE state, which the 100 TB rule forbids (only per-doc state
    * is always safe to materialize); two streaming scans of the corpus is
    * the deliberate trade. */
  def dedupClusters(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.3): DataFrame =
    clustersFromPairs(
      minhashPairs(docs, idCol, textCol, shingleN, numHashes, numBands,
        threshold),
      "doc_id")

  /** b-bit minhash resemblance estimation (Li & König 2010, "b-Bit
    * Minwise Hashing"): storing only the low `b` bits of each signature
    * slot cuts signature memory 16× at b=4 (64→4 bits/slot) — the
    * technique that makes billion-document signature stores fit — at a
    * quantified accuracy cost. The estimator corrects for accidental
    * b-bit collisions: R̂ = (m − C)/(1 − C) with collision floor
    * C = 2^−b (the paper's D→∞ uniform-hash limit of its A-terms).
    * Output joins, per LSH candidate pair, the exact verified Jaccard
    * with the full-signature estimate and the b-bit estimate — the
    * audit that sizes `b` BEFORE committing a corpus-scale store.
    *
    * Scale shape: rides [[minhashPairs]]' bounded candidate table; the
    * two signature joins key on ids already hash-partitioned, and the
    * slot comparisons are per-pair array ops on k·b bits. */
  def bbitMinhashEstimate(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      b: Int = 4): DataFrame = {
    require(b >= 1 && b <= 16)
    val mask = (1L << b) - 1
    // one shingle+signature pass shared by candidates, verification, and
    // the slot-match joins (calling minhashPairs + minhashSignatures
    // separately would derive the pipeline twice)
    val rowsR = shingleRows(docs, idCol, textCol, shingleN)
    val sigsFull = signaturesFromRows(rowsR, idCol, numHashes).pin()
    val bandRows = sigsFull
      .withColumn("band_keys",
        TextOps.bandKeys(col("mh"), numBands, numHashes / numBands))
      .select(col(idCol), col("__set_size"),
        posexplode(col("band_keys")).as(Seq("band_idx", "band_key")))
    val pairs = verifyJaccard(
      bandSelfCandidates(bandRows, idCol, saltBands = 1), rowsR,
      sigsFull.select(col(idCol), col("__set_size")), idCol, threshold = 0.0)
    val sigs = sigsFull.select(col(idCol), col("mh"))
    val k = numHashes.toDouble
    val c = 1.0 / (1L << b)
    def matched(cond: String): Column = expr(
      s"aggregate(zip_with(mh_a, mh_b, (x, y) -> IF($cond, 1, 0)), 0, (a, e) -> a + e)")
    pairs
      .join(sigs.select(col(idCol).as("id_a"), col("mh").as("mh_a")), Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("mh").as("mh_b")), Seq("id_b"))
      .withColumn("__m", matched("x = y"))
      .withColumn("__mb", matched(s"(x % ${mask + 1}) = (y % ${mask + 1})"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        round(col("__m").cast("double") / k, 6).as("est_full"),
        round((col("__mb").cast("double") / k - lit(c)) / lit(1.0 - c), 6)
          .as("est_bbit"))
  }

  /** Staged dedup VERDICT — the end-to-end per-document decision table a
    * corpus build actually materializes (the LLM-layer analog of q134's
    * composed lifecycle): stage 1 is exact keep-first (md5, [[exactGroups]]),
    * stage 2 near-dup clustering over the SURVIVORS — the cluster
    * canonical is its lowest exact-keeper id (identical texts always land
    * in one cluster: equal signatures collide in every band and verify at
    * Jaccard 1, so the canonical is well-defined). Verdict: `exact_dup`
    * (dup_of = the exact keeper), `near_dup` (dup_of = the cluster
    * canonical), or `kept`.
    *
    * Scale shape: the exact stage is the one 16-byte-key shuffle; the
    * cluster and canonical tables are bounded by the near-dup set, so
    * both enrichment joins are AQE-broadcast-able; everything else rides
    * [[dedupClusters]]' documented cost floor. */
  def dedupVerdict(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val withEx = docs
      .select(col(idCol), md5(col(textCol).cast("binary")).as("__h"))
      .join(exactGroups(docs, idCol, textCol)
        .select(col("text_hash").as("__h"), col("keep_id")), Seq("__h"))
    val clusters = dedupClusters(docs, idCol, textCol, shingleN, numHashes,
      numBands, threshold).select(col(idCol), col("cluster_id"))
    val canon = withEx.filter(col(idCol) === col("keep_id"))
      .join(clusters, Seq(idCol))
      .groupBy("cluster_id").agg(min(col(idCol)).as("canon_id"))
    withEx
      .join(clusters, Seq(idCol), "left")
      .join(canon, Seq("cluster_id"), "left")
      .select(col(idCol),
        when(col(idCol) =!= col("keep_id"), lit("exact_dup"))
          .when(col("canon_id").isNotNull && col(idCol) =!= col("canon_id"),
            lit("near_dup"))
          .otherwise(lit("kept")).as("verdict"),
        when(col(idCol) =!= col("keep_id"), col("keep_id"))
          .when(col("canon_id").isNotNull && col(idCol) =!= col("canon_id"),
            col("canon_id")).as("dup_of"))
  }

  /** Canonical-document selection — the keep-best policy applied ON TOP of
    * near-dup clustering (the step that turns a dup-cluster table into a
    * training-set decision): within every [[dedupClusters]] cluster keep
    * the argmax-quality document ([[TextAnalysis.quality]] score, ties to
    * the lower id). Clustered docs all have >= shingleN words, so the
    * score is never null inside a cluster.
    *
    * Shape: the cluster chain's cost plus one broadcast-joined map pass
    * for the scores and one map-side-combinable max_by per cluster —
    * the same aggregate argmax shape as the r12 centroid assignment.
    * Output: (cluster_id, cluster_size, kept_doc, kept_quality). */
  def canonicalDocs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val clusters = dedupClusters(docs, idCol, textCol, shingleN, numHashes,
      numBands, threshold)
    val scores = TextAnalysis.quality(docs, idCol, textCol)
      .select(col(idCol), col("quality_score"))
    clusters.join(scores, Seq(idCol))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max_by(col(idCol), struct(col("quality_score"), -col(idCol)))
          .as("kept_doc"),
        max(col("quality_score")).as("kept_quality"))
  }

  /** LSH-layer audit: candidate-generation precision of the banded
    * MinHash layer against exact Jaccard at `threshold` — the tuning
    * table for (numHashes, numBands) on a new corpus ("how much exact
    * verification does each banding buy?"). Runs the identical candidate
    * chain as [[minhashPairs]] but keeps EVERY candidate's exact Jaccard
    * (threshold 0 in the verify stage), then collapses to one bounded
    * row: candidate count, verified count, precision. Cost ≡ one
    * minhashPairs pass; the aggregate is map-side-combinable. */
  def lshAudit(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val verified = sum(when(col("jaccard") >= threshold, 1L).otherwise(0L))
    minhashPairs(docs, idCol, textCol, shingleN, numHashes, numBands,
      threshold = 0.0)
      .agg(count(lit(1)).as("n_candidates"),
        verified.as("n_verified"),
        round(verified.cast("double") / count(lit(1)), 6).as("cand_precision"))
  }

  /** Dup-graph shape statistics: node/edge/wedge/triangle counts and the
    * global transitivity (3·triangles / wedges) of the verified near-dup
    * pair graph — the QA signal separating CLIQUE-like dup clusters
    * (true duplicate groups: transitivity → 1) from CHAIN-like ones
    * (transitive drift through borderline pairs: → 0), which decides
    * whether cluster-collapse dedup ([[dedupClusters]]) is safe at the
    * chosen threshold. Triangles enumerate once per id-ordered edge pair
    * ((a,b)⋈(b,c) closed by (a,c)) over the BOUNDED pair table — never
    * the corpus; wedges are Σ C(deg,2) in exact integers. At web scale
    * the enumeration would orient edges by (degree, id) instead of id
    * alone to bound wedge fan-out by the graph's arboricity — on a dup
    * graph the id orientation is already candidate-confined. */
  def dupGraphStats(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val e = minhashPairs(docs, idCol, textCol, shingleN, numHashes,
      numBands, threshold)
      .select(col("id_a").as("u"), col("id_b").as("v")).pin()
    val nodes = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    nodes.crossJoin(broadcast(edges)).crossJoin(broadcast(wedges))
      .crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
        col("n_triangles"),
        when(coalesce(col("n_wedges"), lit(0L)) > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("transitivity"))
  }

  /** Where the ExactSubstr span pipeline's duplicated keys come from.
    * The gram census `gk → count` merges by integer sums, so all three
    * give the SAME key set when they cover exactly the query corpus:
    *  - `Corpus`: one gram-keyed aggregate over the query corpus;
    *  - `Persist`: the corpus's census written as `numShards` (shard,
    *    gk, c) shards under `path`, then sum-merged from the reload —
    *    the incremental form (q320/q321);
    *  - `Glob`: the sum-merge of every [[writeSpanCensusShard]] output
    *    matching `glob`, written by SEPARATE runs (q323). A generation
    *    whose shard the glob misses would silently drop its unique
    *    duplicates, so the merged total must reach the corpus's own
    *    gram count or the query fails loudly. */
  sealed trait Census
  object Census {
    case object Corpus extends Census
    final case class Persist(path: String, numShards: Int = 4) extends Census
    final case class Glob(glob: String) extends Census
  }

  /** Exact duplicated-substring profile (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr view,
    * token-windowed): every `gramN`-token window whose text occurs more
    * than once in the corpus marks its positions duplicated; per doc the
    * flagged windows merge into maximal verbatim spans, and the profile
    * reports per source how many docs carry a duplicated span and what
    * fraction of the source's tokens sit inside one — the
    * memorization-risk signal DOC-level dedup (exact/MinHash) cannot
    * see, because partial verbatim overlap survives it.
    *
    * Scale shape (shared by the whole span family): one token scan
    * ([[tokenRows]]) builds positioned grams via lead() windows;
    * duplicate keys come from ONE gram-keyed aggregate (bounded by the
    * distinct-gram vocabulary) and flow back over a left-semi join;
    * span merging is a per-doc running-max window ([[spanWalk]], no
    * join); everything downstream is per-doc then per-source. Exact
    * integer arithmetic throughout; the final fraction is ONE double
    * division of exact integers, left unrounded (bit-identical
    * cross-engine — the q298 rule). */
  def exactSubstringDupProfile(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, gramN: Int = 8): DataFrame = {
    val toks = tokenRows(docs, idCol, textCol,
        Seq(col(sourceCol).as("source")))
      .pin() // token totals + the gram build share one scan
    val grams = gramKeys(toks, idCol, gramN)
      .pin() // key census + flag-back share the gram pass
    val spans = spanWalk(grams.join(dupKeys(grams, idCol, Census.Corpus),
      Seq("gk"), "left_semi"), idCol, gramN)
    sourceDupMass(toks, spans, idCol, "n_docs_dup", col("__dup") > 0)
  }

  /** Variable-length duplicated-span statistics — the TRUE ExactSubstr
    * grain q299/q301 summarize away: q299 reports covered token MASS,
    * but "one 400-token verbatim block" and "fifty scattered 8-token
    * spans" are different memorization risks at equal mass (Lee et al.
    * 2022 resolve span lengths with suffix arrays; merging overlapping
    * fixed windows per doc gives the same maximal spans at window
    * resolution — a span is exact to within gramN−1 tokens at each
    * end). Output, per (source, bucket) with bucket = ⌊log₂ len⌋ + 1
    * (lengths [2^(b−1), 2^b) — computed as length(bin(len)), exact
    * integer arithmetic on both engines):
    *  - n_spans / span_tokens / max_span_len: the span-length histogram;
    *  - n_docs_longest: docs whose LONGEST duplicated span lands in
    *    this bucket — the per-doc severity distribution a removal
    *    policy thresholds on.
    *
    * `census` picks the duplicated-key source ([[Census]]); the span
    * walk always scans `docs` (spans are positional). Everything after
    * the walk is span-grain (≪ token-grain) collapsing to ≤ 64 buckets ×
    * sources rows — mergeable sums/maxes. */
  def dupSpanHistogram(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, gramN: Int = 8,
      census: Census = Census.Corpus): DataFrame = {
    val grams = gramKeys(
      tokenRows(docs, idCol, textCol, Seq(col(sourceCol).as("source"))),
      idCol, gramN, carry = Seq("source"))
      .pin() // key census + flag-back share the gram pass
    val sl = spanWalk(grams.join(dupKeys(grams, idCol, census), Seq("gk"),
        "left_semi"), idCol, gramN, carry = Seq("source"))
      .withColumn("len", (col("__e") - col("__s")).cast("long"))
      .withColumn("bucket", length(bin(col("len"))).cast("long"))
      .pin() // span-grain rows feed BOTH rollups
    val h = sl.groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_spans"), sum(col("len")).as("span_tokens"),
        max(col("len")).as("max_span_len"))
    val dl = sl.groupBy(col("source"), col(idCol))
      .agg(max(col("len")).as("__lmax"))
      .withColumn("bucket", length(bin(col("__lmax"))).cast("long"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs_longest"))
    h.join(dl, Seq("source", "bucket"), "left")
      .na.fill(0L, Seq("n_docs_longest"))
      .select("source", "bucket", "n_spans", "span_tokens",
        "max_span_len", "n_docs_longest")
  }

  /** ONE generation's gram census (`gk → count`), written as its own
    * parquet directory — the unit a weekly crawl APPENDS: each new
    * generation writes exactly one shard under a shared census root
    * and never re-reads prior generations' text; [[Census.Glob]] over
    * the root sum-merges them. Verified by AnalyticsSpec: two
    * independently-written generation shards reproduce the
    * from-scratch histogram and deletion bit-for-bit. */
  def writeSpanCensusShard(docs: DataFrame, idCol: String,
      textCol: String, path: String, gramN: Int = 8): Unit =
    Tables.writeArtifact(
      gramKeys(tokenRows(docs, idCol, textCol), idCol, gramN)
        .groupBy("gk").agg(count(lit(1)).as("c")), path)

  /** ExactSubstr DELETION — the ACT side of the q299 audit, and the
    * step Lee et al. 2022 actually ship: every token inside a maximal
    * cross-doc duplicated span is EXCISED and the document re-emitted
    * from its surviving tokens (q313 is to q305 what this is to q299 —
    * the audits flag, these remediate). Output per document: original
    * token count, removed token count, surviving text (tokens joined by
    * single spaces — tokenization-normalized by construction), so
    * Σ n_removed / Σ n_tokens reproduces q299's corpus dup fraction and
    * re-running the audit on `text_clean` must report (almost) zero —
    * the residual being NEW windows formed where an excision stitches
    * previously-distant tokens together, exactly as in the paper.
    *
    * Scale shape: [[exactSubstringDupProfile]]'s through the merged
    * spans; coverage is then ONE equi-join on the doc id — spans are
    * DISJOINT by construction (the running-max merge), so each token
    * matches ≤ 1 span and the join output is ≤ the token count, never a
    * fan-out. The rebuild is a per-doc sort-collect (bounded by document
    * length, the same bound every per-doc window in the engine already
    * carries).
    *
    * `minSpanLen`: only merged spans of at least this many tokens are
    * excised (Lee et al. 2022 ship a 50-token minimum; excising every
    * ≥ gramN window over-deletes common idioms at corpus scale — the
    * q315 histogram is the evidence for choosing the threshold). The
    * default (= gramN, every duplicated window) preserves the q316
    * fixed-point semantics; the filter runs on the span length the
    * pipeline already computed, BEFORE the coverage join, so a tighter
    * threshold only shrinks the joined span table.
    *
    * `census` picks the duplicated-key source ([[Census]]): q321 is the
    * [[Census.Persist]] form and q323 the [[Census.Glob]] form, both
    * bit-identical to the from-scratch q316 (they share its oracle).
    * A non-corpus census pins the gram pass, which its shard write or
    * coverage guard reads besides the span walk. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 8, minSpanLen: Int = 0,
      census: Census = Census.Corpus): DataFrame = {
    val toks = tokenRows(docs, idCol, textCol)
      .pin() // token totals + gram build + rebuild share it
    val grams =
      if (census == Census.Corpus) gramKeys(toks, idCol, gramN)
      else gramKeys(toks, idCol, gramN).pin()
    val spans = spanWalk(grams.join(dupKeys(grams, idCol, census),
        Seq("gk"), "left_semi"), idCol, gramN)
      .filter(col("__e") - col("__s") >= math.max(minSpanLen, gramN))
      // rename the join key: spans shares toks' lineage, and a raw
      // self-join on the same attribute is ambiguous to the analyzer
      .select(col(idCol).as("__span_doc"), col("__s"), col("__e"))
    // disjoint spans ⇒ each token joins at most one ⇒ no fan-out
    val marked = toks.join(spans, col(idCol) === col("__span_doc") &&
        col("__pos") >= col("__s") && col("__pos") < col("__e"), "left")
      .select(col(idCol), col("__pos"), col("__w"),
        col("__s").isNotNull.as("__cov"))
    val perDoc = marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__cov"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when(!col("__cov"), struct(col("__pos"), col("__w"))))),
          x => x.getField("__w")), " ").as("text_clean"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tokens", "n_removed"))
      .withColumn("text_clean", coalesce(col("text_clean"), lit("")))
      .select(idCol, "n_tokens", "n_removed", "text_clean")
  }

  /** Fixed-point ExactSubstr deletion (Lee et al. 2022 §4.2's
    * second-order effect, closed): excision can STITCH previously
    * distant tokens into NEW duplicated windows — two docs sharing a
    * short prefix and suffix around distinct duplicated middles become
    * verbatim twins once the middles are excised — so one pass is not
    * always enough. This iterates [[removeDupSpans]] until a pass
    * removes nothing (the residual audit reads zero by construction)
    * or `maxPasses` is hit. Per doc: the ORIGINAL token count, the
    * CUMULATIVE removed count across passes, and the converged text.
    *
    * The loop is driver-bounded exactly like the PageRank family: one
    * scalar action per pass (Σ removed — the convergence test), each
    * pass's output pinned by an EAGER checkpoint so lineage stays
    * flat; pass count is data-dependent but small (the synthetic
    * corpora converge in 1 excision pass; the stitch fixture in
    * AnalyticsSpec needs 2 — the positive control that a nonzero
    * residual is actually detected and then closed).
    *
    * Scale shape per pass = [[removeDupSpans]] (one token scan, one
    * vocab-bounded census, disjoint-span coverage join); passes after
    * the first run on the ALREADY-SHRUNK corpus, so the fixed-point
    * cost is ≤ passes × the single-pass cost with a decreasing base —
    * and the convergence criterion ("a pass removed 0 tokens") needs
    * no extra census pass, it reads the pass's own output. */
  def removeDupSpansToFixedPoint(docs: DataFrame, idCol: String,
      textCol: String, gramN: Int = 8, minSpanLen: Int = 0,
      maxPasses: Int = 8): DataFrame = {
    var total = removeDupSpans(docs, idCol, textCol, gramN, minSpanLen)
      .pin()
    var removed = total.agg(coalesce(sum(col("n_removed")), lit(0L)))
      .head().getLong(0)
    var pass = 1
    while (removed > 0 && pass < maxPasses) {
      val nxt = removeDupSpans(
        total.select(col(idCol), col("text_clean").as(textCol)),
        idCol, textCol, gramN, minSpanLen).pin()
      removed = nxt.agg(coalesce(sum(col("n_removed")), lit(0L)))
        .head().getLong(0)
      pass += 1
      // A ZERO-removal pass changes nothing: every per-doc n_removed is
      // 0 (the Σ is 0 and each term is ≥ 0) and its text_clean equals
      // its input — merging it into `total` would be a row-identical
      // no-op costing a join + checkpoint (r20 session 2, guide §2.4).
      // The converging pass's cost is just its census + the Σ scalar.
      if (removed > 0)
        total = total
          .select(col(idCol), col("n_tokens"), col("n_removed").as("__r0"))
          .join(nxt.select(col(idCol), col("n_removed").as("__r1"),
            col("text_clean")), Seq(idCol))
          .select(col(idCol), col("n_tokens"),
            (col("__r0") + col("__r1")).as("n_removed"), col("text_clean"))
          .pin()
    }
    total
  }

  /** Within-document duplicated n-gram token mass (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", app. A1 — the dup-n-gram repetition filters):
    * per doc, the fraction of tokens inside maximal spans covered by
    * `gramN`-token windows occurring ≥ 2 times WITHIN THE SAME
    * document. This is the INTRA-doc complement of
    * [[exactSubstringDupProfile]] (cross-doc memorization risk): a doc
    * can be globally unique yet internally degenerate (loops, template
    * stutter), which is a quality-filter signal, not a dedup signal.
    * A doc is flagged when dup mass exceeds `flagNum/flagDen` — the
    * threshold compares as an integer cross-multiply on both engines,
    * so the flag never sits on a double-rounding boundary.
    *
    * Scale shape: one token scan; the in-doc window frequency is a
    * count window over (id, gk) — no join, no cross-doc traffic at
    * all, so the operator scales embarrassingly (each doc is
    * independent); span merging is the q299 walk; the rollup is one
    * hash aggregate on (source). */
  def intraDocDupGramProfile(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, gramN: Int = 5,
      flagNum: Int = 1, flagDen: Int = 5): DataFrame = {
    val toks = tokenRows(docs, idCol, textCol,
        Seq(col(sourceCol).as("source")))
      .pin() // token totals + the gram build share one scan
    val wk = Window.partitionBy(col(idCol), col("gk"))
    val spans = spanWalk(gramKeys(toks, idCol, gramN)
      .withColumn("__c", count(lit(1)).over(wk))
      .filter(col("__c") >= 2), idCol, gramN)
    sourceDupMass(toks, spans, idCol, "n_docs_flagged",
      col("__dup") * flagDen > col("__nt") * flagNum)
  }

  /** ExactSubstr census persist → re-merge round-trip (the q294/q295
    * treatment for [[exactSubstringDupProfile]]'s dup-key census): the
    * gram census `gk → count` is a mergeable count table, so an
    * incremental crawl persists one census per document batch and
    * re-merges by a single `sum` per key — this audit shards the corpus
    * with the [[Census.Persist]] writer, reloads, re-merges, and proves
    * key-for-key count parity against the corpus-at-once census
    * (`merge_exact`), plus the downstream signal both must agree on:
    * how many docs carry a duplicated window under the merged census.
    *
    * Scale shape: ONE gram pass (pinned) feeds the shard census, the
    * direct census, and the dup flag-back; the persisted table is
    * vocab-bounded (distinct grams × shards); the re-merge is one hash
    * aggregate on the reloaded parquet; the parity check is a full
    * outer join of two vocab-bounded count tables. Integer-exact
    * throughout — count merging has no rounding to diverge on. */
  def exactSubstringCensusRoundTrip(docs: DataFrame, idCol: String,
      textCol: String, path: String, gramN: Int = 8,
      numShards: Int = 4): DataFrame = {
    val grams = gramKeys(tokenRows(docs, idCol, textCol), idCol, gramN)
      .select(col(idCol), col("gk"))
      .pin() // shard censuses + direct census + flag-back
    writeShardedCensus(grams, idCol, path, numShards)
    val shards = Tables.readStable(docs.sparkSession, path)
    val merged = shards.groupBy("gk").agg(sum(col("c")).as("cm"))
    val direct = grams.groupBy("gk").agg(count(lit(1)).as("cd"))
    val cmp = merged.join(direct, Seq("gk"), "full")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("cm") >= 2, 1L).otherwise(0L)).as("n_dup_keys_merged"),
        sum(when(col("cd") >= 2, 1L).otherwise(0L)).as("n_dup_keys_direct"),
        sum(when(col("cm") <=> col("cd"), 0L).otherwise(1L)).as("__nmis"))
    val dupDocs = grams
      .join(merged.filter(col("cm") >= 2).select("gk"), Seq("gk"),
        "left_semi")
      .select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs_dup"))
    cmp
      .crossJoin(broadcast(dupDocs))
      .crossJoin(broadcast(
        shards.agg(countDistinct(col("shard")).as("n_shards"))))
      .select(col("n_shards"), col("n_keys"), col("n_dup_keys_merged"),
        col("n_dup_keys_direct"), (col("__nmis") === 0).as("merge_exact"),
        col("n_docs_dup"))
  }

  /** Positioned `gramN`-token window keys over a (id, __pos, __w) token
    * frame → (id, carry…, __pos, gk). gk is the FULL 128-bit md5 of the
    * space-joined window (round-15 verdict #2): the previous
    * 16-hex-char key was 64 bits, and at 100 TB (~1e12 distinct grams)
    * 64-bit birthday collisions (~50% odds at 5e9 distinct) falsely
    * mark windows duplicated in an operator documented "exact"; at
    * 128 bits the odds stay below 1e-14 at 1e12 grams. One window
    * pass, no join. */
  private def gramKeys(toks: DataFrame, idCol: String, gramN: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    toks
      .withColumn("__g", concat_ws(" ",
        col("__w") +: (1 until gramN).map(k =>
          lead(col("__w"), k).over(w)): _*))
      .withColumn("__last", lead(col("__w"), gramN - 1).over(w))
      .filter(col("__last").isNotNull)
      .select(col(idCol) +: carry.map(col) :+ col("__pos") :+
        md5(col("__g")).as("gk"): _*)
  }

  /** The duplicated keys (census count ≥ 2) of `grams`, a positioned
    * (id, …, gk) gram table, under `census` — see [[Census]]. */
  private def dupKeys(grams: DataFrame, idCol: String,
      census: Census): DataFrame = census match {
    case Census.Corpus =>
      grams.groupBy("gk").agg(count(lit(1)).as("__c"))
        .filter(col("__c") >= 2).select("gk")
    case Census.Persist(path, numShards) =>
      writeShardedCensus(grams, idCol, path, numShards)
      mergedDupKeys(Tables.readStable(grams.sparkSession, path))
    case Census.Glob(glob) =>
      val shards = Tables.readStable(grams.sparkSession, glob)
      val censusTotal = shards.agg(coalesce(sum(col("c")), lit(0L)))
        .head().getLong(0)
      val docGrams = grams.count()
      require(censusTotal >= docGrams,
        s"census glob '$glob' covers $censusTotal gram occurrences but the " +
          s"query corpus carries $docGrams — a generation's census shard " +
          "is missing (write it with writeSpanCensusShard before querying)")
      mergedDupKeys(shards)
  }

  /** Persist `grams`' census as (shard, gk, c) rows under `path` — the
    * one sharded census writer ([[Census.Persist]] and q300). Sharding
    * hashes the id (xxhash64) so string doc ids — accepted by every
    * other Dedup entry point — shard too; the merge sums over ALL
    * shards, so the shard function never affects the merged counts. */
  private def writeShardedCensus(grams: DataFrame, idCol: String,
      path: String, numShards: Int): Unit =
    Tables.writeArtifact(
      grams.withColumn("shard",
          pmod(xxhash64(col(idCol)), lit(numShards.toLong)))
        .groupBy("shard", "gk").agg(count(lit(1)).as("c")), path)

  /** Duplicated keys (count ≥ 2) from the sum-merge of a persisted
    * (…, gk, c) census table — every shard it holds. */
  private[graft] def mergedDupKeys(census: DataFrame): DataFrame =
    census.groupBy("gk").agg(sum(col("c")).as("cm"))
      .filter(col("cm") >= 2).select("gk")

  /** Maximal duplicated spans: (id, carry…, __s, __e), one row per
    * merged run [__s, __e) of overlapping `gramN`-token windows in
    * `dupGrams` — a positioned (id, carry…, __pos, …) gram table
    * ALREADY filtered to duplicated windows. One per-doc running-max
    * window: a window opens a new span iff it starts past every earlier
    * window's end, and a running sum of those openings numbers the
    * spans — no join. Carry columns must be functionally dependent on
    * the id (they ride a `max`). */
  private def spanWalk(dupGrams: DataFrame, idCol: String, gramN: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val sw = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val aggs = carry.map(c => max(col(c)).as(c)) ++ Seq(
      min(col("__pos")).as("__s"), max(col("__pos") + gramN).as("__e"))
    dupGrams
      .withColumn("__pmax", max(col("__pos") + gramN).over(
        sw.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(col("__pmax").isNull ||
        col("__pos") > col("__pmax"), 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        sw.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__sid"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("__sid")
  }

  /** Per-source duplicated token mass — the shared tail of the cross-doc
    * (q299) and in-doc (q301) profiles: per doc `__dup` = tokens inside
    * `spans` and `__nt` = its token count from `toks`; per source the
    * doc and token totals, the docs `flag` marks (as `flagName`) and the
    * covered fraction. */
  private def sourceDupMass(toks: DataFrame, spans: DataFrame,
      idCol: String, flagName: String, flag: Column): DataFrame = {
    val perDoc = spans.groupBy(col(idCol))
      .agg(sum((col("__e") - col("__s")).cast("long")).as("__dup"))
    toks.groupBy(col("source"), col(idCol))
      .agg(count(lit(1)).as("__nt"))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("__dup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(flag, 1L).otherwise(0L)).as(flagName),
        sum(col("__nt")).as("n_tokens"),
        sum(col("__dup")).as("n_dup_tokens"))
      .withColumn("dup_token_frac",
        col("n_dup_tokens").cast("double") / col("n_tokens").cast("double"))
  }

  /** Cross-source verbatim leakage matrix — the SUB-document complement
    * of doc-level source overlap (q138's near-dup pair attribution,
    * q220's merged-MinHash estimate): for every unordered source pair,
    * the count of distinct `gramN`-token windows BOTH sources contain
    * verbatim, with per-pair containment (shared / smaller side) and
    * Jaccard. This is the decontamination question at the source grain
    * — an eval split can be doc-level clean against a crawl and still
    * share verbatim spans with it.
    *
    * Scale shape: the unit is the DISTINCT (source, gram) set — bounded
    * by vocab × n_sources, a tiny fraction of the token stream — pinned
    * once; the pair table is a gk-keyed self-join whose per-gram fan-out
    * is capped at n_sources² (sources are dozens, not documents), never
    * a corpus join; totals are one hash aggregate. Count arithmetic is
    * exact; the two fractions are single double divisions of exact
    * integers, unrounded (the q298 rule). */
  def sourceGramLeakage(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, gramN: Int = 8): DataFrame = {
    val toks = tokenRows(docs, idCol, textCol,
      Seq(col(sourceCol).as("source")))
    val sg = gramKeys(toks, idCol, gramN, carry = Seq("source"))
      .select(col("source"), col("gk")).distinct()
      .pin() // totals + both sides of the pair join
    val totals = sg.groupBy("source").agg(count(lit(1)).as("n"))
    sg.as("a")
      .join(sg.as("b"),
        col("a.gk") === col("b.gk") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .join(totals.select(col("source").as("source_a"),
        col("n").as("n_grams_a")), Seq("source_a"))
      .join(totals.select(col("source").as("source_b"),
        col("n").as("n_grams_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared_grams"),
        col("n_grams_a"), col("n_grams_b"),
        (col("n_shared_grams").cast("double") /
          least(col("n_grams_a"), col("n_grams_b")).cast("double"))
          .as("containment"),
        (col("n_shared_grams").cast("double") /
          (col("n_grams_a") + col("n_grams_b") - col("n_shared_grams"))
            .cast("double")).as("jaccard"))
  }

  /** Verbatim-window doc-pair evidence — the DOC-pair grain between
    * q299's corpus-level ExactSubstr profile and q303's source-level
    * leakage matrix: which document pairs share ≥ `minShared` verbatim
    * `gramN`-token windows. Counted over RARE grams only
    * (docs-per-gram ≤ `dfMax` — the q127 containment df-guard):
    * a boilerplate gram present in thousands of docs fans doc-pairs
    * quadratically while proving nothing about any PAIR; rare shared
    * windows are the actual copying evidence.
    *
    * Scale shape: the unit is the distinct (doc, gram) set; the gram
    * df census is one hash aggregate; the pair join runs only over
    * grams with 2 ≤ df ≤ dfMax, so per-gram fan-out is ≤ dfMax² —
    * Σdf² bounded, never all-pairs (the minhashPairs discipline).
    * Counts are exact integers. */
  def substrDocPairs(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 8, dfMax: Int = 8, minShared: Int = 2): DataFrame = {
    val dg = gramKeys(tokenRows(docs, idCol, textCol), idCol, gramN)
      .select(col(idCol), col("gk")).distinct()
      .pin() // df census + both sides of the pair join
    val rare = dg.groupBy("gk").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= dfMax)
      .select("gk")
    val hits = dg.join(rare, Seq("gk"), "left_semi")
    hits.select(col("gk"), col(idCol).as("id_a"))
      .join(hits.select(col("gk"), col(idCol).as("id_b")), Seq("gk"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_grams"))
      .filter(col("n_shared_grams") >= minShared)
  }

  /** Fixed-round k-core peeling audit over the near-dup pair graph
    * (Seidman 1983, "Network structure and minimum degree"; the peeling
    * formulation of Matula & Beck 1983): each round removes every node
    * with fewer than k SURVIVING neighbors, so what remains after
    * convergence is the k-core — the dense template-family backbone
    * that single-pass pairwise dedup underestimates (a node can look
    * low-degree only because its neighbors were boilerplate). Reported
    * per round: survivors, surviving directed edges, removals — with a
    * FIXED round count so the loop is bit-reproducible cross-engine
    * (the HITS/PageRank contract); `n_removed = 0` on the last row
    * means the peel converged inside the budget.
    *
    * Scale shape: the peel is a [[GraphLoop]] round over the bounded
    * dup-edge table ([[minhashPairs]]' candidate set, never all-pairs).
    * A node's state is the round that peeled it (0 while it survives);
    * round r counts each survivor's surviving neighbors, and its scalar,
    * their sum, is the surviving directed edges after round r − 1, so
    * `rounds + 1` rounds give every tally. */
  def kCorePeel(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 2, rounds: Int = 3, shingleN: Int = 3, numHashes: Int = 8,
      numBands: Int = 4, threshold: Double = 0.3): DataFrame =
    kCoreGated(minhashPairs(docs, idCol, textCol, shingleN, numHashes,
      numBands, threshold), k, rounds, GraphLoop.DriverMaxNodes)

  private[graft] def kCoreGated(pairs: DataFrame, k: Int, rounds: Int,
      nodeGate: Long): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 20,
      "fixed small peel-round budget")
    val g = GraphLoop.open(symmetric(pairs), nodeGate)
    g.start((_, _, _, _) => (0L, 0L))
    def peel(r: Long) = new GraphLoop.Round[Long](0L, _ + _, scalar = true) {
      def send(s: Long, x: Long) = if (s == 0) 1L else 0L
      override def tally(s: Long, x: Long, in: Long) = if (s == 0) in else 0L
      def update(s: Long, x: Long, in: Long, e: Long) =
        if (s == 0 && in < k) r else s
    }
    val edges = (1 to rounds + 1).map(r => g.step(peel(r)))
    val peeledAt = g.nodes.groupBy("s").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val alive = (0 to rounds).map(r =>
      peeledAt.collect { case (s, c) if s == 0 || s > r => c }.sum)
    val spark = pairs.sparkSession
    import spark.implicits._
    (0 to rounds).map(r => (r.toLong, alive(r), edges(r),
      if (r == 0) 0L else alive(r - 1) - alive(r)))
      .toDF("round", "n_alive", "n_dir_edges", "n_removed")
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998,
    * "Collective dynamics of 'small-world' networks"): cc(u) =
    * 2·T(u)/(deg(u)·(deg(u)−1)), T(u) = closed neighbor pairs — the
    * node-level refinement of [[dupGraphStats]]' global transitivity,
    * flagging WHICH documents sit in clique-like dup cores (safe to
    * collapse) vs chain joints (collapse merges distinct content).
    *
    * Scale shape: per-node triangle counts ride the same id-oriented
    * edge-pair join as the census, crediting each closed triangle to
    * its three corners via one explode over a 3-literal array — all
    * joins confined to the BOUNDED pair table. Nodes with deg < 2 emit
    * null cc. */
  def clusteringCoefficient(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, numHashes: Int = 8,
      numBands: Int = 4, threshold: Double = 0.3): DataFrame = {
    val e = minhashPairs(docs, idCol, textCol, shingleN, numHashes,
      numBands, threshold)
      .select(col("id_a").as("u"), col("id_b").as("v")).pin()
    val deg = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val triCorners = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"),
        "left_semi")
      .select(explode(array(col("e1.u"), col("e1.v"), col("e2.v")))
        .as("id"))
      .groupBy("id").agg(count(lit(1)).as("__t"))
    deg.join(triCorners, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("__t"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2, round(
          lit(2.0) * coalesce(col("__t"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6)).as("local_cc"))
  }

  /** Degree assortativity (Newman 2002, "Assortative mixing in
    * networks"): the Pearson correlation of endpoint degrees over the
    * directed edge list — positive means hubs attach to hubs (one giant
    * template family), negative means hubs attach to leaves (star-shaped
    * boilerplate radiating into unique docs); the two need different
    * dedup policies. All sums are exact integers over the bounded edge
    * table; the three final divisions run in one pinned order. */
  def degreeAssortativity(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val e = minhashPairs(docs, idCol, textCol, shingleN, numHashes,
      numBands, threshold)
      .select(col("id_a").as("u"), col("id_b").as("v"))
    val dir = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .pin()
    val deg = dir.groupBy("u").agg(count(lit(1)).as("d"))
    val xy = dir
      .join(deg.select(col("u"), col("d").as("__dx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("__dy")), Seq("v"))
    // The moment sums and their cross-products run in DECIMAL(38,0) (the
    // spearmanScores discipline): at 100 TB edge counts the long products
    // n·Σxy and Σx·Σy silently wrap in 64-bit while the DuckDB oracle
    // computes them in HUGEINT — a latent cross-engine divergence. The
    // exact decimals convert to double through a STRING round-trip
    // (decimal-string parse is correctly rounded by spec on both engines;
    // a direct decimal→double cast can differ by 1 ulp above 2^53).
    def dsum(c: Column): Column =
      sum(c.cast("decimal(38,0)")).cast("decimal(38,0)")
    def d2d(c: Column): Column = c.cast("string").cast("double")
    // Per-row products ALSO run in decimal (not just the sums): a long
    // degree product wraps silently above ~3e9·3e9 in Spark while the
    // DuckDB oracle's HUGEINT product raises — the operands must be
    // widened BEFORE the multiply on both engines.
    def dec(name: String): Column = col(name).cast("decimal(38,0)")
    xy.agg(count(lit(1)).as("n_dir_edges"),
        dsum(col("__dx")).as("__sx"), dsum(col("__dy")).as("__sy"),
        dsum(dec("__dx") * dec("__dx")).as("__sxx"),
        dsum(dec("__dy") * dec("__dy")).as("__syy"),
        dsum(dec("__dx") * dec("__dy")).as("__sxy"))
      .withColumn("__vx",
        col("n_dir_edges") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__vy",
        col("n_dir_edges") * col("__syy") - col("__sy") * col("__sy"))
      // each variance factor stays an exact decimal; convert BEFORE the
      // product (the decimal product would exceed precision 38 first)
      .select(col("n_dir_edges"),
        round(when(col("__vx") > 0 && col("__vy") > 0,
          d2d(col("n_dir_edges") * col("__sxy") - col("__sx") * col("__sy")) /
            sqrt(d2d(col("__vx")) * d2d(col("__vy")))),
          6).as("assortativity"))
  }

  /** Soft deduplication — the D4/SemDeDup-style DOWN-WEIGHTING policy
    * applied on top of near-dup clustering: instead of dropping
    * near-duplicates, every document gets sampling weight
    * 1/cluster_size (singletons keep weight 1.0), so a later
    * weighted-sampling stage sees each near-dup cluster as one effective
    * document. Cost: the [[dedupClusters]] chain plus one LEFT join of
    * the (bounded) cluster table back onto the corpus id projection —
    * the corpus scans once. Output: (id, cluster_id — own id for
    * singletons, cluster_size, weight). */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val clusters = dedupClusters(docs, idCol, textCol, shingleN, numHashes,
      numBands, threshold)
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("cluster_size"), lit(1L)), 6)
          .as("weight"))
  }

  /** Weighted-sampling REALIZATION of [[softDedupWeights]]: each document
    * keeps with probability = its 1/cluster_size weight, decided by a
    * salt-keyed md5 uniform (u = first-8-hex/2³² ∈ [0,1), exact in
    * double) — deterministic, content-independent, and re-runnable:
    * regenerating the corpus keeps exactly the same documents. Singleton
    * weight 1.0 always keeps; an n-dup cluster keeps ~1 expected copy.
    * Map-only on top of the weight table. Output: (id, cluster_size,
    * weight, u, kept). */
  def weightedSample(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, numBands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val u = conv(substr(md5(concat(lit("ws:"), col(idCol).cast("string"))),
      lit(1), lit(8)), 16, 10).cast("double") / 4294967296.0
    softDedupWeights(docs, idCol, textCol, shingleN, numHashes, numBands,
      threshold)
      // `kept` compares the RAW u (the rounded form is only the reported
      // column): rounding first would drop a singleton whose u rounds up
      // to exactly 1.0 (u >= 0.9999995), violating the "weight 1.0 always
      // keeps" contract, and would skew keeps at every weight boundary.
      .withColumn("u", round(u, 6))
      .withColumn("kept", u < col("weight"))
  }

  /** Cross-source duplication report — the provenance question behind
    * every crawl-overlap decision ("is source A substantially a mirror of
    * source B?"): verified near-dup pairs ([[minhashPairs]]) attributed to
    * their unordered source pair, with pair counts. Two broadcast-able
    * dimension joins on the (tiny) pair table plus one aggregation on the
    * source-pair key — the pair table is the bounded near-dup set, never
    * the corpus. Output: (source_lo, source_hi, n_pairs). */
  def crossSourceDups(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, shingleN: Int = 3, numHashes: Int = 8,
      numBands: Int = 4, threshold: Double = 0.3): DataFrame = {
    val pairs = minhashPairs(docs, idCol, textCol, shingleN, numHashes,
      numBands, threshold)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("id_a"), col(sourceCol).as("__sa")), Seq("id_a"))
      .join(src.select(col(idCol).as("id_b"), col(sourceCol).as("__sb")), Seq("id_b"))
      .groupBy(least(col("__sa"), col("__sb")).as("source_lo"),
        greatest(col("__sa"), col("__sb")).as("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Exact n-gram Jaccard pairs within a blocking key (threshold > 0).
    *
    * Instead of enumerating all O(block²) pairs and intersecting arrays,
    * co-group on (block, shingle): only pairs that actually share a shingle
    * ever materialize, intersection counts fall out of the join, and
    * |A∪B| = |A|+|B|-|A∩B|. Zero-overlap pairs have jaccard 0 and are
    * below any positive threshold by construction. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 2, threshold: Double = 0.05): DataFrame = {
    require(threshold > 0, "join-form jaccard only emits overlapping pairs")
    // Materialized once: the co-group's two sides and the size aggregation
    // would each re-derive the shingle pipeline. Blocked exact Jaccard is
    // the BOUNDED fallback (explicit blocking key, quadratic per block),
    // so pinning its per-shingle rows is per-block-bounded by contract —
    // unlike the unbounded corpus-wide paths, which only pin per-doc state.
    val rows = shingleRows(docs, idCol, textCol, n, extraCols = Seq(blockCol))
      .pin()
    // Identical a/b subtrees share their shuffle stage under AQE; the size
    // lookups stay separate small aggregations joined post-aggregation (a
    // window-carried count was measured slower — it forces a full sort of
    // the shingle rows).
    val sizes = shingleSetSizes(rows, idCol)
    val inter = rows.select(col(blockCol), col(idCol).as("id_a"), col("shingle"))
      .join(rows.select(col(blockCol), col(idCol).as("id_b"), col("shingle")),
        Seq(blockCol, "shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col(blockCol), col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("__int"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__set_size").as("__na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__set_size").as("__nb")), Seq("id_b"))
      .withColumn("jaccard", round(
        col("__int").cast("double") / (col("__na") + col("__nb") - col("__int")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col(blockCol), col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Blocked edit-distance pairs — the record-linkage primitive (classic
    * blocking + Levenshtein verification, Fellegi–Sunter style): documents
    * sharing a block key (a coarse attribute × the text's first
    * `blockPrefix` chars — the standard blocking-key construction) pair
    * a<b and verify by edit distance over the first `cmpPrefix` chars.
    * Catches the near-identical-prefix duplicates (boilerplate headers,
    * re-crawled pages with edited tails, versioned titles) that
    * shingle-set methods under-score because a one-char edit shifts every
    * overlapping shingle.
    *
    * Scale shape: one equi-join on the block key — quadratic ONLY within
    * a block, like [[ngramJaccardPairs]], with the hot-block guard
    * `maxBlock` dropping degenerate keys (mass-duplicated boilerplate)
    * the same way the minhash path drops hot bands; `levenshtein` is a
    * codegen'd built-in on BOTH engines, and its O(cmpPrefix²) cost per
    * candidate is capped by the prefix bound. Output: (block, id_a,
    * id_b, dist, sim = 1 - dist/max prefix length). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, blockPrefix: Int = 10, cmpPrefix: Int = 40,
      maxDist: Int = 15, maxBlock: Int = 1000): DataFrame = {
    // one projection pinned for its three consumers (two join sides + the
    // block-size guard), the ngramJaccardPairs materialization argument
    val keyed = docs.select(
      concat_ws("\u0001", col(blockCol),
        substring(col(textCol), 1, blockPrefix)).as("block"),
      col(idCol).as("id"), substring(col(textCol), 1, cmpPrefix).as("t"))
      .pin()
    val okBlocks = keyed.groupBy("block").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1 && col("__n") <= maxBlock)
      .select("block")
    val in = keyed.join(okBlocks, Seq("block"))
    in.select(col("block"), col("id").as("id_a"), col("t").as("t_a"))
      .join(in.select(col("block"), col("id").as("id_b"), col("t").as("t_b")),
        Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
      .filter(col("dist") <= maxDist)
      .select(col("block"), col("id_a"), col("id_b"), col("dist"),
        round(lit(1.0) - col("dist").cast("double") /
          greatest(length(col("t_a")), length(col("t_b"))), 6).as("sim"))
  }

  /** Repeated-span detection — the bounded-window approximation of exact
    * substring deduplication (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): every k-token rolling window is
    * a span; a span is DUPLICATED when the same token window occurs in
    * more than one document. Per document: total spans, duplicated spans,
    * and the duplicated fraction (null when the doc has fewer than k
    * tokens).
    *
    * Same scale shape as the minhash shingle path — spans ≈ corpus tokens,
    * one groupBy on the 60-bit span hash (map-side partial), one join
    * back on the already-hash-partitioned key, one groupBy on the doc id.
    * Positions are NOT deduplicated: a span repeated inside one document
    * still counts every occurrence toward that doc's span total, but only
    * cross-document repetition marks it duplicated. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = col("__w") +: (1 until k).map(j => lead(col("__w"), j).over(w))
    // Hash and boundary guard MUST share one projection over the unfiltered
    // rows: a lead evaluated after the tail rows are filtered away would
    // silently shorten the final k-1 spans of every document (concat_ws
    // skips nulls) and make them collide across documents.
    val spans = tokenRows(docs, idCol, textCol)
      .select(col(idCol),
        TextOps.wordHash60(concat_ws(" ", parts: _*)).as("__h"),
        lead(col("__w"), k - 1).over(w).as("__last"))
      .filter(col("__last").isNotNull)
      .select(col(idCol), col("__h"))
    val docsPerSpan = spans.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__nd"))
    val perDoc = spans.join(docsPerSpan, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans").isNotNull,
          round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
          .as("dup_frac"))
  }

  /** Cross-document exact line deduplication with document rewrite — the
    * boilerplate-removal pass of web-corpus curation (CCNet / RefinedWeb
    * class: navigation bars, cookie banners, and footer lines repeat
    * verbatim across millions of pages). Every line of at least
    * `minChars` characters keeps only its FIRST occurrence corpus-wide
    * (first = lexicographic minimum of (doc id, line index)); shorter
    * lines are exempt (deduping "" or "-" would splice unrelated
    * documents together). Output per document: original line count,
    * removed count, and the rewritten text.
    *
    * Scale shape: the keeper table is a hash AGGREGATE on the line (one
    * row per distinct line, map-side partial min — a 50%-hot boilerplate
    * line collapses map-side, the dup-n-gram skew-immunity argument),
    * joined back on the line key where the build side is one row per key
    * so a hot key fans out without row explosion; the rebuild is one
    * groupBy on the doc id with an in-group sort by line index. Three
    * shuffles total, all on keys with bounded group payloads. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minChars: Int = 5): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
    val keepers = lines
      .filter(length(col("line")) >= minChars)
      .groupBy("line")
      .agg(min(struct(col(idCol).as("kd"), col("line_idx").as("ki"))).as("k"))
    lines
      .join(keepers, Seq("line"), "left")
      .withColumn("__keep", length(col("line")) < minChars ||
        (col("k.kd") === col(idCol) && col("k.ki") === col("line_idx")))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("line_idx"), col("line"))))),
            s => s.getField("line")),
          "\n").as("cleaned_text"))
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * "Near linear time algorithm to detect community structures in
    * large-scale networks") over a near-dup pair graph: every node
    * starts as its own label; each round it adopts the PLURALITY label
    * among its neighbors, ties to the lowest label. Unlike connected
    * components (which merge everything reachable), LPA splits dense
    * components along weak cuts — the finer-grained "which docs form a
    * template family" view. `iters` fixed synchronous rounds keep the
    * result deterministic and oracle-mirrorable (classic LPA's random
    * update order is neither).
    *
    * Scale shape: each round is one [[GraphLoop]] round over the
    * distinct symmetric edges, whose message is the neighbor's label
    * counted per label. Output: (id, community, community_size). */
  def labelPropagation(pairs: DataFrame, iters: Int = 4): DataFrame =
    labelPropagationGated(pairs, iters, GraphLoop.DriverMaxNodes)

  private[graft] def labelPropagationGated(pairs: DataFrame, iters: Int,
      nodeGate: Long): DataFrame = {
    require(iters >= 1 && iters <= 20, "fixed small iteration count")
    val g = GraphLoop.open(symmetric(pairs).distinct(), nodeGate)
    g.start((id, _, _, _) => (id, 0L))
    val plurality = new GraphLoop.Round[Map[Long, Long]](Map.empty,
        (a, b) => b.foldLeft(a) { case (m, (l, c)) =>
          m.updated(l, m.getOrElse(l, 0L) + c) }) {
      def send(s: Long, x: Long) = Map(s -> 1L)
      def update(s: Long, x: Long, in: Map[Long, Long], n: Long) =
        if (in.isEmpty) s else in.minBy { case (l, c) => (-c, l) }._1
    }
    for (_ <- 1 to iters) g.step(plurality)
    g.nodes.select(col("node").as("id"), col("s").as("community"))
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy("community")))
  }

  /** LSH parameter S-curve audit (Leskovec/Rajaraman/Ullman, "Mining of
    * Massive Datasets" §3.4.2): for candidate (bands b, rowsPerBand r)
    * layouts of a 16-hash signature, the probability a pair with
    * Jaccard s becomes an LSH candidate is P(s) = 1 − (1 − s^r)^b.
    * Evaluated against the OBSERVED exact-Jaccard distribution of this
    * corpus's verified candidate pairs: expected recall over true pairs
    * (j ≥ `threshold`) and expected false-candidate rate over
    * sub-threshold pairs — the audit that picks (b, r) BEFORE committing
    * a corpus-scale signature store.
    *
    * Scale shape: rides [[minhashPairs]]' bounded candidate table (one
    * corpus pass), fans each pair out ×|grid|, then one grid-bounded
    * aggregate. Exactness: s^r and (1−x)^b use explicit squaring chains
    * (exact IEEE multiplies — `pow` differs across libms), and the means
    * quantize each P onto the 2^30 grid so sums are integers. */
  def lshParamCurve(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.3): DataFrame = {
    val grid = 1073741824L // 2^30
    // squaring chains: x^e for e a power of two
    def pw(x: Column, e: Int): Column =
      if (e == 1) x else { val h = pw(x, e / 2); h * h }
    val configs = Seq((2, 8), (4, 4), (8, 2), (16, 1))
    val pairs = minhashPairs(docs, idCol, textCol, shingleN,
      numHashes = 8, numBands = 4, threshold = 0.1)
    val fanned = pairs.select(col("jaccard"),
      explode(array(configs.map { case (b, r) =>
        struct(lit(b).as("bands"), lit(r).as("rows_per_band"))
      }: _*)).as("cfg"))
      .select(col("jaccard"), col("cfg.bands"), col("cfg.rows_per_band"))
    val sR = configs.tail.foldLeft(
      when(col("rows_per_band") === configs.head._2,
        pw(col("jaccard"), configs.head._2))) { case (acc, (_, r)) =>
      acc.when(col("rows_per_band") === r, pw(col("jaccard"), r))
    }
    val p = configs.tail.foldLeft(
      when(col("bands") === configs.head._1,
        lit(1.0) - pw(lit(1.0) - col("__sr"), configs.head._1))) {
      case (acc, (b, _)) =>
        acc.when(col("bands") === b,
          lit(1.0) - pw(lit(1.0) - col("__sr"), b))
    }
    def qMean(flag: Column): (Column, Column) = {
      val n = sum(flag.cast("long"))
      (n, when(n > 0, round(
        sum(when(flag, col("__qp")).otherwise(0L)).cast("double") /
          grid / n, 6)))
    }
    val (nTrue, recall) = qMean(col("jaccard") >= threshold)
    val (nFp, fpRate) = qMean(col("jaccard") < threshold)
    fanned
      .withColumn("__sr", sR)
      .withColumn("__qp", floor(p * grid + 0.5).cast("long"))
      .groupBy("bands", "rows_per_band")
      .agg(nTrue.as("n_true_pairs"), recall.as("exp_recall"),
        nFp.as("n_fp_cand"), fpRate.as("exp_fp_rate"))
  }
}
