package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Pipeline, Similarity, TextAnalysis}

/** Round-5 corpus-QA operators: repeated-span detection, bigram-LM
  * scoring, semantic dedup, per-source token drift. */
class CorpusQaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def docs(rows: (Long, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, t, src) => (id, t, src) }.toDF("doc_id", "text", "source")
  }

  test("repeatedSpans flags only cross-document k-windows, not within-doc repeats") {
    def run(n: Int, pre: String = "") =
      (pre + (1 to n).map(i => s"w$i").mkString(" ")).trim
    val d = docs(
      (1L, run(12), "a"),             // w1..w12: 3 spans of k=10
      (2L, "x0 " + run(10), "a"),     // contains w1..w10 -> shares doc1's first span
      (3L, run(9), "a"),              // too short: 0 spans
      (4L, "z1 z2 z1 z2 z1 z2 z1 z2 z1 z2 z1 z2 z1 z2", "a")) // self-repeats only
    val out = Dedup.repeatedSpans(d, "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(out(1L)._1 == 3 && out(1L)._2 == 1)      // only w1..w10 is shared
    assert(out(2L) == ((2L, 1L, Some(0.5))))
    assert(out(3L) == ((0L, 0L, None)))
    assert(out(4L)._2 == 0L)                        // within-doc repeats don't count
  }

  test("repeatedSpans does not truncate the trailing spans of a document") {
    // Doc 5 ends with the single word 'tail'; doc 6 contains 'tail' too.
    // A lead evaluated after the boundary filter would shorten doc 5's
    // final spans to fragments like 'tail' and falsely match doc 6.
    val d = docs(
      (5L, (1 to 11).map(i => s"a$i").mkString(" ") + " tail", "a"),
      (6L, (1 to 11).map(i => s"b$i").mkString(" ") + " tail", "a"))
    val out = Dedup.repeatedSpans(d, "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(5L -> 0L, 6L -> 0L))
  }

  test("bigramLmScore: add-one smoothed NLL on a hand-checked corpus") {
    // Corpus: 'a b a b' + 'a b' + 'solo'. Vocab V=3 (solo counts even
    // though it forms no bigram). c(a,b)=3, c(b,a)=1; c(a.)=3, c(b.)=1.
    // P(b|a)=(3+1)/(3+3)=2/3, P(a|b)=(1+1)/(1+3)=1/2.
    val d = docs((1L, "a b a b", "s"), (2L, "a b", "s"), (3L, "solo", "s"))
    val out = Pipeline.bigramLmScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    val nllAB = BigDecimal(-math.log(2.0 / 3)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nllBA = BigDecimal(-math.log(1.0 / 2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out(1L)._1 == 3)
    assert(math.abs(out(1L)._2.get - r6((2 * nllAB + nllBA) / 3)) < 1e-9)
    assert(out(2L) == ((1L, Some(nllAB))))
    assert(out(3L) == ((0L, None)))   // no bigrams in a 1-word doc
  }

  test("semDedup keeps the lowest-id representative of a near-duplicate cell") {
    val s = spark
    import s.implicits._
    // The 2 lowest ids seed the centroids, so they must span the two
    // directions; the near-duplicates carry higher ids and fall into the
    // seed's cell, where the lower-id representative wins.
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),    // centroid of cell A -> kept
      (2L, Seq(0.0f, 1.0f, 0.0f)),    // centroid of cell B -> kept
      (3L, Seq(0.99f, 0.01f, 0.0f)),  // near-dup of 1 -> dropped
      (4L, Seq(0.0f, 0.98f, 0.02f))   // near-dup of 2 -> dropped
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, "vec_id", "embedding",
      threshold = 0.9, nList = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
  }

  test("vector-index nList auto-sizes to ceil(sqrt(N)) across scales") {
    // the FAISS sizing rule, asserted at two scales plus edge cases
    assert(Similarity.autoNList(100) == 10)
    assert(Similarity.autoNList(101) == 11)
    assert(Similarity.autoNList(1000000) == 1000)
    assert(Similarity.autoNList(1) == 1)
    assert(Similarity.autoNList(0) == 1)
    // semDedup with the default (auto) nList on N=36 vectors must seed
    // exactly the 6 lowest ids: every assigned cell is one of them.
    val s = spark
    import s.implicits._
    val emb = (0 until 36).map { i =>
      (i.toLong, Seq.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat))
    }.toDF("vec_id", "embedding")
    val cellIds = Similarity.semDedup(emb, "vec_id", "embedding", threshold = 0.99)
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    assert(cellIds.subsetOf((0L until 6L).toSet), s"cells $cellIds")
  }

  test("sourceDrift: uniform source entropy is ln(V); in-distribution KL ~ 0") {
    // Source u: 4 tokens, all distinct -> H = ln 4. Source v is a copy of
    // u, so both match the corpus unigram distribution exactly -> KL = 0.
    val d = docs((1L, "p q r s", "u"), (2L, "p q r s", "v"))
    val out = TextAnalysis.sourceDrift(d, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out("u")._1 == 4 && out("u")._2 == 4)
    assert(math.abs(out("u")._3 - math.log(4)) < 1e-5)
    assert(math.abs(out("u")._4) < 1e-9)
    assert(out("u") == out("v"))
  }

  test("sourceDrift: a skewed source has positive KL against the corpus") {
    val d = docs(
      (1L, "a b c d e f g h", "clean"),
      (2L, "spam spam spam spam spam spam spam spam", "flood"))
    val out = TextAnalysis.sourceDrift(d, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(out("flood") > 0.5)   // concentrated mass far from corpus mix
    assert(out("clean") > 0.0)   // corpus includes the flood, so clean drifts too
  }

  test("containmentPairs catches a doc embedded in a much larger one") {
    // doc 1 (12 words) verbatim inside doc 2 (62 words): containment of 1
    // in 2 is 1.0 while Jaccard is ~0.17 — below any useful LSH threshold.
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = small + " " + (1 to 50).map(i => s"z$i").mkString(" ")
    val far = (1 to 30).map(i => s"q$i").mkString(" ")
    val out = Dedup.containmentPairs(docs(
      (1L, small, "a"), (2L, big, "a"), (3L, far, "a")),
      "doc_id", "text", shingleN = 3, maxDf = 10, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet == Set((1L, 2L)))
    val (contA, contB) = out((1L, 2L))
    assert(contA == 1.0)            // every shingle of 1 is in 2
    assert(contB < 0.2)             // 2 is mostly NOT doc 1
    // sanity: symmetric Jaccard on the same pair stays below 0.2, i.e.
    // this pair is invisible to a Jaccard-thresholded dedup
    assert(10.0 / 60.0 < 0.2)
  }

  test("containmentPairs: ubiquitous shingles never generate candidates") {
    // the same 3-shingle in every doc, but df > maxDf -> no candidates at
    // all, so no quadratic blow-up on boilerplate
    val d = docs((1 to 8).map(i =>
      (i.toLong, s"common header line unique$i tail$i", "a")): _*)
    val out = Dedup.containmentPairs(d, "doc_id", "text",
      shingleN = 3, maxDf = 4, threshold = 0.1)
    assert(out.count() == 0)
  }

  test("perplexityFilter: repetitive text scores low NLL, rare text high") {
    val rep = Array.fill(20)("the cat sat").mkString(" ")
    val d = docs(
      (1L, rep, "a"), (2L, rep, "a"), (3L, rep, "a"),
      (4L, "zephyr quixotic vorpal brillig slithy toves", "a"),
      (5L, "", "a"))
    val out = Pipeline.perplexityFilter(d, "doc_id", "text", cutoff = 1.0)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toMap
    val rep1 = out(1L)._1.get
    val rare = out(4L)._1.get
    assert(rep1 < rare)                       // the LM prefers corpus-typical text
    assert(out(1L)._3 && !out(4L)._3)         // cutoff separates them
    assert(out(5L)._1.isEmpty && !out(5L)._3) // unscoreable -> dropped
    assert(out(1L)._2.get == math.floor(rep1).toLong)
  }

  test("containmentPairs: prefix cap bounds per-doc blocking keys") {
    // Docs 1/2 genuinely contain each other's text start (true containment
    // -> always caught: the contained doc's rarest shingles are in the
    // container by definition). Docs 3/4 share ONE rare shingle but each
    // has >prefixK rarer (df=1) unique shingles, so with prefixK=2 the
    // shared shingle is outside both prefixes -> documented candidate miss.
    val small = (1 to 10).map(i => s"w$i").mkString(" ")
    val big = small + " " + (1 to 30).map(i => s"z$i").mkString(" ")
    val shared = (1 to 6).map(i => s"s$i").mkString(" ")
    val d3 = (1 to 9).map(i => s"a$i").mkString(" ") + " " + shared
    val d4 = (1 to 9).map(i => s"b$i").mkString(" ") + " " + shared
    val out = Dedup.containmentPairs(docs(
      (1L, small, "a"), (2L, big, "a"), (3L, d3, "a"), (4L, d4, "a")),
      "doc_id", "text", shingleN = 3, maxDf = 10, threshold = 0.3,
      prefixK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
    assert(!out.contains((3L, 4L)))
    // raising prefixK past the unique-shingle count restores the pair
    val full = Dedup.containmentPairs(docs(
      (3L, d3, "a"), (4L, d4, "a")),
      "doc_id", "text", shingleN = 3, maxDf = 10, threshold = 0.3,
      prefixK = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((3L, 4L)))
  }

  test("dsirWeights: docs matching the target distribution score higher") {
    // target = source 't' docs, which repeat a distinctive bigram pattern;
    // doc 10 (target-like) must outscore doc 11 (raw-typical filler).
    val tgtText = Array.fill(8)("alpha beta gamma").mkString(" ")
    val rawText = Array.fill(8)("noise junk filler").mkString(" ")
    val rows = (1L to 4L).map(i => (i, tgtText, "t")) ++
      (5L to 9L).map(i => (i, rawText, "r")) :+
      (10L, "alpha beta gamma alpha beta", "r") :+
      (11L, "noise junk filler noise junk", "r") :+
      (12L, "", "r")
    val d = docs(rows: _*)
    val out = Pipeline.dsirWeights(d, "doc_id", "text",
      org.apache.spark.sql.functions.col("source") === "t",
      numBuckets = 256, cutoff = 0.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getBoolean(3))).toMap
    assert(out(10L)._2.get > out(11L)._2.get)
    assert(out(10L)._3 && !out(11L)._3)         // cutoff separates them
    assert(out(12L)._1 == 0L && out(12L)._2.isEmpty && !out(12L)._3)
  }

  test("hashClassifier: deterministic margins, logistic link, empty docs") {
    val d = docs((1L, "alpha beta", "a"), (2L, "beta alpha", "a"),
      (3L, "alpha beta alpha beta", "a"), (4L, "", "a"))
    val out = TextAnalysis.hashClassifier(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))).toMap
    // bag-of-words: order-invariant, and duplication preserves the mean
    assert(out(1L)._2 == out(2L)._2)
    assert(out(1L)._2 == out(3L)._2)
    val (m, p) = (out(1L)._2.get, out(1L)._3.get)
    assert(math.abs(p - 1.0 / (1.0 + math.exp(-m))) < 2e-6)
    assert(out(1L)._4 == (p >= 0.5))
    assert(out(4L)._2.isEmpty && out(4L)._3.isEmpty && !out(4L)._4)
  }

  test("trainQualityClassifier separates a vocabulary-split corpus and " +
      "the report prices the gate (deterministic across runs)") {
    import org.apache.spark.sql.functions.col
    val posV = Seq("good", "great", "fine", "nice", "solid", "clean")
    val negV = Seq("bad", "awful", "poor", "noisy", "junk", "spam")
    def doc(v: Seq[String], k: Int) =
      (0 until 6).map(i => v((i + k) % 6)).mkString(" ")
    val d = docs(
      (1L to 8L).map(i => (i, doc(posV, i.toInt), "pos")) ++
      (9L to 16L).map(i => (i, doc(negV, i.toInt), "neg")) :+
      ((17L, "", "neg")): _*)
    val target = col("source") === "pos"
    val w1 = TextAnalysis.trainQualityClassifier(d, "doc_id", "text",
      target).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // full bucket spine, learning actually moved weights off zero
    assert(w1.size == 64 && w1.keySet == (0L until 64L).toSet)
    assert(w1.values.exists(_ > 0) && w1.values.exists(_ < 0))
    // deterministic: the loop is exact-decimal sums + fixed driver math
    val w2 = TextAnalysis.trainQualityClassifier(d, "doc_id", "text",
      target).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w1 == w2)
    val rep = TextAnalysis.qualityClassifierReport(d, "doc_id", "text",
      target, "source").collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    val (pn, pt, pk, pc, pm) = rep("pos")
    val (nn, nt, nk, nc, nm) = rep("neg")
    // the empty doc has no features: excluded from training and serving
    assert(pn == 8 && nn == 8)
    assert(pt == 8 && nt == 0)
    // disjoint vocabularies: 3 steps fully separate at the 0.5 gate
    assert(pk == 8 && nk == 0, s"keep counts pos=$pk neg=$nk")
    assert(pc == 8 && nc == 8)
    assert(pm > 0.5 && nm < 0.5 && pm > nm + 0.01,
      s"mean_p pos=$pm neg=$nm")
  }

  /** A mixed corpus for the gradient-step specs: words from a 40-word
    * vocabulary (so buckets collide), one doc id carried by two docs with
    * different labels, a null label and a blank doc. */
  private def mixedCorpus = {
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 40).map(i => s"v$i")
    val texts = (1L to 30L).map(i => (i,
      Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(40))).mkString(" "),
      if (rnd.nextBoolean()) "pos" else "neg"))
    val relabelled = if (texts(6)._3 == "pos") "neg" else "pos"
    docs(texts ++ Seq((7L, "v1 v2 v3", relabelled), (31L, "v4 v5", null),
      (32L, "  ", "pos")): _*)
  }

  /** The gradient step as Catalyst aggregates (reference): per-doc
    * margins, errors joined back onto the features, a per-bucket sum
    * collected to the driver; nDocs counted distinct. */
  private def catalystWeights(feat: org.apache.spark.sql.DataFrame,
      numBuckets: Int, iters: Int, lr: Double): Array[Double] = {
    import org.apache.spark.sql.functions._
    val nDocs = feat.select(countDistinct(col("__id"))).head().getLong(0)
    var w = Array.fill(numBuckets)(0.0)
    for (_ <- 1 to iters) {
      val wArr = array(w.toIndexedSeq.map(lit): _*)
      val err = feat
        .withColumn("__t",
          round(element_at(wArr, (col("__b") + 1).cast("int")) * col("__x"),
            12).cast("decimal(38,12)"))
        .groupBy("__id", "__y").agg(sum(col("__t")).as("__z"))
        .withColumn("__m", round(col("__z").cast("double"), 6))
        .withColumn("__err", TextAnalysis.sigmoid6(col("__m")) - col("__y"))
        .select("__id", "__err")
      val g = feat.join(err, Seq("__id"))
        .withColumn("__g",
          round(col("__err") * col("__x"), 12).cast("decimal(38,12)"))
        .groupBy("__b").agg(sum(col("__g")).as("__gs"))
        .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      w = w.zipWithIndex.map { case (wj, j) =>
        wj - lr * (g.get(j.toLong).map(_.doubleValue).getOrElse(0.0)
          / nDocs) }
    }
    w
  }

  test("the gradient fold's weights are bit-identical to the Catalyst " +
      "step at pin widths 1, 3 and 7") {
    import org.apache.spark.sql.functions.col
    val rows = TextAnalysis.featureRows(mixedCorpus, "doc_id", "text",
      col("source") === "pos", 16)
    for (width <- Seq(1, 3, 7)) {
      val feat = TextAnalysis.pinFeatures(rows, width)
      val bits = (w: Array[Double]) =>
        w.map(java.lang.Double.doubleToRawLongBits).toSeq
      val fold = TextAnalysis.trainWeights(feat, 16, 4, 0.7)
      assert(fold.exists(_ != 0.0))
      assert(bits(fold) == bits(catalystWeights(feat, 16, 4, 0.7)),
        s"width $width")
    }
  }

  test("an empty corpus trains zero weights and serves an empty report") {
    import org.apache.spark.sql.functions.col
    val target = col("source") === "pos"
    for (d <- Seq(docs(), docs((1L, "", "pos"), (2L, "   ", "neg")))) {
      val w = TextAnalysis.trainQualityClassifier(d, "doc_id", "text",
        target).collect().map(_.getDouble(1))
      assert(w.length == 64 && w.forall(_ == 0.0), w.take(3).mkString(","))
      assert(TextAnalysis.qualityClassifierReport(d, "doc_id", "text",
        target, "source").count() == 0)
    }
  }

  private def jobsOf(body: => Any): Int = JobCount.of(spark)(body)

  test("training runs one job per gradient step after the feature pin, " +
      "and the served report from a persisted model runs no count job") {
    import org.apache.spark.sql.functions.col
    val (d, target) = (mixedCorpus, col("source") === "pos")
    val rows = TextAnalysis.featureRows(d, "doc_id", "text", target, 64)
    val pin = jobsOf(TextAnalysis.pinFeatures(rows, TextAnalysis.sizedWidth(rows)))
    assert(pin > 0)
    for (iters <- Seq(1, 3))
      assert(jobsOf(TextAnalysis.trainQualityClassifier(d, "doc_id", "text",
        target, iters = iters)) == pin + iters, s"iters $iters")
    val path = java.nio.file.Files.createTempDirectory("graft_qc").toString +
      "/weights"
    TextAnalysis.writeClassifier(d, "doc_id", "text", target, path)
    val read = jobsOf(TextAnalysis.readWeights(spark, path))
    assert(jobsOf(TextAnalysis.qualityClassifierReportFrom(d, "doc_id",
      "text", target, "source", path)) == read + pin)
  }

  test("sizedWidth falls back to default parallelism when statistics " +
      "are unknown (RDD-backed input)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, explode, split}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, "good fine"), Row(2L, "bad poor"))), schema)
    // the RDD leaf reports Long.MaxValue; a narrowing projection above
    // it scales the root estimate below that sentinel
    val derived = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w")).groupBy("doc_id", "w")
      .count().select(col("doc_id"))
    val dp = spark.sparkContext.defaultParallelism
    assert(TextAnalysis.sizedWidth(d) == dp)
    assert(TextAnalysis.sizedWidth(derived) == dp)
    // known statistics keep the size-derived width: a few bytes -> 1
    assert(TextAnalysis.sizedWidth(docs((1L, "good fine", "a"))) == 1)
  }

  test("gopherRules: each rule fires on its designed violation") {
    val okWords = "the of and " + (1 to 30).map(i => s"word$i").mkString(" ")
    val d = docs(
      (1L, okWords, "a"),                                   // passes all
      (2L, "the of " + Seq.fill(30)("## # ##").mkString(" "), "a"), // symbols
      (3L, (1 to 40).map(i => s"x$i").mkString(" "), "a"),  // no stopwords
      (4L, "the of " + (1 to 30).map(_ => "999").mkString(" "), "a"), // non-alpha
      (5L, "short the", "a"),                               // too few words
      (6L, (1 to 15).map(i => s"- bullet the of item$i line$i\n").mkString, "a"),
      (7L, "", "a"))                                        // empty
    val out = TextAnalysis.gopherRules(d, "doc_id", "text", minWords = 10)
      .collect().map(r => r.getLong(0) -> r.getBoolean(8)).toMap
    assert(out(1L))
    assert(!out(2L) && !out(3L) && !out(4L) && !out(5L) && !out(7L))
    assert(!out(6L))        // >90% bullet-start lines
  }

  test("zipfFit recovers the exponent of a synthetic power law") {
    // word w_i occurs floor(1000/i) times -> cnt ~ rank^-1 exactly
    val text = (1 to 50).flatMap(i => Seq.fill(1000 / i)(s"w$i")).mkString(" ")
    val out = TextAnalysis.zipfFit(docs((1L, text, "a")), "text", topR = 50)
      .collect().head
    assert(out.getLong(0) == 50)
    val slope = out.getDouble(1)
    assert(slope > -1.1 && slope < -0.9, s"slope $slope not ~ -1")
    // flood corpus (every word equally frequent) flattens the slope
    val flat = (1 to 50).flatMap(i => Seq.fill(20)(s"f$i")).mkString(" ")
    val s2 = TextAnalysis.zipfFit(docs((1L, flat, "a")), "text", topR = 50)
      .collect().head.getDouble(1)
    assert(s2 == 0.0)
  }

  test("sourceReport: per-source counts, means, empty-doc exclusion") {
    val good = (1 to 60).map(i => s"unique$i").mkString(" ") // long, diverse
    val bad = Array.fill(40)("the").mkString(" ")            // stopword flood
    val d = docs(
      (1L, good, "web"), (2L, good, "web"), (3L, bad, "web"),
      (4L, "", "web"),
      (5L, good, "wiki"))
    val out = TextAnalysis.sourceReport(d, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val web = out("web")
    assert(web._1 == 4 && web._2 == 1)            // 4 docs, 1 empty
    assert(web._3 == (60 + 60 + 40 + 0) / 4.0)    // empty doc counts as 0 words
    assert(math.abs(web._5 - 0.333333) < 1e-6)
    assert(out("wiki")._1 == 1 && out("wiki")._5 == 0.0)
    assert(out("wiki")._4 > web._4)               // wiki mean quality higher
  }

  test("randomProjection: linearity, sparsity, and determinism") {
    val s = spark
    import s.implicits._
    val v = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val d = Seq((1L, v), (2L, v.map(_ * 2)), (3L, Array.fill(64)(0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(d, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L).length == 16)
    // linearity: proj(2x) == 2*proj(x) up to the 1e-6 rounding
    out(1L).zip(out(2L)).foreach { case (a, b) =>
      assert(math.abs(b - 2 * a) < 3e-6) }
    assert(out(3L).forall(_ == 0.0))
    // Achlioptas density: ~1/3 of 64x16 entries nonzero, both signs
    val m = Similarity.rpMatrix(64, 16)
    val flat = m.flatten
    assert(m.map(_.length).sum == 1024 && flat.count(_ != 0) > 250 &&
      flat.count(_ != 0) < 450 && flat.contains(1) && flat.contains(-1))
    // deterministic across invocations
    assert(Similarity.rpMatrix(64, 16).flatten.toSeq == flat.toSeq)
  }

  test("stitchPairs: catches split documents, skips boilerplate-hot grams") {
    // doc1's tail == doc2's head (the stitch); 11 docs all ENDING with the
    // same hot gram "sig off now" (df=11 > maxDf=10) while doc4 STARTS
    // with it: the boilerplate key must be guarded out, not joined
    val corpus = docs(Seq(
      (1L, "alpha beta gamma delta epsilon", "a"),
      (2L, "gamma delta epsilon zeta eta", "a"),
      (3L, "unrelated words entirely here", "a"),
      (4L, "sig off now go", "a")) ++
      (10L to 20L).map(i => (i, s"u$i v$i w$i sig off now", "b")): _*)
    val out = Dedup.stitchPairs(corpus, "doc_id", "text", k = 3, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 2L, "gamma delta epsilon")),
      s"got ${out.toSeq}: the df=11 'sig off now' tail must be guarded out")
  }

  test("canonicalDocs keeps the argmax-quality doc per cluster, ties to lower id") {
    // three near-identical docs (one cluster); doc 31 has an extra unique
    // word -> higher uniq_ratio -> highest quality score
    val base = "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k1 k2 k3"
    val d = docs(
      (30L, base, "a"),
      (31L, base + " fresh", "a"),
      (32L, base, "a"),
      (40L, "totally different island content words", "a"))
    val out = Dedup.canonicalDocs(d, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 1) // the singleton never forms a cluster row
    val (cluster, size, kept) = out.head
    assert(cluster == 30L && size == 3L && kept == 31L,
      s"got ($cluster, $size, $kept)")
  }

  test("crossSourceDups attributes near-dup pairs to unordered source pairs") {
    val t = "same same text body here repeated k1 k2 k3 k4 k5 k6"
    val d = docs((50L, t, "web"), (51L, t, "books"), (52L, t, "web"))
    val out = Dedup.crossSourceDups(d, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // 3 pairs: (50,51) web-books, (50,52) web-web, (51,52) books-web
    assert(out(("books", "web")) == 2L && out(("web", "web")) == 1L,
      s"got $out")
  }

  test("hllDistinctWords: exact small-range estimates and per-source registers") {
    val d = docs(
      (60L, (1 to 40).map(i => s"w$i").mkString(" "), "a"),
      (61L, (1 to 40).map(i => s"w$i").mkString(" "), "a"), // dups don't inflate
      (62L, (1 to 5).map(i => s"v$i").mkString(" "), "b"))
    val out = TextAnalysis.hllDistinctWords(d, "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val (exactA, zerosA, estA) = out("a")
    val (exactB, zerosB, estB) = out("b")
    assert(exactA == 40L && exactB == 5L)
    assert(zerosA >= 1L && zerosB >= 1L && zerosB > zerosA)
    // linear-counting regime at this cardinality: estimates land close
    assert(math.abs(estA - 40.0) / 40.0 < 0.35, s"estA=$estA")
    assert(math.abs(estB - 5.0) / 5.0 < 0.35, s"estB=$estB")
  }
}
