package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.llm.{Dedup, Pipeline, Similarity}

/** Round-13 operators: exact-substring duplicate spans, deterministic
  * holdout split, cluster purity, hard-negative mining. */
class AnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def docs(rows: (Long, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  test("dupSpans merges overlapping duplicated windows into one covered run") {
    // docs 1 and 2 share the 10-word run w1..w10: with k=8 that is three
    // overlapping duplicated windows per doc, whose UNION covers exactly
    // 10 tokens — a naive per-window sum would count 24.
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = docs(
      (1L, shared + " a1 a2 a3", "s"),
      (2L, "b1 b2 " + shared, "s"),
      (3L, (1 to 9).map(i => s"u$i").mkString(" "), "s"), // unique: 0 covered
      (4L, "t1 t2 t3", "s")) // shorter than k: no windows at all
    val out = Dedup.dupSpans(d, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((13L, 10L)))
    assert(out(2L) == ((12L, 10L)))
    assert(out(3L) == ((9L, 0L)))
    assert(out(4L) == ((3L, 0L)))
  }

  test("dupSpans counts a window duplicated WITHIN one document") {
    // the same 8-gram twice in one doc: both occurrences' tokens covered
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val d = docs((1L, run + " mid " + run, "s"),
      (2L, (1 to 20).map(i => s"q$i").mkString(" "), "s"))
    val out = Dedup.dupSpans(d, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 16L && out(2L) == 0L)
  }

  test("removeDupSpans excises exactly the covered tokens and the " +
      "re-audit on the cleaned corpus reads zero") {
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = docs(
      (1L, shared + " a1 a2 a3", "s"),
      (2L, "b1 b2 " + shared, "s"),
      (3L, (1 to 9).map(i => s"u$i").mkString(" "), "s"),
      (4L, "t1 t2 t3", "s"))
    val out = Dedup.removeDupSpans(d, "doc_id", "text", gramN = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((13L, 10L, "a1 a2 a3")))
    assert(out(2L) == ((12L, 10L, "b1 b2")))
    assert(out(3L) == ((9L, 0L, (1 to 9).map(i => s"u$i").mkString(" "))))
    assert(out(4L) == ((3L, 0L, "t1 t2 t3")))
    // the paper's fixed point: the audit over the CLEANED corpus reports
    // zero duplicated coverage (no excision stitched a new 8-gram here)
    val s = spark
    import s.implicits._
    val cleaned = out.toSeq.map { case (id, (_, _, t)) => (id, t) }
      .toDF("doc_id", "text")
    val re = Dedup.dupSpans(cleaned, "doc_id", "text", k = 8)
      .agg(sum(col("covered_tokens"))).head.getLong(0)
    assert(re == 0L, s"re-audit found $re covered tokens after removal")
  }

  test("removeDupSpans minSpanLen excises only spans at or over the " +
      "threshold (Lee et al.'s minimum span length)") {
    // docs 1/2 share a 20-token run AND an 8-token run; minSpanLen = 16
    // must excise only the 20-run, keeping the short duplicated idiom
    val big = (1 to 20).map(i => s"w$i").mkString(" ")
    val small = (1 to 8).map(i => s"s$i").mkString(" ")
    val d = docs(
      (1L, big + " a1 a2 " + small, "s"),
      (2L, small + " b1 b2 " + big, "s"))
    val out = Dedup.removeDupSpans(d, "doc_id", "text", gramN = 8,
      minSpanLen = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((30L, 20L, "a1 a2 " + small)))
    assert(out(2L) == ((30L, 20L, small + " b1 b2")))
    // default threshold (= gramN) on the same corpus excises BOTH runs —
    // the q316 semantics are unchanged by the knob's existence
    val all = Dedup.removeDupSpans(d, "doc_id", "text", gramN = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(all(1L) == 28L && all(2L) == 28L)
  }

  test("dupSpanHistogram buckets maximal span lengths and per-doc " +
      "longest spans by powers of two") {
    // doc 1 and 2 share a 20-token run (one maximal span of 20 each:
    // bucket ⌊log2 20⌋+1 = 5) AND, separated by unique filler, an
    // 8-token run (span of 8: bucket 4). Doc 3 repeats only the 8-run.
    val big = (1 to 20).map(i => s"w$i").mkString(" ")
    val small = (1 to 8).map(i => s"s$i").mkString(" ")
    val d = docs(
      (1L, big + " a1 a2 a3 a4 a5 a6 a7 a8 " + small, "sa"),
      (2L, small + " b1 b2 b3 b4 b5 b6 b7 b8 " + big, "sa"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 " + small, "sb"),
      (4L, (1 to 30).map(i => s"u$i").mkString(" "), "sb"))
    val out = Dedup.dupSpanHistogram(d, "doc_id", "text", "source",
      gramN = 8).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // sa, bucket 5: two 20-token spans (one per doc); both docs' LONGEST
    // span is the 20-run, so n_docs_longest = 2
    assert(out(("sa", 5L)) == ((2L, 40L, 20L, 2L)))
    // sa, bucket 4: two 8-token spans, but no doc's longest → 0
    assert(out(("sa", 4L)) == ((2L, 16L, 8L, 0L)))
    // sb, bucket 4: doc 3's single 8-token span IS its longest
    assert(out(("sb", 4L)) == ((1L, 8L, 8L, 1L)))
    assert(out.keySet == Set(("sa", 5L), ("sa", 4L), ("sb", 4L)))
  }

  test("census shards written by separate runs compose: glob + sum-merge " +
      "reproduces the from-scratch span histogram exactly") {
    // the cross-RUN form of the q320 discipline: generation A and
    // generation B each write their own census shard in INDEPENDENT
    // calls; the reader globs the root, merges by one sum per key, and
    // must reproduce the from-scratch histogram bit-for-bit
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val root = java.nio.file.Files
      .createTempDirectory("census_gens").toString
    Dedup.writeSpanCensusShard(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", s"$root/genA")
    Dedup.writeSpanCensusShard(
      d.filter(col("doc_id") % 2 === 1), "doc_id", "text", s"$root/genB")
    // the within-job persisted census (q320's form) must agree too
    val persistDir = java.nio.file.Files
      .createTempDirectory("census_persist").toString
    val direct = Dedup.dupSpanHistogram(d, "doc_id", "text", "source")
    assert(direct.count() > 0)
    Seq(Dedup.Census.Glob(s"$root/*"),
        Dedup.Census.Persist(s"$persistDir/census")).foreach { census =>
      val merged = Dedup.dupSpanHistogram(d, "doc_id", "text", "source",
        census = census)
      assert(merged.count() == direct.count(), census)
      assert(merged.exceptAll(direct).count() == 0, census)
      assert(direct.exceptAll(merged).count() == 0, census)
    }
  }

  test("stitched-residual POSITIVE control: one deletion pass stitches a " +
      "NEW duplicated window, the re-audit reads NONZERO, and the fixed " +
      "point closes it") {
    // The synthetic corpora inject duplicates contiguously, so q317's
    // re-audit has only ever read zero — an always-zero bug would be
    // invisible (r18 verdict, What's-missing #1). This fixture forces
    // the paper's second-order effect: docs 1 and 2 share a 7-token
    // prefix and suffix (too short to form an 8-gram window on their
    // own) around DISTINCT duplicated middles (each middle recurs in
    // docs 3/4), so pass 1 excises exactly the middles and stitches the
    // prefix+suffix into 14-token verbatim twins — a brand-new
    // duplicated run the audit MUST see.
    val x = (1 to 12).map(i => s"x$i").mkString(" ")
    val y = (1 to 12).map(i => s"y$i").mkString(" ")
    val p = (1 to 7).map(i => s"p$i").mkString(" ")
    val q = (1 to 7).map(i => s"q$i").mkString(" ")
    val filler = (1 to 30).map(i => s"u$i").mkString(" ")
    val d = docs(
      (1L, s"$p $x $q", "sa"),
      (2L, s"$p $y $q", "sa"),
      (3L, x, "sb"),
      (4L, y, "sb"),
      (5L, filler, "sb"))
    val pass1 = Dedup.removeDupSpans(d, "doc_id", "text", gramN = 8)
      .localCheckpoint()
    val t1 = pass1.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // pass 1 excised exactly the duplicated middles: the merged span in
    // doc 1 is [7, 19) = x1..x12 (straddle windows are unique)
    assert(t1(1L) == ((26L, 12L, s"$p $q")))
    assert(t1(2L) == ((26L, 12L, s"$p $q")))
    assert(t1(3L) == ((12L, 12L, "")))
    assert(t1(4L) == ((12L, 12L, "")))
    assert(t1(5L) == ((30L, 0L, filler)))
    // ...and the q317-shaped re-audit over the cleaned text reads
    // NONZERO — the detector provably fires on a stitched residual
    val clean1 = pass1
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("text_clean").as("text"))
    val resid = Dedup.exactSubstringDupProfile(clean1, "doc_id", "text",
        "source", gramN = 8)
      .agg(coalesce(sum(col("n_dup_tokens")), lit(0L))).head().getLong(0)
    assert(resid > 0,
      s"stitched residual read $resid — the positive control must be nonzero")
    // the fixed point converges: the stitched twins are excised in pass
    // 2 and the converged corpus has zero residual dup mass
    val fp = Dedup.removeDupSpansToFixedPoint(d, "doc_id", "text",
      gramN = 8)
    val t = fp.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(t(1L) == ((26L, 26L, "")))  // 12 (middle) + 14 (stitched twin)
    assert(t(2L) == ((26L, 26L, "")))
    assert(t(3L) == ((12L, 12L, "")))
    assert(t(4L) == ((12L, 12L, "")))
    assert(t(5L) == ((30L, 0L, filler)))
    val cleanFp = fp
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("text_clean").as("text"))
    val residFp = Dedup.exactSubstringDupProfile(cleanFp, "doc_id", "text",
        "source", gramN = 8)
      .agg(coalesce(sum(col("n_dup_tokens")), lit(0L))).head().getLong(0)
    assert(residFp == 0L,
      s"fixed point left residual dup mass $residFp — did not converge")
  }

  test("cross-run census DELETION: glob + sum-merge over independently " +
      "written generation shards reproduces the from-scratch deletion " +
      "exactly, and a missing shard fails loudly") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val root = java.nio.file.Files
      .createTempDirectory("census_del_gens").toString
    Dedup.writeSpanCensusShard(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", s"$root/genA")
    Dedup.writeSpanCensusShard(
      d.filter(col("doc_id") % 2 === 1), "doc_id", "text", s"$root/genB")
    // the within-job persisted census (q321's form) must agree too
    val persistDir = java.nio.file.Files
      .createTempDirectory("census_del_persist").toString
    val direct = Dedup.removeDupSpans(d, "doc_id", "text")
    assert(direct.count() > 0)
    Seq(Dedup.Census.Glob(s"$root/*"),
        Dedup.Census.Persist(s"$persistDir/census")).foreach { census =>
      val merged = Dedup.removeDupSpans(d, "doc_id", "text",
        census = census)
      assert(merged.count() == direct.count(), census)
      assert(merged.exceptAll(direct).count() == 0, census)
      assert(direct.exceptAll(merged).count() == 0, census)
    }
    // coverage guard: querying the full corpus against only generation
    // A's shard must fail loudly, never silently under-delete
    val e = intercept[IllegalArgumentException] {
      Dedup.removeDupSpans(d, "doc_id", "text",
        census = Dedup.Census.Glob(s"$root/genA"))
    }
    assert(e.getMessage.contains("census"),
      s"unexpected guard message: ${e.getMessage}")
  }

  test("census round trip shards string doc ids (q300's writer)") {
    // the sharded census writer must hash the id: an arithmetic shard
    // (pmod of the id) cannot take "doc-a" at all
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val s = spark
    import s.implicits._
    val d = (0 until 12).map(i =>
      (s"doc-${('a' + i).toChar}", s"$shared u$i v$i")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("census_str_ids").toString + "/census"
    val r = Dedup.exactSubstringCensusRoundTrip(d, "doc_id", "text", path,
      gramN = 8, numShards = 2).head()
    assert(r.getAs[Long]("n_shards") == 2L)
    assert(r.getAs[Boolean]("merge_exact"))
    // 3 windows lie inside the shared run, duplicated in all 12 docs
    assert(r.getAs[Long]("n_dup_keys_merged") == 3L)
    assert(r.getAs[Long]("n_docs_dup") == 12L)
  }

  test("splitAssign is a stable total partition with ~80/10/10 mass") {
    val s = spark
    import s.implicits._
    val d = (0L until 1000L).map(i => (i, s"src${i % 4}", 100L))
      .toDF("doc_id", "source", "n_chars")
    val out = Pipeline.splitAssign(d, "doc_id", "source", "n_chars").collect()
    assert(out.map(_.getLong(2)).sum == 1000L) // total partition, no loss
    val bySplit = out.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    // md5 buckets are uniform enough that 1000 ids land within wide bands
    assert(bySplit("train") > 700 && bySplit("train") < 900)
    assert(bySplit("val") > 50 && bySplit("val") < 170)
    assert(bySplit("test") > 50 && bySplit("test") < 170)
    // determinism: a second run assigns identically
    val again = Pipeline.splitAssign(d, "doc_id", "source", "n_chars")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      == again)
  }

  test("clusterPurity is 1.0 on label-separable clusters") {
    val s = spark
    import s.implicits._
    // two tight groups in 64-dim: ids 0..3 near e1 (label 0), 4..7 near e2
    // (label 1); k=2 seeds from the two lowest ids split them exactly
    def vec(hot: Int, v: Float) =
      Array.tabulate(64)(j => if (j == hot) v else 0.01f * ((j % 3) + 1))
    val rows = (0 until 8).map { i =>
      val g = i / 4
      (i.toLong, vec(g, 5.0f + 0.1f * (i % 4)).toSeq, g)
    }
    val d = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterPurity(d, "vec_id", "embedding", "label",
      k = 2, iters = 2).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 4L)
      assert(r.getDouble(4) == 1.0)
      assert(r.getInt(2) == r.getLong(3).toInt || r.getLong(3) == 4L)
    }
    // majority labels cover both groups
    assert(out.map(_.getInt(2)).toSet == Set(0, 1))
  }

  test("semDedupIncremental: dup of an index cell-mate dropped, novel vec kept") {
    val s = spark
    import s.implicits._
    def vec(hot: Int, v: Float) = {
      val a = Array.fill(64)(0.05f); a(hot) = v; a.toSeq
    }
    // index: two well-separated groups (ids 10..15); new batch: id 100
    // duplicates index vec 10 exactly, id 101 points along a fresh axis
    val idx = Seq(
      (10L, vec(0, 9f)), (11L, vec(0, 8.5f)), (12L, vec(0, 8f)),
      (13L, vec(30, 9f)), (14L, vec(30, 8.5f)), (15L, vec(30, 8f)))
      .toDF("vec_id", "embedding")
    val nw = Seq((100L, vec(0, 9f)), (101L, vec(60, 9f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedupIncremental(nw, idx, "vec_id", "embedding",
      threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(out(100L)._3 == false && out(100L)._2.exists(_ == 1.0))
    assert(out(101L)._3 == true)
    // the quantizer comes from the INDEX side only: every assigned cell
    // is an index id even though the new batch has other ids
    assert(out.values.forall(v => (10L to 15L).contains(v._1)))
  }

  test("hardNegatives never returns a same-label candidate and ranks by cosine") {
    val s = spark
    import s.implicits._
    // query 0 (label 0): nearest overall is vec 1 (same label — must be
    // excluded); nearest different-label is vec 2.
    def unit(theta: Double) = {
      val a = Array.fill(64)(0.0f)
      a(0) = math.cos(theta).toFloat; a(1) = math.sin(theta).toFloat
      a.toSeq
    }
    val d = Seq(
      (0L, unit(0.00), 0),
      (1L, unit(0.01), 0), // closest, same label
      (2L, unit(0.10), 1), // closest different label
      (3L, unit(0.50), 1),
      (4L, unit(1.20), 2)).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(d.filter(col("vec_id") === 0L), d,
      "vec_id", "embedding", "label", k = 3).collect()
    assert(out.forall(_.getInt(3) != 0)) // no same-label negatives
    assert(out.map(r => (r.getInt(5), r.getLong(2))).sorted.toSeq
      == Seq((1, 2L), (2, 3L), (3, 4L)))
  }

  test("every top-k path ranks 1..k without gaps and breaks equal scores " +
      "by ascending candidate id") {
    val s = spark
    import s.implicits._
    // 8 base directions, 3 copies each: ids b, b + 8 and b + 16 carry the
    // same vector, so equal scores reach every ranking. Rows arrive in
    // descending id order over 3 partitions, so input order is no help.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8, 64)(rnd.nextGaussian().toFloat)
    val emb = (23 to 0 by -1)
      .map(i => (i.toLong, base(i % 8).toSeq, (i % 2).toLong))
      .toDF("vec_id", "embedding", "label").repartition(3)
    val q = emb.filter(col("vec_id") < 3)
    val k = 5
    // `full`: the source offers every query more than k candidates, so
    // each query must get exactly ranks 1..k
    def check(path: String, out: DataFrame, full: Boolean,
        score: String = "cos", ascending: Boolean = false,
        qid: String = "query_id", rank: String = "rnk",
        cand: String = "cand_id"): Unit = {
      val rows = out.select(col(qid).cast("long"), col(rank).cast("long"),
          col(cand).cast("long"), col(score)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val byQuery = rows.groupBy(_._1)
      assert(byQuery.nonEmpty, s"$path: no rows")
      if (full) assert(byQuery.size == 3, s"$path: ${byQuery.keys}")
      var ties = 0
      byQuery.foreach { case (id, rs) =>
        val ranked = rs.sortBy(_._2).toSeq
        assert(ranked.map(_._2) == (1L to ranked.size.toLong),
          s"$path: query $id ranks ${ranked.map(_._2)}")
        assert(if (full) ranked.size == k else ranked.size <= k,
          s"$path: query $id has ${ranked.size} rows")
        ranked.zip(ranked.drop(1)).foreach { case (a, b) =>
          val better = if (ascending) a._4 < b._4 else a._4 > b._4
          assert(better || (a._4 == b._4 && a._3 < b._3),
            s"$path: query $id ranks $a before $b")
          if (a._4 == b._4) ties += 1
        }
      }
      assert(ties > 0, s"$path: no equal scores reached the ranking")
    }
    check("bruteForceTopK",
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k), true)
    check("hardNegatives", Similarity.hardNegatives(q, emb, "vec_id",
      "embedding", "label", k), true)
    check("lshTopK",
      Similarity.lshTopK(q, emb, "vec_id", "embedding", k), false)
    check("ivfTopK",
      Similarity.ivfTopK(q, emb, "vec_id", "embedding", k), false)
    check("sq8TopK",
      Similarity.sq8TopK(q, emb, "vec_id", "embedding", k), true)
    check("pqTopK", Similarity.pqTopK(q, emb, "vec_id", "embedding", k),
      true, "adc", ascending = true)
    check("ivfPqTopK", Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
      k), false, "adc", ascending = true)
    check("ivfPqRerank",
      Similarity.ivfPqRerank(q, emb, "vec_id", "embedding", k), false)
    check("ivfSplitTopK", Similarity.ivfSplitTopK(q,
      emb.filter(col("vec_id") < 12), emb.filter(col("vec_id") >= 12),
      "vec_id", "embedding", k), false)
    check("knnGraph", Similarity.knnGraph(emb, "vec_id", "embedding", k)
      .filter(col("vec_id") < 3), false,
      qid = "vec_id", rank = "nbr_rank", cand = "nbr_id")
  }
}
