package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup

/** Connected-components dedup clustering: min-label propagation must reach
  * the true component minimum, including on chain graphs where one round
  * of neighbor-mins is not enough. */
class DedupClusterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("chain component converges to the global minimum (both paths)") {
    import spark.implicits._
    // 10-1000-2000-3000-4000 chain: min label 10 must travel 4 hops
    val pairs = Seq((1000L, 10L), (1000L, 2000L), (2000L, 3000L), (3000L, 4000L))
      .toDF("id_a", "id_b")
    val want = Map(10L -> 10L, 1000L -> 10L, 2000L -> 10L,
      3000L -> 10L, 4000L -> 10L)
    val local = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == want)
    // node gate 0 forces the keyed executor (min-label + pointer jump)
    val dist = Dedup.componentsGated(pairs, 50, 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == want)
  }

  test("separate components keep separate minima (both paths)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    val local = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == want)
    val dist = Dedup.componentsGated(pairs, 50, 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == want)
  }

  test("random graph: local union-find equals distributed propagation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // sparse random graph incl. a long chain to stress round count
    val chain = (0 until 60).map(i => (i * 10L, (i + 1) * 10L))
    val rand = Seq.fill(120)((rnd.nextInt(300).toLong + 1000,
      rnd.nextInt(300).toLong + 1000)).filter(p => p._1 != p._2)
    val pairs = (chain ++ rand).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.componentsGated(pairs, 50, 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
  }

  test("shingleRows keeps one id's documents apart across extraCols values") {
    import spark.implicits._
    // the tagged-union shape (q119): doc 7 arrives on BOTH sides with
    // different text; its shingles per side must be exactly those of
    // shingling that side alone, never windows interleaving both texts
    val tagged = Seq((7L, "a b c d e", 0), (7L, "v w x y z", 1),
      (8L, "a b c q r", 1)).toDF("doc_id", "text", "__side")
    val got = Dedup.shingleRows(tagged, "doc_id", "text", 3,
      extraCols = Seq("__side"))
      .as[(Int, Long, String)].collect().toSet
    val alone = Seq(0, 1).flatMap { side =>
      Dedup.shingleRows(tagged.filter($"__side" === side), "doc_id",
        "text", 3).as[(Long, String)].collect()
        .map { case (id, sh) => (side, id, sh) }
    }.toSet
    assert(got == alone)
    assert(got.contains((1, 7L, "v w x")) && got.contains((0, 7L, "c d e")))
  }
}
