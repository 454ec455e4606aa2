package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup
import graft.ops.{GraphLoop, PageRank}

/** The graph loops on [[GraphLoop]]: PageRank, HITS, label propagation,
  * the k-core peel and connected components. Each one's keyed executor
  * (forced by node gate 0) must be hash-equal to its driver executor. */
class GraphLoopSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val Gate = GraphLoop.DriverMaxNodes

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** A 60-node chain (ids 0, 10, ..., 600) plus a sparse random graph on
    * ids 1000–1299: DedupClusterSpec's round-count stress graph. */
  private def chainPlusRandom: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val chain = (0 until 60).map(i => (i * 10L, (i + 1) * 10L))
    val rand = Seq.fill(120)((rnd.nextInt(300).toLong + 1000,
      rnd.nextInt(300).toLong + 1000)).filter(p => p._1 != p._2)
    (chain ++ rand).toDF("id_a", "id_b")
  }

  /** The five loops as functions of the node gate, on pairs (id_a,
    * id_b) read as directed (src, dst) edges where a loop is directed. */
  private def loops(pairs: DataFrame): Seq[(String, Long => DataFrame)] = {
    val edges = pairs.select(pairs("id_a").as("src"), pairs("id_b").as("dst"))
    Seq(
      "pagerank" -> (PageRank.runGated(edges, 4, false, null, _)),
      "pagerank dangling" -> (PageRank.runGated(edges, 4, true, null, _)),
      "hits" -> (PageRank.hitsGated(edges, 5, _)),
      "label propagation" -> (Dedup.labelPropagationGated(pairs, 4, _)),
      "k-core" -> (Dedup.kCoreGated(pairs, 2, 3, _)),
      "connected components" -> (Dedup.componentsGated(pairs, 50, _)))
  }

  test("every loop returns its empty result on an empty edge table") {
    val s = spark
    import s.implicits._
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val edges = none.select($"id_a".as("src"), $"id_b".as("dst"))
    assert(PageRank.run(edges).count() == 0)
    assert(PageRank.run(edges, redistributeDangling = true).count() == 0)
    assert(PageRank.hits(edges).count() == 0)
    assert(Dedup.labelPropagation(none).count() == 0)
    assert(Dedup.connectedComponents(none).count() == 0)
    // the k-core audit reports its rounds, every tally 0
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.kCorePeel(docs, "doc_id", "text").collect()
      .map(_.toSeq).toSeq == (0 to 3).map(r => Seq(r.toLong, 0L, 0L, 0L)))
  }

  test("k-core: the peel's per-round tallies, on both executors") {
    val s = spark
    import s.implicits._
    // triangle 1-2-3 with the tail 3-4-5: the tail peels one node a round
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val want = Seq(Seq(0L, 5L, 10L, 0L), Seq(1L, 4L, 8L, 1L),
      Seq(2L, 3L, 6L, 1L), Seq(3L, 3L, 6L, 0L))
    for (gate <- Seq(Gate, 0L))
      assert(Dedup.kCoreGated(pairs, 2, 3, gate).collect().map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long]).toSeq == want, s"gate $gate")
  }

  test("every loop's keyed executor is hash-equal to its driver executor") {
    for ((name, run) <- loops(chainPlusRandom)) {
      val want = rows(run(Gate))
      assert(want.nonEmpty, name)
      assert(rows(run(0L)) == want, s"$name: keyed executor")
    }
  }

  test("every loop under the node gate leaves exactly one pin") {
    val sc = spark.sparkContext
    for ((name, run) <- loops(chainPlusRandom)) {
      val before = sc.getPersistentRDDs.keySet
      val out = run(Gate)
      val pinned = sc.getPersistentRDDs.keySet -- before
      assert(pinned.size == 1, s"$name: ${pinned.size} pins")
      assert(out.count() > 0, name)
    }
  }

  test("keyed connected components keep Catalyst's size estimate small") {
    // The pointer jump is a self-join on labels; a plan that nested its
    // rounds would multiply the join estimate into a 2^rounds-bit number.
    val out = Dedup.componentsGated(chainPlusRandom, 50, 0L)
    val bits = out.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits < 128, s"sizeInBytes has $bits bits")
    assert(out.select("comp").distinct().count() > 1)
  }
}
