package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Pipeline, TextAnalysis}
import graft.ops.PageRank

/** Round-12 operators: PageRank, inverted-index search, OOV masking, and
  * the sharded JSONL sink. */
class Round12Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def docs(rows: (Long, String, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
  }

  /** Plain-Scala mirror of PageRank.run's scaled-integer update in all
    * three modes: plain, dangling-mass redistribution and personalized
    * (`seeds` non-empty; |S| counts distinct seeds, also off-graph ones). */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      dangling: Boolean = false, seeds: Seq[Long] = Nil): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = nodes.size
    val base = PageRank.SCALE / n
    val s = seeds.distinct
    val tb = nodes.map(v => v ->
      (if (s.isEmpty) base else if (s.contains(v)) PageRank.SCALE / s.size
       else 0L)).toMap
    var r = tb
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      val share =
        if (dangling) nodes.filterNot(deg.contains).map(r).sum / n else 0L
      r = nodes.map(v =>
        v -> (15L * tb(v) + 85L * (in.getOrElse(v, 0L) + share)) / 100L).toMap
    }
    r
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("PageRank: matches the plain-Scala integer reference exactly") {
    val s = spark
    import s.implicits._
    // asymmetric digraph with a dangling node (6) and a no-in-edge node (1)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 2L),
      (4L, 5L), (5L, 2L), (2L, 6L))
    assert(ranks(PageRank.run(es.toDF("src", "dst"), iters = 5)) ==
      refPageRank(es, 5))
    // symmetric 2-cycle: the fixed point SCALE/2 is preserved exactly
    val two = PageRank.run(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), 5)
      .collect().map(r => r.getLong(1)).toSeq
    assert(two == Seq(PageRank.SCALE / 2, PageRank.SCALE / 2))
  }

  test("PageRank: every mode matches the mirror; the keyed path is hash-equal") {
    val s = spark
    import s.implicits._
    // a duplicated edge, a self-loop, sparse and negative ids, a dangling
    // node (-900) and a node with no in-edge (5)
    val es = Seq((-7L, 1000000007L), (-7L, 1000000007L), (1000000007L, 42L),
      (42L, 42L), (42L, -7L), (42L, -900L), (5L, -7L), (-7L, 5L))
    val edges = es.toDF("src", "dst")
    // a duplicated seed and one outside the graph (999)
    val seedIds = Seq(42L, -7L, 42L, 999L)
    val seeds = seedIds.toDF("node")
    for ((mode, dangling, sd, want) <- Seq(
        ("plain", false, null, refPageRank(es, 4)),
        ("dangling", true, null, refPageRank(es, 4, dangling = true)),
        ("personalized", false, seeds, refPageRank(es, 4, seeds = seedIds)))) {
      val driver = ranks(PageRank.run(edges, 4, dangling, sd))
      assert(driver == want, mode)
      // node gate 0 forces the keyed-join loop at test scale
      assert(ranks(PageRank.runGated(edges, 4, dangling, sd, 0L)) == driver,
        s"$mode: keyed path")
    }
  }

  test("invertedSearch: posting-list intersections over top-df terms") {
    val d = docs(
      (1L, "alpha beta gamma", "en", "a"),
      (2L, "alpha beta", "en", "a"),
      (3L, "alpha gamma", "en", "a"),
      (4L, "alpha alpha beta rare", "en", "a")) // dup word counts once
    val got = Pipeline.invertedSearch(d, "doc_id", "text", topK = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // top-3 df terms: alpha(4), beta(3), gamma(2); rare(1) excluded
    assert(got == Seq(
      ("alpha", "beta", 3L), ("alpha", "gamma", 2L), ("beta", "gamma", 1L)))
  }

  test("unkMask: rare words masked in place, counts and empty docs exact") {
    val d = docs(
      (1L, "common common rare1", "en", "a"),
      (2L, "common other", "en", "a"),
      (3L, "common other rare2 rare2", "en", "a"),
      (4L, "", "en", "a"))
    // df: common=3, other=2, rare1=1, rare2=1 -> minDf=2 masks rare*
    val got = TextAnalysis.unkMask(d, "doc_id", "text", minDf = 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "common common <unk>", 1L, 3L),
      (2L, "common other", 0L, 2L),
      (3L, "common other <unk> <unk>", 2L, 4L),
      (4L, "", 0L, 0L)))
  }

  test("writeJsonlShards: payload (incl. JSON-hostile chars) round-trips") {
    val s = spark
    import s.implicits._
    val out = java.nio.file.Files
      .createTempDirectory("jsonl_spec").toString + "/shards"
    val src = Seq(
      (1L, "plain text", 0L), (2L, "quote \" backslash \\", 0L),
      (3L, "newline\ninside", 1L), (4L, "tab\tand unicode é", 1L))
      .toDF("doc_id", "text", "shard")
    graft.io.Readers.writeJsonlShards(src, "shard", out)
    val back = s.read
      .schema("doc_id LONG, text STRING").option("basePath", out)
      .json(s"$out/shard=*")
      .select(col("doc_id"), col("text"), col("shard").cast("long"))
      .as[(Long, String, Long)].collect().toSet
    assert(back == Set(
      (1L, "plain text", 0L), (2L, "quote \" backslash \\", 0L),
      (3L, "newline\ninside", 1L), (4L, "tab\tand unicode é", 1L)))
    // line-delimited on disk: the embedded \n is escaped, one line per doc
    val files = new java.io.File(s"$out/shard=1")
      .listFiles().filter(_.getName.endsWith(".json"))
    val lines = files.flatMap(f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
    assert(lines.length == 2 && lines.forall(_.nonEmpty))
  }
}
