package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-exponent probe for the dedup/span/IVF family (r18 verdict
  * #4): the sf tables stop at sf0.1, so every 100 TB claim above that
  * rested on plan-shape arguments alone — legitimate and audited, but
  * a super-linear surprise hiding behind a correct-looking plan (a
  * quietly quadratic candidate table, a vocab that stops being
  * "bounded") would be invisible. This main synthesizes a corpus with
  * the sf tables' shape at 1× (≈ sf0.1: 5 000 docs / 2 000 vectors)
  * and 10×, times each family operator at both, and prints the
  * measured time-ratio vs the 10× data-ratio plus the log-log
  * exponent (1.0 = linear; the expected envelope is ≲ linear×log).
  *
  * The generator is the [[graft.tools.ZipfData]] discipline: fully
  * distributed, seeded xxhash64 expressions over spark.range — no RNG
  * state, no driver materialization, the same generator at any scale.
  * Docs carry ~120 unique tokens; every 4th doc appends one of 32
  * shared 24-token boilerplate blocks, so the corpus has real
  * cross-doc verbatim spans (~4–5% dup token mass, the sf0.1 profile)
  * whose per-block multiplicity GROWS with scale — the honest hard
  * case for the census (hot gram keys get hotter at 10×).
  *
  * Scales/sizes override via SPARK_GRAFT_PROBE_SCALES (default
  * "1,10"), SPARK_GRAFT_PROBE_DOCS / _VECS (base sizes), and
  * SPARK_GRAFT_PROBE_REPEAT (default 3, lower-median like Bench). */
object ScaleProbe {

  private[graft] def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val base = transform(sequence(lit(0), lit(119)),
      j => concat(lit("t"),
        pmod(xxhash64(col("id"), j, lit(7L)), lit(1L << 30))))
    val block = transform(sequence(lit(0), lit(23)),
      j => concat(lit("b"), pmod(xxhash64(col("id"), lit(3L)), lit(32L)),
        lit("x"), j))
    spark.range(n).select(
      col("id").as("doc_id"),
      array_join(when(pmod(col("id"), lit(4L)) === 0L,
        concat(base, block)).otherwise(base), " ").as("text"),
      concat(lit("src"), pmod(col("id"), lit(4L))).as("source"))
  }

  private[graft] def synthEmb(spark: SparkSession, n: Long,
      dim: Int = 64): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        d => (pmod(xxhash64(col("id"), d, lit(11L)), lit(1L << 20))
          .cast("double") / (1L << 19).toDouble - 1.0).cast("float"))
        .as("embedding"))

  /** Deterministic directed multigraph: `nNodes * avgDeg` edges with
    * uniform xxhash64 endpoints (self-loops dropped) — the same
    * seeded-expression discipline as the doc/emb generators. Node count
    * scales with the probe scale, so a big enough scale pushes the
    * graph loops PAST [[graft.ops.GraphLoop.DriverMaxNodes]] and
    * exercises the keyed-join fallback path the sf benches never
    * reach (r21, verdict item 1). */
  private[graft] def synthEdges(spark: SparkSession, nNodes: Long,
      avgDeg: Int = 8): DataFrame =
    spark.range(nNodes * avgDeg).select(
      pmod(xxhash64(col("id"), lit(5L)), lit(nNodes)).as("src"),
      pmod(xxhash64(col("id"), lit(13L)), lit(nNodes)).as("dst"))
      .filter(col("src") =!= col("dst"))

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cores(), "exact")
    val scales = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALES", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val baseDocs = sys.env.getOrElse("SPARK_GRAFT_PROBE_DOCS", "5000").toLong
    val baseVecs = sys.env.getOrElse("SPARK_GRAFT_PROBE_VECS", "2000").toLong
    val repeat = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPEAT", "3").toInt
    val tmp = java.nio.file.Files.createTempDirectory("scaleprobe").toString
    import graft.llm.{Dedup, Similarity}

    // the family the 100 TB story leans on — each entry builds its
    // DataFrame fresh per repeat so persists/checkpoints never carry
    def ops(docs: DataFrame, emb: DataFrame, edges: DataFrame,
        tag: String): Seq[(String, () => DataFrame)] = Seq(
      // graph loops (r21, verdict item 1): the families whose r20
      // checkpoint-cadence rework was only ever measured driver-bound
      "pagerank" -> (() => graft.ops.PageRank.run(edges, iters = 5)),
      "hits" -> (() => graft.ops.PageRank.hits(edges, iters = 5)),
      "hyperball" -> (() => graft.ops.HyperBall.neighborhoodFunction(
        spark, edges.select(col("src").as("id_a"), col("dst").as("id_b")),
        iters = 2)),
      "kcore" -> (() => Dedup.kCorePeel(docs, "doc_id", "text",
        k = 2, rounds = 3, shingleN = 3, numHashes = 8, numBands = 4,
        threshold = 0.3)),
      "containment" -> (() => Dedup.containmentPairs(docs, "doc_id",
        "text", shingleN = 3, maxDf = 5, threshold = 0.3, prefixK = 5)),
      "exact_profile" -> (() => Dedup.exactSubstringDupProfile(
        docs, "doc_id", "text", "source", gramN = 8)),
      "remove_spans" -> (() => Dedup.removeDupSpans(
        docs, "doc_id", "text", gramN = 8)),
      "span_hist_incr" -> (() => Dedup.dupSpanHistogram(
        docs, "doc_id", "text", "source", gramN = 8,
        census = Dedup.Census.Persist(s"$tmp/hist_$tag"))),
      "remove_incr" -> (() => Dedup.removeDupSpans(
        docs, "doc_id", "text", gramN = 8,
        census = Dedup.Census.Persist(s"$tmp/del_$tag"))),
      "minhash_pairs" -> (() => Dedup.minhashPairs(
        docs, "doc_id", "text", threshold = 0.3)),
      "canonical_docs" -> (() => Dedup.canonicalDocs(
        docs, "doc_id", "text", threshold = 0.3)),
      "ivf_cell_split" -> (() => Similarity.ivfCellSplit(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
        "vec_id", "embedding", thrNum = 6, thrDen = 5)),
      "ivf_persist_search" -> (() => {
        val st = Similarity.ivfSplitState(
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
          emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
          "vec_id", "embedding", thrNum = 6, thrDen = 5)
        Similarity.ivfSplitWriteIndex(st, s"$tmp/ivf_$tag")
        Similarity.ivfSplitTopKFrom(
          emb.filter(col("vec_id") < 20), emb,
          Similarity.ivfSplitReadIndex(spark, s"$tmp/ivf_$tag"),
          "vec_id", "embedding", k = 5, nProbe = 5)
      }),
      "train_classifier" -> (() =>
        graft.llm.TextAnalysis.trainQualityClassifier(docs, "doc_id",
          "text", pmod(col("doc_id"), lit(4L)) === 0L)))

    val baseNodes = sys.env.getOrElse("SPARK_GRAFT_PROBE_NODES", "20000").toLong
    val onlyOps = sys.env.get("SPARK_GRAFT_PROBE_OPS").map(_.split(",").toSet)
    val needEdges = onlyOps.forall(_.exists(Set("pagerank", "hits", "hyperball")))
    val results = scales.map { sc =>
      // materialize to parquet first so the ops time their own work,
      // not the generator expressions
      synthDocs(spark, baseDocs * sc)
        .write.mode("overwrite").parquet(s"$tmp/docs_$sc")
      synthEmb(spark, baseVecs * sc)
        .write.mode("overwrite").parquet(s"$tmp/emb_$sc")
      val d = spark.read.parquet(s"$tmp/docs_$sc")
      val e = spark.read.parquet(s"$tmp/emb_$sc")
      val g = Option.when(needEdges) {
        synthEdges(spark, baseNodes * sc)
          .write.mode("overwrite").parquet(s"$tmp/edges_$sc")
        spark.read.parquet(s"$tmp/edges_$sc")
      }
      System.err.println(s"[probe] scale ${sc}x: ${d.count()} docs, " +
        s"${e.count()} vectors" + g.fold("")(x => s", ${x.count()} edges"))
      // no edges table when no graph op is selected: only the graph
      // ops' thunks read it, and the filter below drops them
      val times = ops(d, e, g.orNull, s"s$sc")
        .filter { case (name, _) => onlyOps.forall(_.contains(name)) }
        .map { case (name, mk) =>
        // one unrecorded warm-up per op: the FIRST scale otherwise pays
        // every op's one-time codegen/JIT cost and the exponent reads
        // systematically low (the first probe run showed ivf_cell_split
        // at a NEGATIVE exponent purely from this)
        Harness.isolated(spark)(mk().count())
        val ts = (1 to repeat).map { _ =>
          val dt = Harness.isolated(spark) {
            val t0 = System.nanoTime()
            mk().count()
            (System.nanoTime() - t0) / 1e9
          }
          System.gc()
          dt
        }
        val med = Harness.lowerMedian(ts)
        System.err.println(f"[probe] ${sc}x $name%-20s $med%8.2f s")
        name -> med
      }
      sc -> times.toMap
    }.toMap

    val s1 = results(scales.head)
    val sN = results(scales.last)
    val ratio = scales.last.toDouble / scales.head
    println(f"op\tt_${scales.head}x_sec\tt_${scales.last}x_sec\t" +
      "time_ratio\tdata_ratio\texponent")
    s1.keys.toSeq.sorted.foreach { k =>
      val r = sN(k) / s1(k)
      val expn = math.log(r) / math.log(ratio)
      println(f"$k\t${s1(k)}%.2f\t${sN(k)}%.2f\t$r%.2f\t$ratio%.0f\t$expn%.2f")
    }
    spark.stop()
  }
}
