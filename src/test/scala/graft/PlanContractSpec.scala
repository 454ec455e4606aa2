package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts for the whole query surface: structural properties any
  * 100 TB-safe plan must keep, asserted over every SparkEntry query at
  * sf0.001. These catch the regression CLASS the round-8 plan audit
  * found (a multi-branch consumer replanning a subtree multiplicatively
  * — q63 once carried 16 scans of the events table) and the one a
  * mis-joined dedup/ANN query would introduce (an unconditioned cross
  * product over a corpus table).
  */
class PlanContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  // Queries where a BroadcastNestedLoopJoin is the DELIBERATE shape: a
  // broadcast of a scalar aggregate or a <=nList centroid/query table
  // (corpus side never nested-loops against corpus side).
  private val scalarBroadcastOk = Set(
    "q30_cosine_topk", "q31_ann_lsh", "q61_embed_dup", "q72_ann_ivf",
    "q83_semdedup", "q87_kmeans", "q88_cluster_sample", "q89_ann_recall",
    "q86_source_drift", "q75_tfidf", "q76_bm25", "q82_mixture",
    "q85_bigram_lm", "q71_corpus_select", "q70_embed_clusters",
    "q73_vocab", "q114_ivfpq_ann", "q115_ivfpq_recall",
    "q117_ivfpq_rerank", "q125_perplexity_filter", "q128_dsir",
    "q135_temperature_mix", // broadcasts the 1-row share-total aggregate
    "q140_ivfpq_persist",   // q114's broadcast-centroid probe shape
    "q146_cluster_purity",  // kMeans' broadcast-centroid assignment
    "q147_hard_negatives",  // broadcast 20-query side, label-predicate join
    "q148_semdedup_incr",   // broadcast-centroid assignment, both sides
    "q161_matryoshka",      // broadcast 20-query side, self-exclusion join
    "q163_rrf_fusion",      // broadcast 1-row query-vector scalar
    "q170_dup_graph_stats", // broadcast 1-row census aggregates
    "q178_pmi_pairs",       // broadcast 1-row corpus totals
    "q180_revenue_pareto",  // broadcast threshold-array + total scalars
    "q181_churn",           // broadcast 1-row max-week scalar
    "q198_multiprobe",      // q30's broadcast 20-query exact side
    "q201_heaps_fit",       // broadcast 1-row max-id scalar
    "q214_decay_engagement", // broadcast 1-row max-clock scalar
    "q217_margin_mining",   // q30's broadcast bounded query/candidate sides
    "q220_source_overlap",  // groups-squared inequality join on merged sigs
    "q223_psi_drift",       // broadcast midpoint + decile-edge scalars
    "q221_vocab_coverage",  // broadcast 1-row token-total scalar
    "q227_doremi_weights",  // broadcast 1-row vocab/max/denominator scalars
    "q230_kneser_ney",      // broadcast 1-row bigram-type-total scalar
    "q256_lm_persist",      // q230's broadcast scalar, via the model build
    "q259_knn_shapley",     // broadcast 20-query side (the q30 family)
    "q264_misra_gries",     // broadcast 1-row token-total scalar
    "q266_conformal",       // broadcast 1-row calibration-quantile scalar
    "q271_poisson_bootstrap", // broadcast 1-row replicate-CI scalar
    "q277_randomized_response", // broadcast 1-row vocab-array scalar
    "q278_chinchilla_budget", // broadcast 1-row corpus-token scalars
    "q279_disparate_impact",  // broadcast 1-row max-rate scalar
    "q282_cuped",             // broadcast 1-row calendar-midpoint scalar
    "q284_jackknife",         // broadcast 1-row corpus-total scalars
    "q288_ann_ndcg",          // q89's broadcast query/exact sides
    "q290_hits",              // broadcast 1-row L1-total scalars
    "q300_substr_census_persist", // broadcast 1-row parity/shard scalars
    "q302_sq8_recall",      // broadcast 1-row range-array + q30's query side
    "q304_t_closeness",     // bounded class x source grid, broadcast side
    "q309_lm_drift",        // q230's broadcast bigram-type-total scalar
    "q312_ivf_boundary",    // broadcast 1-row centroid-array scalar
    "q305_ivf_cell_drift",  // broadcast centroid seeds + 1-row total scalar
    "q313_ivf_cell_split",  // broadcast flagged-cell/seed/total scalars
    "q314_ivf_split_recall", // q313's broadcast scalars + q89's query side
    "q319_ivf_split_persist", // q314's shape from the persisted index
    "q324_ivf_split_update",  // q314's shape from the updated index
    "q292_fightin_words",     // broadcast 1-row corpus N/V scalars
    "q289_query_likelihood",  // broadcast 1-row collection-stats scalar
    "q207_label_separation", // L x L self-cross of the literal centroid table
    "q208_filter_kappa",    // q125's broadcast 1-row vocab scalar, via the LM leg
    "q210_neyman_alloc",    // broadcast 1-row allocation-total scalar
    "q238_unimax",          // broadcast 1-row budget + waterline scalars
    "q241_theta_diff",      // sources^2 sketch-pair join, hinted both sides
    "q245_moore_lewis",     // broadcast 1-row vocab-size scalars (q85 family)
    "q247_silhouette",      // kMeans' broadcast-centroid fan-out (q87 family)
    "q251_curriculum",      // broadcast 1-row corpus-count scalar
    "q254_ks_test",         // broadcast 1-row calendar-midpoint scalar
    "q296_hyperball_persist", // broadcast 1-row register-census scalars
    "q297_kcore")             // broadcast 1-row per-round tally scalars

  /** A session with the shape-relevant confs PINNED — the suite's shared
    * getOrCreate session picks up conf mutations from other specs (the
    * r13 incident: BucketedTableSpec's autoBroadcastJoinThreshold=-1
    * leaked in under getOrCreate and flipped q220's unhinted inequality
    * join to a CartesianProduct). Every contract test builds plans on its
    * own pinned copy. */
  private def pinnedSession(broadcastThreshold: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastThreshold)
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    s2.catalog.clearCache()
    s2
  }

  private def sweep(s2: SparkSession)(
      check: (String, String) => Seq[String]): Unit = {
    val failures = collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = try fn(s2, dir).queryExecution.executedPlan.toString
      catch { case e: Throwable => failures += s"$name: plan build failed: ${e.getMessage}"; "" }
      if (plan.nonEmpty) failures ++= check(name, plan)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every query plan: no cartesian product; bounded scan fan-out") {
    sweep(pinnedSession("10485760b")) { (name, plan) =>
      Seq(
        if (plan.contains("CartesianProduct"))
          Some(s"$name: CartesianProduct in plan") else None,
        if (!scalarBroadcastOk(name) && plan.contains("BroadcastNestedLoopJoin"))
          Some(s"$name: unexpected BroadcastNestedLoopJoin") else None,
        {
          val scans = "\\(\\d+\\) Scan parquet|Scan parquet ".r
            .findAllIn(plan).size
          if (scans > 10)
            Some(s"$name: $scans parquet scans (subtree replanning?)") else None
        }).flatten
    }
  }

  // Conf-hostility chaos sweep (r13 verdict #6): with auto-broadcast
  // DISABLED, equi-joins legitimately fall back to SMJ, but a
  // non-equi join is only safe if it carries an explicit broadcast()
  // hint — any query whose plan degrades to a CartesianProduct under
  // this conf is one session-conf away from an all-pairs corpus join
  // in production. No allowlist: hints are mandatory for such joins.
  test("hostile conf (autoBroadcastJoinThreshold=-1): still no cartesian") {
    sweep(pinnedSession("-1")) { (name, plan) =>
      if (plan.contains("CartesianProduct"))
        Seq(s"$name: CartesianProduct under autoBroadcastJoinThreshold=-1 " +
          "(non-equi join missing an explicit broadcast() hint)")
      else Nil
    }
  }

  // ---- golden plan shapes (round-8 verdict #6): the ≤10-scan cap above
  // catches catastrophe; this ratchet catches DRIFT. Every query's scan /
  // shuffle-exchange / broadcast-exchange counts are pinned to a checked-in
  // golden, so a multiplicative-replanning regression (q63 once grew
  // 1 -> 16 scans) fails CI the round it lands, not a round later.
  // Intentional plan changes regenerate the golden in the same commit
  // (tests run in a forked JVM, so use the env var, or delete the file):
  //   GRAFT_PLAN_REGEN=1 sbt -batch "testOnly graft.PlanContractSpec"

  private val shapesPath =
    s"${sys.props("user.dir")}/src/test/resources/golden/plan_shapes.tsv"

  private def shapeOf(plan: String): (Int, Int, Int) = (
    "(File)?Scan parquet".r.findAllIn(plan).size,
    // KernelRunner places its slices by partition id (repartitionById)
    "Exchange (hash|range|Single|shufflepartitionidpassthrough)".r.findAllIn(plan).size,
    "BroadcastExchange".r.findAllIn(plan).size)

  test("golden plan shapes: per-query scan and exchange counts are pinned") {
    // The CacheManager is SHARED-state: a materialized (or merely
    // registered) cache from earlier suites changes join statistics and
    // flips broadcast decisions, making shape counts depend on suite
    // order. pinnedSession starts from an empty cache — the edit-frame
    // memo re-persists on demand, so every run sees the same
    // unmaterialized registration.
    val s2 = pinnedSession("10485760b")
    val observed = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (s, e, b) = shapeOf(fn(s2, dir).queryExecution.executedPlan.toString)
      f"$name\tscans=$s\texchanges=$e\tbroadcasts=$b"
    }
    val f = new java.io.File(shapesPath)
    if (sys.env.contains("GRAFT_PLAN_REGEN") || !f.exists()) {
      java.nio.file.Files.writeString(f.toPath,
        observed.mkString("", "\n", "\n"))
      info(s"wrote ${observed.size} plan shapes to $shapesPath")
    } else {
      val golden = scala.io.Source.fromFile(f).getLines()
        .filter(_.nonEmpty).toSeq
      val goldenMap = golden.map(l => l.split("\t", 2) match {
        case Array(n, rest) => n -> rest }).toMap
      val diffs = observed.flatMap { l =>
        val Array(n, rest) = l.split("\t", 2)
        goldenMap.get(n) match {
          case None => Some(s"NEW QUERY  $l (regenerate the golden)")
          case Some(g) if g != rest => Some(s"DRIFT      $n: golden[$g] now[$rest]")
          case _ => None
        }
      } ++ goldenMap.keys.filterNot(n => observed.exists(_.startsWith(n + "\t")))
        .map(n => s"REMOVED    $n (regenerate the golden)")
      assert(diffs.isEmpty,
        ("plan shape drift — if intentional, regenerate with " +
          "GRAFT_PLAN_REGEN=1 and commit the golden:\n") +
          diffs.mkString("\n"))
    }
  }

  test("no localCheckpoint in main sources outside core/Pin.scala") {
    // Pin is the one materialization: eager by construction (a lazy
    // checkpoint fills inside whichever consumer fires first — in the
    // graph loops a broadcast-exchange thread, where the r17 Verify
    // caught an ABBA deadlock between the RDDCheckpointData lock and the
    // DAG scheduler's), and it hands Catalyst the exact size it measured.
    // Any other call site, eager or not, is banned; comments included.
    val root = java.nio.file.Paths.get(sys.props("user.dir"),
      "src", "main", "scala")
    val pin = root.resolve("graft/core/Pin.scala")
    val call = """\.localCheckpoint\s*\(""".r
    val bad = collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala") && p != pin) {
        val txt = new String(java.nio.file.Files.readAllBytes(p))
        if (call.findFirstIn(txt).nonEmpty) bad += p.toString
      }
    }
    assert(bad.isEmpty, s"raw localCheckpoint outside Pin in: $bad")
  }
}
