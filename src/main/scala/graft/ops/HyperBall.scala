package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pin.Syntax
import graft.llm.TextOps

/** HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
  * Centralities with HyperBall", 2013): the neighborhood function N(t)
  * of a graph via per-node HyperLogLog counters of the distance-≤t
  * ball, iterated as register-max message passing along edges.
  *
  * Registers are ROWS (node, bucket, max-rho) — the same layout as
  * q139's corpus HLL — so the per-iteration cost is one |V|×64-row
  * hash aggregate plus one edge join, the merge operator is MAX (the
  * canonical mergeable-sketch shape: shards re-merge losslessly), and
  * nothing is ever all-pairs. Run here on the near-dup pair graph
  * (reference behavior: physioview has no graph ops; the dup graph is
  * the LLM-pipeline surface, cf. `llm/Dedup.dupGraphStats`), where
  * N(t) growth vs t is the standard diagnostic for template families:
  * a ball that keeps growing at t=2 means transitive near-dup chains
  * that pairwise dedup alone won't collapse.
  *
  * The audit joins each HLL ball estimate against the exact ball size
  * (iterated distinct expansion — affordable on the sparse bounded dup
  * graph; the register side is the 100 TB path). Iteration state is
  * pinned: flat lineage.
  */
object HyperBall {

  /** The 60-bit hash each node observes itself with. */
  private val selfHash = TextOps.wordHash60(concat(lit("hb:"), col("v").cast("string")))

  /** (v, bucket, m) initial registers of the `v` rows: each node observes
    * itself. */
  private def regsOf(nodes: DataFrame): DataFrame =
    Hll.registers(nodes, Seq("v"), selfHash)

  /** Both directions of every (id_a, id_b) pair as (s, d) edges. */
  private def dirEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("s"), col("id_b").as("d"))
      .unionByName(pairs.select(col("id_b").as("s"), col("id_a").as("d")))

  /** One register-propagation round: every node folds its in-neighbors'
    * registers in by MAX — the HyperBall iteration step, shared by the
    * from-scratch loop and the incremental re-merge path. */
  private def step(regs: DataFrame, edges: DataFrame): DataFrame =
    regs.unionByName(edges.join(regs, edges("s") === regs("v"))
        .select(edges("d").as("v"), regs("bucket"), regs("m")))
      .groupBy("v", "bucket").agg(max(col("m")).as("m"))

  /** Neighborhood function over `pairs` (id_a, id_b): one output row per
    * distance t = 0..iters with the mean HLL ball estimate, the mean
    * exact ball size, and the mean absolute per-node error. */
  def neighborhoodFunction(s: SparkSession, pairs: DataFrame,
      iters: Int = 2): DataFrame = {
    val edges = dirEdges(pairs).pin()
    // one register row per node: the registers are also the node set
    var regs = regsOf(edges.select(col("s").as("v"))).pin()
    var ball = regs.select(col("v"), col("v").as("u")).pin()

    def snapshot(t: Int): DataFrame = {
      val exact = ball.groupBy("v").agg(count(lit(1)).as("__c"))
      Hll.estimate(regs, Seq("v")).join(exact, Seq("v"))
        .withColumn("__err",
          round(abs(col("est") - col("__c").cast("double")), 4))
        .agg(count(lit(1)).as("n_nodes"),
          round(graft.core.Det.avgDet(col("est"), 4), 4).as("avg_est_ball"),
          round(sum(col("__c")).cast("double") / count(lit(1)), 6)
            .as("avg_exact_ball"),
          round(graft.core.Det.avgDet(col("__err"), 4), 4)
            .as("mean_abs_err"))
        .withColumn("t", lit(t.toLong))
        .select("t", "n_nodes", "avg_est_ball", "avg_exact_ball",
          "mean_abs_err")
    }

    val snaps = scala.collection.mutable.ArrayBuffer(snapshot(0))
    (1 to iters).foreach { t =>
      // Intermediate rounds pin (2 consumers each: this round's snapshot
      // + the next round); the FINAL round's regs/ball feed ONLY
      // snapshot(iters), each read once inside the caller's single
      // action — eliding their checkpoints saves 2 jobs + driver gaps
      // with zero recompute (r20 session 2, guide §2.4).
      val last = t == iters
      val regsNext = step(regs, edges)
      regs = if (last) regsNext else regsNext.pin()
      val ballNext = ball
        .unionByName(edges.join(ball, edges("s") === ball("v"))
          .select(edges("d").as("v"), ball("u")))
        .distinct()
      ball = if (last) ballNext else ballNext.pin()
      snaps += snapshot(t)
    }
    snaps.reduce(_ unionByName _)
  }

  /** The incremental-crawl register audit (q296): HLL registers are
    * max-mergeable, so a crawl can persist its t=1 ball registers after
    * batch 1, max-merge the next batch's t=1 registers when it arrives
    * (distance-1 balls decompose across edge batches: N_{E1∪E2}(v) =
    * N_E1(v) ∪ N_E2(v)), and keep iterating on the union graph — no
    * from-scratch recompute. Deeper balls do NOT decompose per batch
    * (t=2 paths cross batches), which is exactly why the re-merge point
    * is after ONE round and further rounds run on the merged state.
    *
    * `pairs` splits into two deterministic halves on a pair hash; the
    * batch-1 t=1 registers PERSIST to parquet and reload (the crawl
    * checkpoint), merge with batch 2's by register MAX, then one more
    * round on the union edges; the result is compared REGISTER-FOR-
    * REGISTER against a from-scratch t=2 run on the whole graph. Output:
    * one row — node/register counts, matches, `merge_exact`, and the
    * incremental side's mean t=2 ball estimate. */
  def incrementalRegisterAudit(s: SparkSession, pairs: DataFrame,
      persistPath: String): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b"))
      .withColumn("__batch",
        pmod(conv(substr(md5(concat(col("id_a").cast("string"), lit(":"),
          col("id_b").cast("string"))), lit(1), lit(8)), 16, 10)
          .cast("long"), lit(2L)))
    val e1 = dirEdges(p.filter(col("__batch") === 0L)).pin()
    val e2 = dirEdges(p.filter(col("__batch") === 1L)).pin()
    val eAll = e1.unionByName(e2).pin()
    def r1Of(e: DataFrame) =
      step(regsOf(e.select(col("s").as("v")).distinct()), e)
    // batch 1: t=1 registers → parquet (the crawl checkpoint)
    graft.core.Tables.writeArtifact(r1Of(e1), persistPath)
    // batch 2 arrives: reload + register-MAX merge of ITS t=1 registers,
    // then one more propagation round on the full union edge set
    val merged1 = graft.core.Tables.readStable(s, persistPath).unionByName(r1Of(e2))
      .groupBy("v", "bucket").agg(max(col("m")).as("m")).pin()
    val incr2 = step(merged1, eAll).pin()
    val direct2 = step(step(
      regsOf(eAll.select(col("s").as("v")).distinct()), eAll), eAll)
    val cmp = incr2.select(col("v"), col("bucket"), col("m").as("__mi"))
      .join(direct2.select(col("v"), col("bucket"), col("m").as("__md")),
        Seq("v", "bucket"), "full")
      .agg(sum(when(col("__md").isNotNull, 1L).otherwise(0L))
          .as("n_registers"),
        sum(when(col("__mi") <=> col("__md"), 1L).otherwise(0L))
          .as("n_eq_registers"),
        sum(when(col("__mi").isNotNull, 1L).otherwise(0L)).as("__n_incr"))
    cmp.crossJoin(broadcast(Hll.estimate(incr2, Seq("v"))
        .agg(count(lit(1)).as("n_nodes"),
          round(graft.core.Det.avgDet(col("est"), 4), 4).as("avg_est_t2"))))
      .select(col("n_nodes"), col("n_registers"), col("n_eq_registers"),
        (col("n_eq_registers") === col("n_registers") &&
          col("__n_incr") === col("n_registers")).as("merge_exact"),
        col("avg_est_t2"))
  }
}
