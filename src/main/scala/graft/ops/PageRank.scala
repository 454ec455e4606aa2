package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative link analysis (PageRank, Page et al. 1999) over an edge table —
  * the graph-centrality capability a training-data pipeline uses to rank
  * interlinked sources (domain graphs, citation graphs, dedup-cluster
  * containment graphs).
  *
  * All arithmetic is SCALED 64-BIT INTEGER (ranks in units of 1e-12):
  * per-edge contribution is `rank div out_degree` (floor) and the damping
  * update is `(15·base + 85·Σcontrib) div 100` — exact integer ops with a
  * defined floor in both Spark (`div`) and DuckDB (`//`), so a fixed
  * iteration count is bit-reproducible cross-engine with NO float summation
  * order concerns (the same reason [[graft.core.Det]] exists).
  *
  * Scale shape: at or below [[BroadcastMaxNodes]] nodes the rank vector
  * lives on the driver. The edge table is pinned once, partitioned by
  * `dst`; one bounded collect brings back every node with its out-degree;
  * then each round is ONE Spark job — a `mapPartitions` over the pinned
  * edges that sums `pr(src) div deg(src)` per `dst` against the
  * broadcast rank array — and the damping update runs on the driver.
  * Spark's cost on such graphs is the fixed overhead per job, not the
  * arithmetic, and the broadcast form already built the whole rank table
  * on the driver every round, so holding it there costs no extra memory.
  * Above the gate the loop runs as keyed joins against a src-partitioned
  * edge table, rank state one narrow (node, rank) row per vertex.
  * Dangling nodes (no out-edges) leak their mass by default — the
  * standard simplification; pass `redistributeDangling = true` for the
  * textbook correction (each round the dangling nodes' summed rank is
  * split evenly across all nodes before damping — Page et al. 1999
  * §2.1's rank-sink fix). Nodes with no IN-edges stay at the teleport
  * floor. */
object PageRank {

  /** Rank scale: 1.0 == 1e12 units. */
  val SCALE = 1000000000000L

  /** Node-count gate of the driver-resident path. At or below it the ids,
    * out-degrees and ranks are three driver arrays of n longs (2M nodes ≈
    * 48 MB) and each round broadcasts the rank array (≈ 16 MB). Above it
    * (web-scale graphs) PageRank falls back to keyed joins; HITS uses the
    * same gate for its broadcast score tables. */
  val BroadcastMaxNodes = 2000000L

  /** `edges`: (src: long, dst: long), non-null ids. Duplicate edges count
    * with their multiplicity. Returns (node, rank_scaled) for every node
    * appearing as src or dst. `iters` fixed iterations of
    * r ← 0.15/N + 0.85·Σ_{u→v} r_u/deg(u).
    *
    * `seeds` (a `node` column) switches to PERSONALIZED PageRank (Page
    * et al. 1999 §6 / Haveliwala 2002, "Topic-Sensitive PageRank"): the
    * teleport mass concentrates evenly on the seed set instead of all
    * nodes — rank becomes proximity-to-the-seeds, the curation tool for
    * "expand this trusted domain/author/doc set" source discovery. The
    * per-node teleport is SCALE/|S| on seeds (|S| counts distinct seeds,
    * also those outside the graph) and 0 elsewhere; ranks initialize to
    * that teleport distribution. Not combinable with
    * `redistributeDangling` (the dangling share would have to follow
    * the teleport vector, a different integer-rounding contract than
    * q187's uniform `div n` — kept separate so both oracles stay
    * exact). */
  def run(edges: DataFrame, iters: Int = 5,
          redistributeDangling: Boolean = false,
          seeds: DataFrame = null): DataFrame =
    runGated(edges, iters, redistributeDangling, seeds, BroadcastMaxNodes)

  /** [[run]] with the node gate as a parameter, so a spec can force the
    * keyed path on a small graph. */
  private[graft] def runGated(edges: DataFrame, iters: Int,
      redistributeDangling: Boolean, seeds: DataFrame,
      nodeGate: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, "fixed small iteration count")
    require(!(redistributeDangling && seeds != null),
      "dangling redistribution and personalization are separate contracts")
    // The one pin: edges partitioned by dst at a fixed width (not
    // AQE-coalesced — the q203 trap), so each dst lives in exactly one
    // partition and a round's per-partition sums cover disjoint nodes.
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(width(edges), col("dst")).localCheckpoint()
    // One bounded collect: per node its out-degree, whether it is a graph
    // node (g) and whether it is a seed (s) — seeds outside the graph
    // still count toward |S|.
    val marks = e.select(col("src").as("node"), lit(1L).as("d"),
        lit(1).as("g"), lit(0).as("s"))
      .unionAll(e.select(col("dst"), lit(0L), lit(1), lit(0)))
    val withSeeds = if (seeds == null) marks
      else marks.unionAll(seeds.select(col("node").cast("long"), lit(0L),
        lit(0), lit(1)))
    val rows = withSeeds.groupBy("node")
      .agg(sum(col("d")), max(col("g")), max(col("s")))
      .limit(nodeGate.toInt + 1).collect()
    if (rows.length > nodeGate) keyed(e, iters, redistributeDangling, seeds)
    else onDriver(e, rows, iters, redistributeDangling, seeds != null)
  }

  private def width(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** The driver-resident loop over the pinned dst-partitioned edges and
    * the collected (node, deg, g, s) rows. */
  private def onDriver(e: DataFrame, rows: Array[Row], iters: Int,
      dangling: Boolean, personalized: Boolean): DataFrame = {
    val graph = rows.filter(_.getInt(2) == 1).sortBy(_.getLong(0))
    val ids = graph.map(_.getLong(0))
    val deg = graph.map(_.getLong(1))
    val n = ids.length
    val base = SCALE / n
    val tb = if (!personalized) Array.fill(n)(base) else {
      val nSeeds = rows.count(_.getInt(3) == 1)
      require(nSeeds > 0, "personalization needs a non-empty seed set")
      graph.map(r => if (r.getInt(3) == 1) SCALE / nSeeds else 0L)
    }
    val sinks = if (dangling) deg.indices.filter(deg(_) == 0L) else Nil
    val sc = e.sparkSession.sparkContext
    val edgeRows = e.queryExecution.toRdd
    val idsB = sc.broadcast(ids)
    val degB = sc.broadcast(deg)
    var pr = tb
    try for (_ <- 1 to iters) {
      val prB = sc.broadcast(pr)
      val in = new Array[Long](n)
      try inMass(edgeRows, idsB, degB, prB).foreach { case (ix, m) =>
        ix.indices.foreach(k => in(ix(k)) = Math.addExact(in(ix(k)), m(k)))
      } finally prB.destroy()
      // Per-node share of the dangling mass, floor-divided like the
      // contributions; exact ops fail on overflow as ANSI long math does.
      val share = sinks.foldLeft(0L)((s, i) => Math.addExact(s, pr(i))) / n
      pr = Array.tabulate(n)(i => Math.addExact(
        Math.multiplyExact(15L, tb(i)),
        Math.multiplyExact(85L, Math.addExact(in(i), share))) / 100)
    } finally { idsB.destroy(); degB.destroy() }
    // The result leaves the driver as P slices of an RDD, never as one
    // in-plan local relation.
    val P = sc.defaultParallelism
    val slices = (0 until P).map { k =>
      val (lo, hi) = ((k.toLong * n / P).toInt, ((k + 1L) * n / P).toInt)
      (ids.slice(lo, hi), pr.slice(lo, hi))
    }
    e.sparkSession.createDataFrame(
      sc.parallelize(slices, P).flatMap { case (a, r) =>
        a.indices.iterator.map(i => Row(a(i), r(i)))
      },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("rank_scaled", LongType, nullable = false))))
  }

  /** One round's only job: per partition of the dst-partitioned edges,
    * Σ pr(src) div deg(src) per dst, as (dst index, sum) arrays. The
    * partitions' dst sets are disjoint, so the collect returns at most n
    * pairs. */
  private def inMass(edges: RDD[InternalRow], ids: Broadcast[Array[Long]],
      deg: Broadcast[Array[Long]],
      pr: Broadcast[Array[Long]]): Array[(Array[Int], Array[Long])] =
    edges.mapPartitions { rows =>
      val (id, dg, r) = (ids.value, deg.value, pr.value)
      val acc = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach { row =>
        val u = java.util.Arrays.binarySearch(id, row.getLong(0))
        val v = java.util.Arrays.binarySearch(id, row.getLong(1)).toLong
        acc(v) = Math.addExact(acc.getOrElse(v, 0L), r(u) / dg(u))
      }
      val (ix, m) = (new Array[Int](acc.size), new Array[Long](acc.size))
      var k = 0
      acc.foreachEntry { (v, s) => ix(k) = v.toInt; m(k) = s; k += 1 }
      Iterator.single((ix, m))
    }.collect()

  /** The keyed-join loop for graphs over the node gate: rank, contribution
    * and node tables joined by key, never broadcast. `e0` is the pinned
    * (src, dst) edge table. */
  private def keyed(e0: DataFrame, iters: Int,
      redistributeDangling: Boolean, seeds: DataFrame): DataFrame = {
    // Pin the loop-invariant tables once and TRUNCATE THE RANK LINEAGE
    // every other round — without it Catalyst replans the whole history
    // per iteration and the source scan count grows geometrically (the
    // same reason the distributed connected-components loop rebuilds flat
    // plans). The out-degree is folded into the edge table up front: it
    // is as loop-invariant as the edges themselves, and re-joining it
    // every iteration (the textbook formulation) pays an extra shuffle
    // per round for a value that never changes. The degree-annotated copy
    // is partitioned on src, the contribution join's key (localCheckpoint
    // preserves outputPartitioning), so the groupBy(dst) is the loop's
    // edge-sized exchange.
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.count()
    val base = SCALE / n
    val e = e0
      .join(e0.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
      .repartition(width(e0), col("src")).localCheckpoint()
    // Loop-invariant dangling-node set (no out-edges), pinned once.
    val dangling = if (!redistributeDangling) null
      else nodes.join(e0.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti").localCheckpoint()
    // Personalization: the teleport base becomes a loop-invariant column
    // on the node table (SCALE/|S| on seeds, 0 elsewhere), pinned once.
    val nodesTb = if (seeds == null) null else {
      val sd = seeds.select(col("node").cast("long")).distinct()
        .localCheckpoint()
      val nSeeds = sd.count()
      require(nSeeds > 0, "personalization needs a non-empty seed set")
      nodes.join(sd.withColumn("__s", lit(1)), Seq("node"), "left")
        .select(col("node"),
          when(col("__s").isNotNull, lit(SCALE / nSeeds)).otherwise(lit(0L))
            .as("tb"))
        .localCheckpoint()
    }
    val baseSql = if (seeds == null) s"15 * ${base}L" else "15 * tb"
    var ranks =
      if (seeds == null) nodes.select(col("node"), lit(base).as("pr"))
      else nodesTb.select(col("node"), col("tb").as("pr"))
    for (it <- 1 to iters) {
      val contrib = e
        .join(ranks, col("node") === col("src"))
        .select(col("dst").as("node"), expr("pr div deg").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("in_mass"))
      // The dangling mass is one scalar per round, collected to the
      // driver from the pinned previous ranks; its per-node share is
      // floor-divided in the same scaled-integer arithmetic as the
      // contributions (exact cross-engine).
      val inMassSql =
        if (!redistributeDangling) "coalesce(in_mass, 0L)"
        else {
          val dmass = ranks.join(dangling, Seq("node"))
            .agg(coalesce(sum(col("pr")), lit(0L))).collect()(0).getLong(0)
          s"coalesce(in_mass, 0L) + ${dmass / n}L"
        }
      val next = (if (seeds == null) nodes else nodesTb)
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"($baseSql + 85 * ($inMassSql)) div 100").as("pr"))
      // EAGER truncation (r17): the lazy form let the NEXT round's
      // broadcast build be the first consumer, so the checkpoint
      // materialized ON A BROADCAST-EXCHANGE THREAD — which completes
      // holding the global RDDCheckpointData lock while wanting the
      // RDD's state lock, the exact ABBA the DAG scheduler runs in
      // the opposite order (holds state lock in getCacheLocs, wants
      // the class lock via partitions→checkpointRDD). jstack caught
      // the deadlock live in the r17 concurrent Verify. Eager keeps
      // the materialization job on THIS thread, where the window
      // cannot interleave with the scheduler.
      //
      // CHECKPOINT EVERY 2nd ROUND in the single-consumer modes (r20,
      // guide §2.4/measured gaps): each checkpoint action costs a job
      // PLUS ~30-120 ms of driver planning gaps around it, and in the
      // plain/personalized modes `ranks` is consumed exactly ONCE per
      // round (the contribution join), so letting one lazy round ride
      // into the next action duplicates no work and halves the
      // action count of the loop. The DANGLING mode reads `ranks`
      // TWICE per round (contribution join + dangling-mass collect),
      // so skipping its checkpoint would re-execute the previous
      // round's tail — it keeps the per-round pin. Lineage depth stays
      // bounded (2 rounds).
      //
      // The FINAL round is elided too (r20 session 2): the returned
      // DataFrame has exactly one downstream consumer (the caller's
      // single action), so the last odd round rides into that action
      // like any other lazy round — one fewer checkpoint job + gap,
      // no recompute, and no lazy-checkpoint deadlock window because
      // nothing is left to materialize off-thread.
      ranks =
        if (it != iters && (redistributeDangling || it % 2 == 0))
          next.localCheckpoint()
        else next
    }
    ranks.select(col("node"), col("pr").as("rank_scaled"))
  }

  /** HITS score scale: 1.0 == 1e6 units — smaller than the PageRank
    * [[SCALE]] because the normalization multiply `raw · scale` must
    * stay inside a long for raw up to Σscore·maxdeg. */
  val HitsScale = 1000000L

  /** HITS hubs and authorities (Kleinberg 1999, "Authoritative Sources
    * in a Hyperlinked Environment") over DIRECTED `edges` (src → dst):
    * per round a(v) = Σ_{u→v} h(u) then h(u) = Σ_{u→v} a(v), each side
    * L1-renormalized to total mass [[HitsScale]] by integer floor
    * division — all-integer arithmetic, so the fixed-point loop is
    * bit-identical across engines like the PageRank loop. On a
    * bipartite purchase graph the hub side ranks buyers by how much
    * authoritative supply they touch and vice versa — the
    * mutual-reinforcement view PageRank's single score collapses.
    *
    * Scale shape: ONE materialization per full iteration — the h-side
    * raw-mass table, whose single job executes both half-round edge
    * joins back-to-back with the a-side L1 normalization `(raw·S) div T`
    * folded into the consuming join's projection (floor division is
    * per-node, so evaluating it on the joined edge rows is value-
    * identical to materializing a normalized score table first). The L1
    * totals never re-run an edge join: the a-side total Σ_v raw_a(v)
    * telescopes to Σ_u h(u)·outdeg(u), a node-scale aggregate over the
    * checkpointed raw table (which carries the loop-invariant
    * out-degree as a folded-in column — no per-round degree join), and
    * the h-side total is a 1-row aggregate over the pinned raw table —
    * both ride in as broadcast 1-row scalars, never a driver sync (a
    * literal-collect variant was measured SLOWER in r15: each collect
    * is a pipeline barrier, while lazy checkpoints let the whole loop
    * schedule inside the consuming action). Measured effect of this
    * shape vs the per-half-round normalize-materialize one: the
    * q290/q153 cost ratio fell 1.60 → 1.10–1.18 across two
    * same-session A/Bs (pagerank baseline; absolute seconds are
    * machine-load-dependent, so the honest claim is the range). */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50, "fixed small iteration count")
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint()
    val P = e0.sparkSession.sparkContext.defaultParallelism
    // The edge table pins TWICE, pre-partitioned on each join key
    // (localCheckpoint preserves outputPartitioning): the a-side round
    // scans eByDst so its groupBy(dst) needs NO exchange, the h-side
    // round scans eBySrc likewise — with the score tables broadcast
    // (below), NO edge-table shuffle happens inside the loop at all.
    // Pinned partition count, not AQE-coalesced (the q203 trap).
    //
    // The loop-invariant out-degree is FOLDED INTO the src copy (r20
    // session 2, the PageRank idiom): it rides the edge rows (+8 bytes)
    // and the hub-state rows, so each round's a-side L1 total
    // (Σ h·outdeg == Σ_v raw_a(v)) is a node-scale aggregate over the
    // hub table ALONE — no per-round degree join and no per-round
    // degree-table broadcast build (measured: 1 AQE broadcast job +
    // its driver gap per round, plus the setup table's own checkpoint).
    val eBySrc = e0
      .join(e0.groupBy("src").agg(count(lit(1)).as("__deg")), Seq("src"))
      .repartition(P, col("src")).localCheckpoint()
    val eByDst = e0.repartition(P, col("dst")).localCheckpoint()
    // Node-scale score tables broadcast under the [[BroadcastMaxNodes]]
    // gate (the PageRank contract: 2M nodes ≈ 32 MB; web-scale graphs
    // fall back to keyed joins against the pre-partitioned edge copies).
    // Both broadcast tables are bounded by their own side's node count —
    // the hub table by |src|, the raw-authority table by |dst| — so the
    // gate takes the larger of the two, in one bounded-scalar job.
    val small = {
      val r = e0.agg(countDistinct(col("src")), countDistinct(col("dst")))
        .collect()(0)
      math.max(r.getLong(0), r.getLong(1)) <= BroadcastMaxNodes
    }
    def gated(df: DataFrame) = if (small) broadcast(df) else df
    // Hub state (node, h, __deg): normalized integer scores with the
    // loop-invariant out-degree alongside; seeded unnormalized at
    // HitsScale per Kleinberg's z-vector. After round 1 this is a LAZY
    // projection over the checkpointed raw table — never its own job.
    var h = eBySrc.groupBy(col("src").as("node"))
      .agg(max(col("__deg")).as("__deg"))
      .withColumn("h", lit(HitsScale)).localCheckpoint()
    var a: DataFrame = null
    for (it <- 1 to iters) {
      // Σ h·outdeg over the hub table alone (deg rides the state rows):
      // value-identical to the former h ⨝ degOut aggregate — h's node
      // set IS the src-node set every round.
      val ta = broadcast(h.agg(sum(expr("h * __deg")).as("__ta")))
      // Raw authority mass — consumed once (inside the h-side join), so
      // left unmaterialized except in the FINAL round, where it also
      // feeds the authority output and an EAGER checkpoint pins it
      // (lazy checkpoints materialize on whichever consumer fires
      // first — a broadcast thread here — and deadlock against the
      // scheduler; see the PageRank loop comment).
      val rawA0 = eByDst
        .join(gated(h.select(col("node").as("src"), col("h"))), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("__ar"))
      val rawA = if (it == iters) rawA0.localCheckpoint() else rawA0
      val rawH = eBySrc
        .join(gated(rawA.select(col("node").as("dst"), col("__ar"))),
          Seq("dst"))
        .crossJoin(ta)
        .select(col("src").as("node"), col("__deg"),
          expr(s"(__ar * $HitsScale) div __ta").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__hr"),
          max(col("__deg")).as("__deg")) // deg is per-src constant
        .localCheckpoint() // eager: the next line broadcasts over it
      val th = broadcast(rawH.agg(sum(col("__hr")).as("__th")))
      h = rawH.crossJoin(th)
        .select(col("node"), col("__deg"),
          expr(s"(__hr * $HitsScale) div __th").as("h"))
      if (it == iters)
        a = rawA.crossJoin(ta)
          .select(col("node"),
            expr(s"(__ar * $HitsScale) div __ta").as("a"))
    }
    h.select(col("node"), lit("hub").as("role"),
        col("h").as("score_scaled"))
      .unionAll(a.select(col("node"), lit("authority").as("role"),
        col("a").as("score_scaled")))
  }
}
