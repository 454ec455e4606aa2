package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * Scale shape: both loops are rounds of [[GraphLoop]], which pins the
  * edge table once and, at or below its node gate, keeps the scores on
  * the driver with one Spark job per round (the keyed executor above).
  * Dangling nodes (no out-edges) leak their mass by default — the
  * standard simplification; pass `redistributeDangling = true` for the
  * textbook correction (each round the dangling nodes' summed rank is
  * split evenly across all nodes before damping — Page et al. 1999
  * §2.1's rank-sink fix). Nodes with no IN-edges stay at the teleport
  * floor. */
object PageRank {

  /** Rank scale: 1.0 == 1e12 units. */
  val SCALE = 1000000000000L

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
    runGated(edges, iters, redistributeDangling, seeds,
      GraphLoop.DriverMaxNodes)

  /** [[run]] with the node gate as a parameter, so a spec can force the
    * keyed executor on a small graph. */
  private[graft] def runGated(edges: DataFrame, iters: Int,
      redistributeDangling: Boolean, seeds: DataFrame,
      nodeGate: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, "fixed small iteration count")
    require(!(redistributeDangling && seeds != null),
      "dangling redistribution and personalization are separate contracts")
    val g = GraphLoop.open(edges, nodeGate, seeds)
    // The word x is out-degree·2 + seed bit; seeds outside the graph
    // still count toward |S|. An empty graph has no ranks to divide.
    val personal = seeds != null
    val (n, nSeeds) = (math.max(g.n, 1L), if (personal) g.marks else 0L)
    require(!personal || g.n == 0 || nSeeds > 0,
      "personalization needs a non-empty seed set")
    val tb = (x: Long) => if (!personal) SCALE / n
      else if ((x & 1) == 1) SCALE / nSeeds else 0L
    g.start((_, out, _, m) => { val x = out * 2 + (if (m) 1 else 0); (tb(x), x) })
    // Contributions floor-divide `pr div deg`; the dangling nodes' summed
    // rank (the round's scalar) is shared `div n`; exact ops fail on
    // overflow as ANSI long math does.
    val round = new GraphLoop.Round[Long](0L, Math.addExact(_, _),
        scalar = redistributeDangling) {
      def send(s: Long, x: Long) = s / (x >> 1)
      override def tally(s: Long, x: Long, in: Long) = if (x >> 1 == 0) s else 0L
      def update(s: Long, x: Long, in: Long, d: Long) = Math.addExact(
        Math.multiplyExact(15L, tb(x)),
        Math.multiplyExact(85L, Math.addExact(in, d / n))) / 100
    }
    for (_ <- 1 to iters) g.step(round)
    g.nodes.select(col("node"), col("s").as("rank_scaled"))
  }

  /** HITS score scale: 1.0 == 1e6 units — smaller than the PageRank
    * [[SCALE]] because the normalization multiply `raw · scale` must
    * stay inside a long for raw up to Σscore·maxdeg. */
  val HitsScale = 1000000L

  /** HITS hubs and authorities (Kleinberg 1999, "Authoritative Sources
    * in a Hyperlinked Environment") over DIRECTED `edges` (src → dst),
    * duplicates dropped: per round a(v) = Σ_{u→v} h(u) then h(u) =
    * Σ_{u→v} a(v), each side L1-renormalized to total mass [[HitsScale]]
    * by integer floor division — all-integer arithmetic, so the
    * fixed-point loop is bit-identical across engines like the PageRank
    * loop. On a bipartite purchase graph the hub side ranks buyers by
    * how much authoritative supply they touch and vice versa — the
    * mutual-reinforcement view PageRank's single score collapses.
    *
    * Scale shape: each half-round is one [[GraphLoop]] round whose scalar
    * is the side's L1 total, so on the driver executor a full iteration
    * is two Spark jobs over one pinned edge table. */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame =
    hitsGated(edges, iters, GraphLoop.DriverMaxNodes)

  private[graft] def hitsGated(edges: DataFrame, iters: Int,
      nodeGate: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, "fixed small iteration count")
    val g = GraphLoop.open(edges.select(col("src").cast("long"),
      col("dst").cast("long")).distinct(), nodeGate)
    // x: bit 0 marks a hub (out-edges), bit 1 an authority (in-edges);
    // hubs seed unnormalized at HitsScale per Kleinberg's z-vector.
    g.start((_, out, in, _) =>
      (HitsScale, (if (out > 0) 1L else 0L) | (if (in > 0) 2L else 0L)))
    def half(toSrc: Boolean) = new GraphLoop.Round[Long](0L,
        Math.addExact(_, _), scalar = true, reverse = toSrc) {
      def send(s: Long, x: Long) = s
      override def tally(s: Long, x: Long, in: Long) = in
      def update(s: Long, x: Long, in: Long, t: Long) =
        Math.multiplyExact(in, HitsScale) / t
    }
    // the authorities of the last round, then its hubs
    val a = (1 to iters).map { _ =>
      g.step(half(false)); val a = g.nodes; g.step(half(true)); a }.last
    def side(df: DataFrame, bit: Int, role: String) =
      df.filter(col("x").bitwiseAND(bit) =!= 0)
        .select(col("node"), lit(role).as("role"), col("s").as("score_scaled"))
    side(g.nodes, 1, "hub").unionAll(side(a, 2, "authority"))
  }
}
