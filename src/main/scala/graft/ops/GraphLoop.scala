package graft.ops

import scala.collection.mutable.{ArrayBuilder, HashMap, LongMap}
import scala.reflect.ClassTag
import scala.util.chaining._

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Pin
import graft.core.Pin.Syntax

/** The one loop behind the iterative graph algorithms (PageRank and HITS
  * here; label propagation, the k-core peel and connected components in
  * [[graft.llm.Dedup]]). It owns every decision those loops share:
  *
  *  - The edge pin: ONE [[graft.core.Pin]] of the (src, dst) longs,
  *    repartitioned by `dst`, the gather key, to `defaultParallelism`
  *    (a fixed width, not AQE-coalesced: the q203 trap).
  *  - The node gate: one bounded collect (`limit(gate + 1)`) of every node
  *    with its out-degree, in-degree and mark. At or below
  *    [[DriverMaxNodes]] nodes the loop runs on the driver executor,
  *    above it on the keyed executor.
  *  - The driver executor: the state is three driver arrays (sorted ids,
  *    state `s`, invariant word `x`); ids and words are broadcast once per
  *    graph, the state once per round. Each round is ONE Spark job, a
  *    `mapPartitions` over the pinned edges against the broadcast arrays
  *    that folds the messages per gather node; the gather partitioning
  *    keeps the partitions' node sets disjoint, so the collect returns at
  *    most n pairs. The driver folds them and updates the state. Spark's
  *    cost at this size is the fixed overhead per job, not the arithmetic.
  *  - The keyed executor: the state is one sorted block per partition,
  *    hash-partitioned by node, co-partitioned with an edge copy keyed by
  *    the scatter end (one per direction a loop uses). A round is one
  *    message shuffle. It applies the one pin cadence: a table a round
  *    reads twice (its scalar, then its update) is pinned; otherwise the
  *    state is pinned every 2nd round, when the next round starts, so the
  *    final round's state is never pinned. Keyed pins are
  *    [[graft.core.Pin.fill]]s, one job each on the calling thread.
  *
  * An algorithm is written once, as its [[Round]], and both executors run
  * that round. Results leave either executor as RDD rows, never as an
  * in-plan local relation, so Catalyst sees one flat relation however
  * many rounds ran. The driver executor, which knows n, gives that
  * relation its exact size, so a consumer's join broadcasts it when it
  * fits the broadcast-join threshold; the keyed executor's keeps the
  * default statistics. */
object GraphLoop {

  /** Node-count gate of the driver executor. At or below it the ids, state
    * and invariant words are three driver arrays of n longs (2M nodes ≈
    * 48 MB); a round broadcasts the 16 MB of state. */
  val DriverMaxNodes = 2000000L

  /** Catalyst's size of one (node, s, x) result row: 8 bytes of row
    * header and three longs. */
  private val NodeRowBytes = 32L

  /** One round of a vertex program. Every edge carries `send` of its
    * scatter end's state and invariant word to its gather end (src to dst,
    * or dst to src when `reverse`); `merge` folds a node's messages
    * (`zero` is its identity and the fold of no messages); `update` gives
    * the node's next state from its state, word, fold and the round's
    * scalar, which is the exact sum of `tally` over all nodes when
    * `scalar` is set and 0 otherwise. */
  abstract class Round[M](val zero: M, val merge: (M, M) => M,
      val scalar: Boolean = false, val reverse: Boolean = false)(
      implicit val tag: ClassTag[M]) extends Serializable {
    def send(s: Long, x: Long): M
    def update(s: Long, x: Long, in: M, g: Long): Long
    def tally(s: Long, x: Long, in: M): Long = 0L
  }

  /** Sorted node ids with their state and invariant word. */
  private final case class Block(ids: Array[Long], s: Array[Long],
      x: Array[Long]) {
    def slice(lo: Int, hi: Int) =
      Block(ids.slice(lo, hi), s.slice(lo, hi), x.slice(lo, hi))
  }

  /** A pinned graph and the executor its size picked. */
  sealed abstract class Graph {
    /** The pinned (src, dst) edges, partitioned by `dst`. */
    val edges: DataFrame
    protected def sc = edges.sparkSession.sparkContext
    /** Graph nodes (ends of an edge), and marked ids in or out of it. */
    def n: Long
    def marks: Long
    /** Seeds every node's (state, word) from (id, out, in, marked). */
    def start(init: (Long, Long, Long, Boolean) => (Long, Long)): Unit
    /** Runs one round; returns its scalar. */
    def step[M](r: Round[M]): Long
    /** (node, s, x) for every graph node, as of the last round. */
    def nodes: DataFrame
  }

  /** Pins `edges` (src, dst) and picks the executor under `gate`. `marks`
    * (a `node` column) flags ids, counted also outside the graph. */
  def open(edges: DataFrame, gate: Long, marks: DataFrame = null): Graph = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(edges.sparkSession.sparkContext.defaultParallelism,
        col("dst")).pin()
    val ends = e.select(col("src").as("node"), lit(1L).as("o"),
        lit(0L).as("i"), lit(0).as("m"))
      .unionAll(e.select(col("dst"), lit(0L), lit(1L), lit(0)))
    val all = if (marks == null) ends else ends.unionAll(
      marks.select(col("node").cast("long"), lit(0L), lit(0L), lit(1)))
    val table = all.groupBy("node").agg(sum("o"), sum("i"), max("m"))
    val rows = table.limit(gate.toInt + 1).collect()
    if (rows.length > gate) new Keyed(e, table) else new OnDriver(e, rows.map(node))
  }

  /** A node-table row: (node, out-degree, in-degree, marked). */
  private type Node = (Long, Long, Long, Boolean)
  private def node(r: Row): Node =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3) == 1)
  private def inGraph(t: Node) = t._2 + t._3 > 0

  private def block(table: Array[Node],
      init: (Long, Long, Long, Boolean) => (Long, Long)): Block = {
    val g = table.filter(inGraph).sortBy(_._1)
    val sx = g.map(init.tupled)
    Block(g.map(_._1), sx.map(_._1), sx.map(_._2))
  }

  private def idx(ids: Array[Long], id: Long): Int =
    java.util.Arrays.binarySearch(ids, id)

  /** The messages of one edge partition, given as (scatter end's index
    * in state `s` and words `x`, gather key) pairs, folded per gather
    * key. */
  private def scatter[M](r: Round[M], s: Array[Long], x: Array[Long],
      each: ((Int, Long) => Unit) => Unit): Iterator[(Long, M)] = {
    val acc = LongMap.empty[M]
    each((u, c) => acc(c) = r.merge(acc.getOrElse(c, r.zero), r.send(s(u), x(u))))
    acc.iterator
  }

  /** Folds (gather key, message) pairs into one entry per node of a block
    * of `n`; `at` is a key's node index. */
  private def fold[M](r: Round[M], n: Int, msgs: Iterator[(Long, M)],
      at: Long => Int): Array[M] = {
    val in = Array.fill(n)(r.zero)(r.tag)
    msgs.foreach { case (v, m) => val i = at(v); in(i) = r.merge(in(i), m) }
    in
  }

  private def tally[M](r: Round[M], b: Block, in: Array[M]): Long =
    b.ids.indices.foldLeft(0L)((t, i) =>
      Math.addExact(t, r.tally(b.s(i), b.x(i), in(i))))

  private def update[M](r: Round[M], b: Block, in: Array[M], g: Long): Block =
    b.copy(s = Array.tabulate(b.ids.length)(i => r.update(b.s(i), b.x(i), in(i), g)))

  /** (node, s, x) rows of `blocks` as one RDD relation; `rowCount`, when
    * known, becomes its Catalyst statistics (default ones otherwise). */
  private def rows(e: DataFrame, blocks: RDD[Block],
      rowCount: Option[Long] = None): DataFrame = {
    val spark = e.sparkSession.asInstanceOf[classic.SparkSession]
    val out = Seq("node", "s", "x").map(AttributeReference(_, LongType, nullable = false)())
    Pin.relation(spark, LogicalRDD(out, blocks.flatMap(b =>
      b.ids.indices.iterator.map(i => InternalRow(b.ids(i), b.s(i), b.x(i)))))(spark),
      rowCount.map(n => (n, n * NodeRowBytes)))
  }

  private final class OnDriver(val edges: DataFrame, table: Array[Node])
      extends Graph {
    private var b: Block = _
    /** The block's ids and words, broadcast once per graph. */
    private var fixed: Broadcast[(Array[Long], Array[Long])] = _
    val n = table.count(inGraph).toLong
    val marks = table.count(_._4).toLong
    def start(init: (Long, Long, Long, Boolean) => (Long, Long)): Unit = {
      b = block(table, init)
      fixed = sc.broadcast((b.ids, b.x))
    }
    def step[M](r: Round[M]): Long = {
      implicit val tag: ClassTag[M] = r.tag
      val (sb, fb, (a, c)) = (sc.broadcast(b.s), fixed, if (r.reverse) (1, 0) else (0, 1))
      // keyed by the gather end's index, so the driver folds without search
      val parts = try edges.queryExecution.toRdd.mapPartitions { it =>
        val (ids, x) = fb.value
        Iterator.single(scatter(r, sb.value, x, f => it.foreach(row =>
          f(idx(ids, row.getLong(a)), idx(ids, row.getLong(c))))).toArray.unzip)
      }.collect() finally sb.destroy()
      val in = fold(r, b.ids.length,
        parts.iterator.flatMap { case (v, m) => v.iterator.zip(m) }, _.toInt)
      val g = if (r.scalar) tally(r, b, in) else 0L
      b = update(r, b, in, g)
      g
    }
    def nodes: DataFrame = {
      val (k, len) = (sc.defaultParallelism, b.ids.length)
      val cut = (j: Int) => (j.toLong * len / k).toInt
      rows(edges, sc.parallelize((0 until k).map(j => b.slice(cut(j), cut(j + 1))), k),
        Some(len.toLong))
    }
  }

  private[graft] final class Keyed(val edges: DataFrame, table: DataFrame)
      extends Graph {
    private val (part, kryo) =
      (new HashPartitioner(sc.defaultParallelism), new KryoSerializer(sc.getConf))
    /** Hash-partitions by node, the placement of every keyed table. */
    private def shuffle[V: ClassTag](rdd: RDD[(Long, V)]): RDD[(Long, V)] =
      new ShuffledRDD[Long, V, V](rdd, part).setSerializer(kryo)
    private val ends = shuffle(table.rdd.map(r => (r.getLong(0), node(r)))).values
      .tap(Pin.fill(_)(_.size))
    lazy val n = ends.filter(inGraph).count()
    lazy val marks = ends.filter(_._4).count()
    private val byScatter = HashMap.empty[Boolean, RDD[(Array[Int], Array[Long])]]
    private var state: RDD[Block] = _
    private var steps = 0
    private var cheap = true // the state is a map over a pinned table

    def start(init: (Long, Long, Long, Boolean) => (Long, Long)): Unit =
      state = ends.mapPartitions(it => Iterator.single(block(it.toArray, init)))

    /** The edges as (scatter end's index in its state block, gather end)
      * arrays, one pair per partition, partitioned by the scatter end and
      * pinned once per direction. */
    private def edgeBlocks(reverse: Boolean) =
      byScatter.getOrElseUpdate(reverse, {
        val (a, c) = if (reverse) (1, 0) else (0, 1)
        shuffle(edges.queryExecution.toRdd.map(row => (row.getLong(a), row.getLong(c))))
          .zipPartitions(state) { (it, bs) =>
            val ids = bs.next().ids
            val (u, d) = (new ArrayBuilder.ofInt, new ArrayBuilder.ofLong)
            it.foreach { case (x, y) => u += idx(ids, x); d += y }
            Iterator.single((u.result(), d.result()))
          }.tap(Pin.fill(_)(_.size))
      })

    def step[M](r: Round[M]): Long =
      advance(r, edgeBlocks(r.reverse).zipPartitions(state) { (es, bs) =>
        val b = bs.next()
        es.flatMap { case (u, c) => scatter(r, b.s, b.x, f => u.indices.foreach(k => f(u(k), c(k)))) }
      })

    /** The pointer jump of connected components: every node folds in, as
      * one more message, the state of the node its state names. */
    def jump(r: Round[Long]): Long = {
      val asks = state.flatMap(b => b.ids.indices.iterator.map(i => (b.s(i), b.ids(i))))
      advance(r, state.zipPartitions(shuffle(asks)) { (bs, as) =>
        val b = bs.next()
        as.map { case (t, id) => (id, b.s(idx(b.ids, t))) }
      })
    }

    private def advance[M](r: Round[M], msgs: RDD[(Long, M)]): Long = {
      implicit val tag: ClassTag[M] = r.tag
      if (!cheap && steps % 2 == 0) Pin.fill(state)(_.size)
      val joined = state.zipPartitions(shuffle(msgs)) { (bs, ms) =>
        val b = bs.next()
        Iterator.single((b, fold(r, b.ids.length, ms, idx(b.ids, _))))
      }
      // a scalar round reads `joined` twice; its tally job fills the pin
      val g = if (!r.scalar) 0L
        else Pin.fill(joined)(_.foldLeft(0L) { case (t, (b, in)) =>
          Math.addExact(t, tally(r, b, in)) }).foldLeft(0L)(Math.addExact(_, _))
      state = joined.map { case (b, in) => update(r, b, in, g) }
      steps += 1
      cheap = r.scalar
      g
    }

    def nodes: DataFrame = rows(edges, state)
  }
}
