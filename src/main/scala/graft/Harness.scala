package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run harness the engine's mains share (Bench, Verify, ScaleProbe,
  * tools.AqeAudit): the one session set-up, the one per-query persist
  * cleanup rule, query selection, and the lower median. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, or every available processor when unset. */
  def cores(): Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session on `cores` threads. `pctlMode` is the percentile mode
    * ([[graft.ops.Quantiles.ModeConf]]): Bench runs the `approx`
    * (Greenwald–Khanna) path a production deployment would ship, while
    * the sf0.01 oracle gate needs `exact` order statistics for
    * cross-engine hash parity. */
  def session(cores: Int, pctlMode: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // static conf, default 100: the generated-class LRU is far too small
      // for a 300+-query suite — one window-heavy detector plan alone
      // compiles ~145 projections per action, so mid-suite every action
      // recompiles its whole codegen set (~15-30 ms each). This, not JIT
      // pressure, is the measured suite-context distortion mechanism
      // (round 12): q134 spent ~10 of its 14.4 s in CodeGenerator. The
      // r15 SPARK_GRAFT_DIAG census cleared the other suspect: CodeHeap
      // peaks at 176 MB of the reserved 512 MB and metaspace at 222 MB
      // across 293 queries, so the JIT code cache is not saturating.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(graft.ops.Quantiles.ModeConf, pctlMode)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a glob read logs "Assume no metadata directory" with a ~75-line
    // FileNotFoundException stack at WARN; it is the expected path
    Configurator.setLevel("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      Level.ERROR)
    spark
  }

  /** Runs `body`, then drops every persist it left behind, also when it
    * throws. clearCache drops CacheManager-registered persists (the
    * shared edit-frame memo re-persists on demand, so the next query
    * starts cold, as in isolation); the RDD loop drops localCheckpoint
    * state, which the CacheManager does not track. The loop is scoped to
    * the RDDs created inside `body`: a persist that predates it is never
    * touched. The unpersist BLOCKS: the async form returns while block
    * removal is still in flight, and a heavy query's checkpoint blocks
    * then drain during the next measurement (observed: q273 1.87x slower
    * in-suite than rerun, with q272's corpus-row checkpoint as its
    * neighbour; q59's warm median 3.8x its cold run while earlier
    * repeats' blocks stayed resident). */
  def isolated[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
    }
  }

  /** `SparkEntry.queries` narrowed to the comma-separated
    * `SPARK_GRAFT_ONLY` names when set, sorted by name. */
  def selected(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** Lower median: the middle element, the lower one of the two for an
    * even count, so a reading is always one that was measured. */
  def lowerMedian(xs: Seq[Double]): Double = xs.sorted.apply((xs.length - 1) / 2)

  /** Engine-overhead counters per measurement window: jobs, stages,
    * tasks, executor task time and GC time, shuffle bytes. Listener
    * events arrive asynchronously, so read the counters after the
    * window's work has settled. */
  final class QueryMetrics extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var taskTimeMs = 0L
    @volatile var gcTimeMs = 0L
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) {
        taskTimeMs += t.taskMetrics.executorRunTime
        gcTimeMs += t.taskMetrics.jvmGCTime
        shuffleReadB += t.taskMetrics.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += t.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0
      gcTimeMs = 0; shuffleReadB = 0; shuffleWriteB = 0 }
    override def toString: String =
      s"jobs=$jobs stages=$stages tasks=$tasks taskms=$taskTimeMs " +
        s"taskgc=${gcTimeMs}ms shR=${shuffleReadB >> 10}K shW=${shuffleWriteB >> 10}K"
  }
}
