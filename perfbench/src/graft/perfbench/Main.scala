package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables

/** Benchmark main: sets up a Spark session like `graft.Bench` over the
  * tables perfbench/gen.py wrote to `<work>/data`, runs the workload's op
  * list as a closed loop from one client thread for a fixed time, checks
  * every op's output, and writes the measurements to `<work>/result.json`
  * (see perfbench/README.md).
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * With `--trace 0` it reports end-to-end metrics; with `--trace 1` it
  * alternates untraced and traced passes and reports per-layer metrics,
  * the tracing overhead, and writes the spans to `<work>/trace.jsonl`. */
object Main {

  private val t0 = System.nanoTime()
  private def now(): Double = (System.nanoTime() - t0) / 1e9
  private def log(msg: String): Unit = System.err.println(f"[perfbench ${now()}%7.2f] $msg")

  private val cores = Runtime.getRuntime.availableProcessors()
  /** Warm passes a run measures at least, even past `--seconds`. The
    * output checks run every op once more between the cold and the warm
    * passes, so the warm passes start past the steepest part of the JIT
    * warm-up, and two of them fit a run in the benchmark's time budget. */
  private val MinWarmPasses = 2

  case class OpRun(op: Op, latency: Double,
      build: Double, plan: Double, exec: Double, hash: String, error: String,
      heapMb: Double, pins: Int, pinBytes: Long, buildJobs: Long,
      gapMs: Long, counters: Counters)

  case class Pass(index: Int, traced: Boolean, runs: Seq[OpRun], startMs: Long,
      endMs: Long, codegenN: Long, codegenS: Double) {
    def wall: Double = runs.map(_.latency).sum
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(graft.ops.Quantiles.ModeConf, "approx")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Order-independent hash over every output column: the action that
    * ends each timed op. Hashing all columns keeps column pruning from
    * skipping work a `count()` would skip. */
  def contentHash(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = if (named.columns.isEmpty) lit(0L) else xxhash64(named.columns.map(col).toSeq: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def readTable(s: SparkSession, dir: String, t: String): DataFrame =
    if (t == "events") Tables.events(s, dir) else Tables.table(s, dir, t)

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(x => dirBytes(x.getPath)).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
  }

  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // an exact count but a sampled reservoir: time is count x reservoir mean
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1000.0)
  }

  private def heapUsedMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a.getOrElse("trace", "0") == "1"
    val work = new java.io.File(a("work")).getAbsolutePath
    val dir = s"$work/data"
    val trace = new Trace(t0)
    trace.enabled = traceOn
    val out = new Json.Obj()
    out("workload") = wl.name; out("seed") = seed; out("trace") = traceOn
    out("cores") = cores; out("seconds") = seconds

    // the tables perfbench/gen.py wrote, one <name>.parquet directory each
    val tableNames = Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
    require(tableNames.nonEmpty, s"no input tables under $dir")
    val inputBytes = tableNames.map(t => dirBytes(s"$dir/$t.parquet")).sum
    var inputRows = 0L

    // ---- set-up: session build + warm-up + first read of the inputs ----
    // setup_s runs from the start of main, so it carries the JVM's cold
    // class loading and code warm-up as well as these three steps
    val spark = trace("setup") {
      val ts = System.nanoTime()
      val s = session(work)
      val ts1 = System.nanoTime()
      // Bench's first warm-up statement: one small job through the engine
      s.range(1 << 20).selectExpr("sum(id)").collect()
      val ts2 = System.nanoTime()
      val hashes = tableNames.map(t => t -> contentHash(readTable(s, dir, t)))
      inputRows = hashes.map(_._2.takeWhile(_ != ':').toLong).sum
      out("table_hashes") = Json.Obj(hashes: _*)
      log(f"set-up: session ${(ts1 - ts) / 1e9}%.2f warm-up ${(ts2 - ts1) / 1e9}%.2f " +
        f"read ${(System.nanoTime() - ts2) / 1e9}%.2f s")
      s
    }
    val setupS = now()
    log(f"set-up done at $setupS%.2f s")
    val sc = spark.sparkContext
    val probe = new Probe(sc)

    // a timed scan of every generated table through the core readers
    val scanS = if (!traceOn) 0.0 else trace("core.scan") {
      val ts = System.nanoTime()
      tableNames.foreach(t => contentHash(readTable(spark, dir, t)))
      (System.nanoTime() - ts) / 1e9
    }

    /** Hygiene after an op: drops its own persisted state, blocking like Bench. */
    def release(fresh: collection.Set[Int]): Unit = {
      spark.catalog.clearCache()
      fresh.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
    }

    // ---- the closed loop ----
    def runOp(op: Op, traced: Boolean): OpRun = trace("op", op.name) {
      val fn = SparkEntry.queries(op.name)
      val before = sc.getPersistentRDDs.keySet
      val c0 = if (traced) probe.snap() else Counters()
      val w0 = System.currentTimeMillis()
      val ta = System.nanoTime()
      var tb = ta; var tc = ta; var td = ta
      var buildJobs = 0L
      var hash = ""; var error = ""
      try {
        val df = trace("build", op.name)(fn(spark, dir))
        tb = System.nanoTime()
        if (traced) {
          buildJobs = (probe.snap() - c0).jobs
          trace("plan", op.name)(df.queryExecution.executedPlan)
        }
        tc = System.nanoTime()
        hash = trace("exec", op.name)(contentHash(df))
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          log(s"${op.name} FAILED: $error")
      }
      td = System.nanoTime()
      val w1 = System.currentTimeMillis()
      val c1 = if (traced) probe.snap() else Counters()
      val fresh = sc.getPersistentRDDs.keySet -- before
      val pinBytes = if (!traced) 0L else sc.getRDDStorageInfo
        .filter(i => fresh.contains(i.id)).map(i => i.memSize + i.diskSize).sum
      release(fresh)
      System.gc()
      val gap = if (traced) (w1 - w0) - probe.busyMs(w0, w1) else 0L
      OpRun(op, (td - ta) / 1e9, (tb - ta) / 1e9, (tc - tb) / 1e9,
        (td - tc) / 1e9, hash, error, heapUsedMb(), fresh.size, pinBytes,
        buildJobs, gap, c1 - c0)
    }

    val passes = ArrayBuffer[Pass]()
    val loopStart = now()
    def elapsed = now() - loopStart
    def untracedWarm = passes.drop(1).filterNot(_.traced)
    def tracedWarm = passes.filter(_.traced)
    def enough = elapsed >= seconds && untracedWarm.size >= MinWarmPasses &&
      (!traceOn || tracedWarm.nonEmpty)
    def runPass(): Unit = {
      val i = passes.size
      // trace runs: a cold untraced pass, then untraced and traced alternate
      val traced = traceOn && i >= 2 && i % 2 == 0
      if (traced) sc.addSparkListener(probe)
      trace.enabled = traced
      val w0 = System.currentTimeMillis()
      val (n0, s0) = codegen()
      val runs = trace("pass", s"$i")(wl.ops.map(op => runOp(op, traced)))
      val (n1, s1) = codegen()
      val p = Pass(i, traced, runs, w0, System.currentTimeMillis(), n1 - n0, s1 - s0)
      if (traced) sc.removeSparkListener(probe)
      trace.enabled = traceOn
      passes += p
      log(f"pass $i${if (traced) " (traced)" else ""}: ${p.wall}%.3f s " +
        runs.map(r => f"${r.op.name}=${r.latency}%.2f").mkString(" "))
    }

    // ---- output checks, outside the timed region ----
    // They run once, between the cold pass and the warm passes, so that
    // their run of every op also takes the warm passes further along the
    // JVM's JIT warm-up. Percentiles take the exact path here: the DuckDB
    // oracles compute exact order statistics, while the timed passes run
    // Bench's approx mode.
    // The kernel leg runs on the workload's recordings when it has kernel
    // ops to check, and in every traced run (on physio_long-shaped
    // recordings run.py writes to <work>/kernels when the workload has none).
    val kernels =
      if (tableNames.contains("events")) Some(new KernelLeg(spark, dir, trace))
      else if (traceOn) Some(new KernelLeg(spark, s"$work/kernels", trace))
      else None
    def checkOutputs(): Map[Op, (String, String, String)] = trace("check") {
      spark.conf.set(graft.ops.Quantiles.ModeConf, "exact")
      val before = sc.getPersistentRDDs.keySet
      kernels.foreach(_.run())
      val res = wl.ops.map(op => op -> trace("check.op", op.name) {
        val kernelCheck = kernels.flatMap(_.checks.get(op.name))
        val oracle = SparkEntry.oracleSql.get(op.name)
          .filterNot(_.contains("read_parquet(")) // golden fixtures of another input
        val (kind, detail, dump) = try {
          val df = SparkEntry.queries(op.name)(spark, dir)
          kernelCheck match {
            case Some(chk) => ("hash+kernel", chk(df).getOrElse(""), "")
            case None if oracle.isDefined =>
              val path = s"$work/out/${op.name}"
              df.write.mode("overwrite").parquet(path)
              ("hash+duckdb", "", path)
            case None => ("hash", "", "")
          }
        } catch {
          case e: Throwable => ("error", s"check run failed: ${e.getMessage}".take(300), "")
        }
        release(sc.getPersistentRDDs.keySet -- before)
        if (detail.nonEmpty) log(s"${op.name} check FAILED: $detail")
        (kind, detail, dump)
      }).toMap
      spark.conf.set(graft.ops.Quantiles.ModeConf, "approx")
      res
    }

    runPass()
    val outputChecks = checkOutputs()
    while (!enough) runPass()

    val allRuns = passes.flatMap(_.runs)
    out("ops") = wl.ops.map { op =>
      val runs = allRuns.filter(_.op == op)
      val ref = runs.find(_.error.isEmpty).map(_.hash)
      val (kind, detail, dump) = outputChecks(op)
      Json.Obj("op" -> op.name, "modules" -> op.modules, "check" -> kind,
        "runs" -> runs.size,
        "hash_failures" -> runs.count(r => r.error.nonEmpty || !ref.contains(r.hash)),
        "hash" -> ref.getOrElse(""), "error" -> detail,
        "oracle_sql" -> (if (dump.nonEmpty) SparkEntry.oracleSql(op.name) else ""),
        "output" -> dump,
        "p50_s" -> median(runs.drop(1).map(_.latency).toSeq))
    }
    out("attempted") = allRuns.size

    // ---- metrics ----
    val warm = untracedWarm
    val wallS = median(warm.map(_.wall).toSeq)
    val lat = warm.flatMap(_.runs.map(_.latency)).sorted
    // the highest percentile with at least ten samples beyond it
    val tailIdx = math.max(0, lat.size - 11)
    out("passes") = passes.map(p => Json.Obj("pass" -> p.index, "traced" -> p.traced,
      "wall_s" -> p.wall, "ops" -> p.runs.map(r => Json.Obj("op" -> r.op.name,
        "latency_s" -> r.latency, "hash" -> r.hash, "error" -> r.error))))
    out("op_samples") = lat.size
    out("op_tail_rank") = tailIdx + 1
    out("op_tail_s") = if (lat.isEmpty) Double.NaN else lat(tailIdx)
    val m = new Json.Obj()
    def metric(name: String, v: Double, unit: String): Unit =
      m(name) = Json.Obj("value" -> v, "unit" -> unit)
    if (!traceOn) {
      metric("setup_s", setupS, "s")
      metric("wall_s", wallS, "s")
      metric("first_pass_s", passes.head.wall, "s")
      metric("op_p50_s", median(lat.toSeq), "s")
      metric("rows_per_s", inputRows / wallS, "1/s")
      metric("heap_retained_mb", allRuns.map(_.heapMb).max, "MB")
    } else {
      val tp = tracedWarm.toSeq
      def per(f: Pass => Double): Double = median(tp.map(f))
      def sumC(p: Pass)(f: Counters => Double) = p.runs.map(r => f(r.counters)).sum
      val mb = 1048576.0
      metric("queries.build_s", per(_.runs.map(_.build).sum), "s")
      metric("queries.build_jobs", per(_.runs.map(_.buildJobs.toDouble).sum), "count")
      metric("queries.pins", per(_.runs.map(_.pins.toDouble).sum), "count")
      metric("queries.pin_mb", per(_.runs.map(_.pinBytes / mb).sum), "MB")
      metric("spark.plan_s", per(_.runs.map(_.plan).sum), "s")
      metric("spark.exec_s", per(_.runs.map(_.exec).sum), "s")
      metric("spark.task_s", per(p => sumC(p)(_.taskMs / 1000.0)), "s")
      metric("spark.core_util", per(p => sumC(p)(_.taskMs / 1000.0) / (p.wall * cores)), "ratio")
      metric("spark.jobs", per(p => sumC(p)(_.jobs.toDouble)), "count")
      metric("spark.stages", per(p => sumC(p)(_.stages.toDouble)), "count")
      metric("spark.tasks", per(p => sumC(p)(_.tasks.toDouble)), "count")
      metric("spark.driver_gap_s", per(_.runs.map(_.gapMs / 1000.0).sum), "s")
      metric("spark.task_skew", per(p => probe.worstSkew(p.startMs, p.endMs)), "ratio")
      metric("spark.shuffle_mb", per(p => sumC(p)(_.shuffleB / mb)), "MB")
      metric("spark.spill_mb", per(p => sumC(p)(_.spillB / mb)), "MB")
      // code generation happens when a plan is first seen: the cold pass
      metric("spark.codegen_s", passes.head.codegenS, "s")
      metric("spark.codegen_compiles", passes.head.codegenN.toDouble, "count")
      metric("core.scan_s", scanS, "s")
      metric("core.write_mb", per(p => sumC(p)(_.writeB / mb)), "MB")
      metric("core.write_per_input", per(p => sumC(p)(_.writeB.toDouble)) / inputBytes, "ratio")
      KernelLeg.Kernels.foreach { k =>
        metric(s"kernels.${k}_s", kernels.map(_.seconds(k)).getOrElse(0.0), "s")
      }
      // Times that read exactly 0 s on every run of a workload are reported
      // beside the metrics, not as metrics: a module's op latency where the
      // workload has no op of that module, and executor GC time, which
      // reads 0 on both workloads (see perfbench/README.md).
      out("module_op_s") = Json.Obj(Seq("core", "sqa", "llm", "ops", "functions", "kernels")
        .map(mod => mod -> per(_.runs.filter(_.op.modules.contains(mod)).map(_.latency).sum)): _*)
      out("gc_s") = per(p => sumC(p)(_.gcMs / 1000.0))
      val untracedS = median(untracedWarm.map(_.wall).toSeq)
      metric("trace.overhead_s", per(_.wall) - untracedS, "s")
      out("self_s") = Json.Obj(trace.selfSeconds.toSeq.sortBy(-_._2): _*)
      trace.writeJsonl(s"$work/trace.jsonl")
    }
    out("metrics") = m
    spark.stop()
    Json.write(out, s"$work/result.json")
    log(s"done: ${allRuns.size} ops run")
    // exit now: lingering non-daemon engine threads must not hold the JVM
    sys.exit(0)
  }
}
