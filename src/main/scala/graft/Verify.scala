package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cores(), "exact")
    new java.io.File(outDir).mkdirs()
    // Optional SPARK_GRAFT_ONLY name filter for fast local iteration on
    // a few queries (tools/check.py fails on any missing dump, so the SQL
    // map is filtered too). The driver sets no environment: full run.
    val pending = Harness.selected()
    val names = pending.map(_._1)
    // Loud, unmissable marker when the filter is active: a filtered dump
    // must never be mistaken for a full verification run.
    val partial = names.size < SparkEntry.queries.size
    if (partial) {
      System.err.println(
        s"[verify] *** PARTIAL RUN: SPARK_GRAFT_ONLY=${names.mkString(",")} " +
          s"(${names.size} of ${SparkEntry.queries.size} queries) — NOT a full verification ***")
      Files.writeString(Paths.get(s"$outDir/PARTIAL_RUN.txt"),
        s"SPARK_GRAFT_ONLY=${names.mkString(",")}\n")
    } else {
      // A full run clears any stale marker: per-query dumps overwrite in
      // place, so a reused outDir is a complete verification again.
      Files.deleteIfExists(Paths.get(s"$outDir/PARTIAL_RUN.txt"))
    }
    // oracle_sql.json is written BEFORE the query dumps (r17): it used
    // to be written last, so a wedged or externally-killed run left NO
    // oracle file and the whole round's correctness read zero even
    // though most dumps were on disk. Written first, a partial run
    // still adjudicates every completed query (check.py counts the
    // missing ones as not-run).
    writeOracleJson(outDir, Option.when(partial)(names.toSet))
    // Deadlock watchdog (r17): the lazy-checkpoint ABBA (see
    // PlanContractSpec's ban) WEDGED a concurrent Verify this round —
    // main parked forever and the external kill would have zeroed the
    // correctness gate. The hazard class is fixed at the source, but if
    // any JVM-level deadlock ever recurs, print the cycle and exit
    // nonzero immediately: a loud partial dump beats an eternal hang.
    val watchdog = new Thread(() => {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      while (true) {
        Thread.sleep(60000)
        val dead = mx.findDeadlockedThreads()
        if (dead != null && dead.nonEmpty) {
          System.err.println("[verify] FATAL: JVM deadlock detected:")
          mx.getThreadInfo(dead, true, true)
            .foreach(ti => System.err.println(ti.toString))
          Runtime.getRuntime.halt(2)
        }
      }
    }, "verify-deadlock-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()
    // Dump queries CONCURRENTLY (4 submitter threads): every query is an
    // independent read-only plan over the sf tables (the one shared memo,
    // EditQueries.appliedShared, is a ConcurrentHashMap with atomic
    // compute), and Spark's scheduler interleaves jobs from multiple
    // threads fine. Rationale: the round-11 driver verify died after
    // dumping 75 of 153 queries — almost certainly an external wall-clock
    // kill — so verify wall-time is a correctness-gate liability, not
    // just a convenience. 4 submitters cut the full sf0.01 run ~2.5x
    // (sequential ~173 s) while keeping peak memory far from the heap.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      pending.map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    spark.stop()
  }

  /** oracle_sql.json for the driver's DuckDB compare. JSON string
    * escape: backslash, quote, and ALL control chars (<0x20) — a tab or
    * CR in builder-authored SQL would otherwise make the driver's
    * json.load fail and silently zero the round's correctness. */
  private def writeOracleJson(outDir: String,
      only: Option[Set[String]]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
