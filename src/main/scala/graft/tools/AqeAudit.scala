package graft.tools

/** AQE audit (round-10 verdict #7, widened in r16 per round-15 verdict
  * #4): execute queries at a given SF and report whether the final
  * adaptive plans contain skew-join splits ("skew=true") or nested-loop
  * fallbacks.
  *
  * Audit population rule: ALL of `SparkEntry.queries`, by definition —
  * the earlier hand-curated "non-trivial join graph" list silently aged
  * as queries accumulated, so non-membership started to read as
  * "audited". `SPARK_GRAFT_ONLY` (comma-separated names) narrows a run
  * for targeted re-audits; a narrowed run prints a PARTIAL banner so it
  * can never pass for the full sweep. */
object AqeAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(graft.Harness.cores(), "exact")
    val pending = graft.Harness.selected()
    if (pending.size < graft.SparkEntry.queries.size) println(
      s"[aqe] *** PARTIAL AUDIT: ${pending.size} of ${graft.SparkEntry.queries.size} queries ***")
    var skewTotal = 0
    var errors = 0
    // the query's own persists are dropped after it, so a
    // checkpoint-heavy query's blocks never skew (pun intended) the
    // next one's plan
    pending.foreach { case (n, fn) => graft.Harness.isolated(spark) {
      try {
        val df = fn(spark, sfDir)
        // materialize THIS DataFrame's own adaptive execution so AQE
        // finalizes the plan we inspect. df.count() plans a SEPARATE
        // query and leaves df's AdaptiveSparkPlan in its initial state
        // — the r1..r16 audits read exactly that initial plan, where
        // `skew=true` can never appear (found by ZipfSkewSpec, whose
        // deliberately-skewed join showed no split under the count()
        // pattern and a real one under toRdd).
        df.queryExecution.toRdd.count()
        val plan = df.queryExecution.executedPlan.toString
        val skews = "skew=true".r.findAllIn(plan).size
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
        skewTotal += skews
        println(s"[aqe] $n skewSplits=$skews bnlj=$bnlj smj=$smj bhj=$bhj")
      } catch { case e: Throwable =>
        // counted, surfaced in the summary, and fatal to the exit code:
        // a query that starts crashing must shrink the sweep LOUDLY,
        // never silently (r16 ADVICE) — coverage is the audit's product.
        errors += 1
        println(s"[aqe] $n ERROR: ${e.getMessage}")
      }
    } }
    println(s"[aqe] == ${pending.size} audited (${pending.size - errors} ok, " +
      s"$errors errored), total skewSplits=$skewTotal")
    spark.stop()
    if (errors > 0) sys.exit(1)
  }
}
