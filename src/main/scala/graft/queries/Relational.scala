package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Pin.Syntax
import graft.core.{Det, Tables}
import graft.ops.{AsofJoin, Hll, Quantiles}

/** Relational operator suite over the driver tables — each entry implements
  * one declared query class from SURVEY §5.2 / BASELINE.md and has a
  * DuckDB-equivalent oracle in [[oracleSql]]. The `events` table plays the
  * role of the reference's sample-clock signal frames (user_id ↔ subject,
  * ts ↔ sample clock, value ↔ signal).
  */
object Relational {

  private val HOUR_US = 3600000000L
  private val MIN_US = 60000000L
  private val DAY_US = 86400000000L

  /** (z_{0.025} + z_{0.2})² for q280's power formula — computed once in
    * Scala and injected as the SAME double literal into the Spark plan
    * and the DuckDB oracle (no transcendental inside either query). */
  private lazy val AbPowerZSum2: Double = {
    val za = 1.959963984540054 // Φ⁻¹(0.975)
    val zb = 0.8416212335729143 // Φ⁻¹(0.8)
    (za + zb) * (za + zb)
  }

  /** Poisson(1) CDF breakpoints for k = 0..6, pre-scaled onto the 2^60
    * hash grid so q271's weight draw is an integer comparison — the SAME
    * long literals are injected into the Spark plan and the DuckDB
    * oracle, so no transcendental is ever evaluated inside a query. */
  private lazy val poissonThr60: Seq[Long] = {
    var p = math.exp(-1.0)
    var acc = 0.0
    (0 to 6).map { k =>
      acc += p; p = p / (k + 1)
      (acc * math.pow(2.0, 60)).toLong
    }
  }

  /** Window partitioned by user ordered by the sample clock — the engine's
    * `W(p)` (SURVEY §2 legend). Deterministic tie-break on event_id. */
  private def wUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))

  /** q206's sequence patterns — shared by the Spark body, the oracle,
    * and the streaming twin (plain regex, identical semantics in Java
    * regex and RE2). */
  private[graft] val SeqPats: Seq[(String, String)] = Seq(
    "view_then_purchase" -> "(^|>)view>(.*>)?purchase(>|$)",
    "ends_in_error" -> "(^|>)error$",
    "signup_first" -> "^signup(>|$)")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: fixed-bucket segmentation group-agg (SQA.get_artifacts analog,
    // reference pipeline/SQA.py:237-277).
    "q01_seg_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"), expr(s"ts_us div $HOUR_US").as("seg"))
        .agg(
          count(lit(1)).as("n"),
          Det.sumDet(col("value")).as("sum_value"),
          min(col("ts_us")).as("first_us"))
    }),

    // A4: sliding/rolling aggregation via a range frame (SQA.compute_metrics
    // rolling path, reference pipeline/SQA.py:115-175).
    "q02_rolling_range" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-HOUR_US, 0)
      ev.select(
        col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast(DecimalType(24, 4))).over(w).cast("double").as("sum_1h"))
    }),

    // W1: lag-diff interval derivation (compute_ibis, reference
    // physioview.py:977-1020).
    "q03_lag_diff" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(
        col("event_id"),
        ((col("ts_us") - lag(col("ts_us"), 1).over(wUser)).cast("double") / 1000.0).as("ibi_ms"))
    }),

    // W4: frame-bounded exact median over the 6 preceding rows (Hegarty
    // rolling median, reference pipeline/SQA.py:364-378).
    "q04_rolling_median" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = wUser.rowsBetween(-6, -1)
      ev.select(
        col("event_id"),
        round(percentile(col("value"), lit(0.5)).over(w), 4).as("med6"))
    }),

    // W6: carry-forward last valid + leading backfill (last_valid_hr
    // propagation, reference pipeline/SQA.py:576-628).
    "q05_carry_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val vNN = when(col("event_type") =!= "error", col("value"))
      val wB = wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = wUser.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ev.select(
        col("event_id"),
        coalesce(
          last(vNN, ignoreNulls = true).over(wB),
          first(vNN, ignoreNulls = true).over(wF)).as("filled_v"))
    }),

    // W12: windowed dedupe keep-last (drop_duplicates(keep='last'),
    // reference physioview.py:1754-1755).
    "q06_dedupe_keep_last" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy(col("user_id"), expr(s"ts_us div $MIN_US"))
        .orderBy(col("event_id").desc)
      ev.withColumn("minute", expr(s"ts_us div $MIN_US"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("user_id", "minute", "event_id", "value")
    }),

    // J1/J2: as-of nearest join with tolerance (merge_asof nearest,
    // reference physioview.py:288-303, 1748-1758).
    "q07_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id").as("view_event_id"))
      AsofJoin.join(
        purchases, views,
        keys = Seq("user_id"), leftT = "ts_us", rightT = "ts_us",
        rightCols = Seq("view_event_id" -> "view_event_id"),
        tolerance = Some(HOUR_US), direction = "nearest")
        .withColumn("dist_us",
          abs(col("ts_us") - col("ts_us_matched")))
        .select("event_id", "user_id", "view_event_id", "dist_us")
    }),

    // J5/J7: multi-table equi-join + group agg (metrics joins, reference
    // pipeline/SQA.py:184-191; physioview.py:315-316).
    "q08_join_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(24, 8))).cast("double").as("revenue"))
    }),

    // J9/U2: anti-membership (np.isin negation, reference
    // physioview.py:300-303).
    "q09_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // A12: value-counts pivot to wide columns (flag summary, reference
    // pipeline/SQA.py:1504-1508).
    "q10_pivot" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
    }),

    // A9: exact percentiles / IQR / quartile deviation (reference
    // pipeline/SQA.py:1738-1749).
    // Threshold percentiles route through ops.Quantiles: exact (the
    // oracle's quantile_cont) by default; spark.graft.percentile.mode=
    // approx swaps in the bounded-memory sketch for 100 TB group
    // cardinalities (memory bound pinned in Quantiles' scaladoc).
    "q11_percentiles" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy("event_type")
        .agg(
          round(Quantiles.pct(s, col("value"), 0.25), 4).as("q1"),
          round(Quantiles.pct(s, col("value"), 0.75), 4).as("q3"))
        .withColumn("iqr", round(col("q3") - col("q1"), 4))
        .withColumn("qd", round((col("q3") - col("q1")) / 2.0, 4))
    }),

    // A10: conditional masked mean (tonic SCL excluding SCR intervals,
    // reference pipeline/EDA.py:311-415).
    "q12_masked_mean" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val masked = when(col("event_type") =!= "error", col("value"))
      ev.groupBy("user_id")
        .agg((sum(masked.cast(DecimalType(24, 4))).cast("double") / count(masked))
          .as("masked_mean"))
    }),

    // W13: boolean dilation as window max over a ± range (invalid-mask
    // spread, reference pipeline/SQA.py:2260-2275).
    "q13_dilation" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-300L * 1000000L, 300L * 1000000L)
      ev.select(
        col("event_id"),
        max(when(col("event_type") === "error", 1).otherwise(0)).over(w).as("dilated"))
    }),

    // W15: run detection (gaps-and-islands; unusable-run ends, reference
    // dashboard/callbacks.py:2464-2478).
    "q14_runs" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val boundary = when(
        lag(col("event_type"), 1).over(wUser).isNull ||
          lag(col("event_type"), 1).over(wUser) =!= col("event_type"), 1).otherwise(0)
      ev.withColumn("__b", boundary)
        .withColumn("run_id",
          sum(col("__b")).over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "run_id")
        .agg(
          min(col("event_type")).as("event_type"),
          count(lit(1)).as("n"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
    }),

    // A6: per-window min-max normalization then exact sum (normalized AUC,
    // reference pipeline/ACC.py:100-118, 249-262).
    "q15_window_norm" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val wg = Window.partitionBy(col("user_id"), expr(s"ts_us div $DAY_US"))
      val mn = min(col("value")).over(wg)
      val mx = max(col("value")).over(wg)
      val norm = when(mx > mn, (col("value") - mn) / (mx - mn))
      ev.withColumn("day", expr(s"ts_us div $DAY_US"))
        .withColumn("__norm", round(norm, 6))
        .groupBy("user_id", "day")
        .agg(sum(col("__norm").cast(DecimalType(18, 6))).cast("double").as("sum_norm"))
    }),

    // Robust outlier detection via median absolute deviation (the
    // Hampel-identifier counterpart of the reference's IQR spread checks,
    // pipeline/SQA.py quartile deviation family): per event_type, exact
    // median, exact MAD, and the count of values beyond 3 sigma-equivalents
    // (|x - med| > 3 * 1.4826 * mad). The med/mad tables are
    // group-cardinality-sized, so both re-joins broadcast; the value rows
    // shuffle once per aggregate on the narrow type key.
    "q126_mad_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val med = ev.groupBy("event_type")
        .agg(Quantiles.pct(s, col("value"), 0.5).as("__med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("__absdev", abs(col("value") - col("__med")))
      val mad = dev.groupBy("event_type")
        .agg(Quantiles.pct(s, col("__absdev"), 0.5).as("__mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__absdev") > col("__mad") * 4.4478, 1L).otherwise(0L))
            .as("n_outliers"),
          round(max(col("__med")), 4).as("med"),
          round(max(col("__mad")), 4).as("mad"))
    }),

    // O4: deterministic arg-max per group (window-max beat pick, reference
    // pipeline/ECG.py:612-649).
    "q16_argmax" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val w = Window.partitionBy("n_name").orderBy(col("c_acctbal").desc, col("c_custkey"))
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("n_name", "c_custkey", "c_name", "c_acctbal")
    }),

    // Gap-based sessionization: the canonical event-stream segmentation
    // at scale — lag + running sum inside ONE per-user sort window (the
    // same exchange the reference's per-subject signal chains reuse),
    // then a per-session aggregate. 30-minute inactivity gap.
    "q141_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val gap = 30L * MIN_US
      val sess = ev
        .withColumn("__prev", lag(col("ts_us"), 1).over(wUser))
        .withColumn("__new",
          when(col("__prev").isNull || col("ts_us") - col("__prev") > gap, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("__new")).over(wUser))
      sess.groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"),
          max("ts_us").as("end_us"),
          countDistinct("event_type").as("n_types"),
          sum(col("value").cast(DecimalType(24, 8))).cast("double").as("sum_value"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
    }),

    // Trailing-7-day distinct active users per observed day. Scale shape:
    // distinct (day, user) first (collapses the raw stream map-side),
    // then a bounded explode of exactly 7 covering days per pair — never
    // a range join — and a semi-join against the tiny observed-day dim
    // before the final count-distinct shuffle.
    "q142_active_users" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val ud = ev.select(expr(s"ts_us div $DAY_US").as("day"), col("user_id"))
        .distinct()
      val obsDays = ud.select("day").distinct()
      ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + lit(6))).as("day"))
        .join(broadcast(obsDays), Seq("day"), "leftsemi")
        .groupBy("day")
        .agg(countDistinct("user_id").as("active_7d"))
    }),

    // Weekly cohort retention: cohort = a user's first active week;
    // count distinct users per (cohort_week, week_offset). Two shuffles —
    // the (user, week) distinct and the user-keyed cohort join (Catalyst
    // reuses the user-side exchange) — then the small cohort-grid agg.
    "q143_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val uw = ev.select(col("user_id"),
        expr(s"ts_us div ${7L * DAY_US}").as("week")).distinct()
      val cohort = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
      uw.join(cohort, Seq("user_id"))
        .withColumn("week_offset", col("week") - col("cohort_week"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
    }),

    // Ordered conversion funnel signup → view → click → purchase: a user
    // converts stage k only via a stage-k event STRICTLY AFTER their
    // stage-(k-1) conversion instant. Four chained min-aggregations all
    // keyed on user_id — Catalyst reuses the user-hash exchange down the
    // chain, and each stage's input is filter-pruned at the scan, so the
    // funnel costs one pass over the stream however long the stage list.
    "q151_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def firstAfter(stage: String, prev: DataFrame, prevCol: String,
          outCol: String): DataFrame =
        ev.filter(col("event_type") === stage)
          .join(prev, Seq("user_id"))
          .filter(col("ts_us") > col(prevCol))
          .groupBy("user_id").agg(min("ts_us").as(outCol))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val s2 = firstAfter("view", s1, "t1", "t2")
      val s3 = firstAfter("click", s2, "t2", "t3")
      val s4 = firstAfter("purchase", s3, "t3", "t4")
      def row(df: DataFrame, i: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i).as("stage"), lit(name).as("event_type"),
            col("n_users"))
      row(s1, 1, "signup").unionAll(row(s2, 2, "view"))
        .unionAll(row(s3, 3, "click")).unionAll(row(s4, 4, "purchase"))
    }),

    // Iterative link analysis: 5 PageRank iterations over the
    // customer↔supplier bipartite order graph (edges both directions from
    // orders⋈lineitem), in the scaled-integer arithmetic of
    // [[graft.ops.PageRank]] — exact cross-engine parity with DuckDB's
    // unrolled-CTE mirror, no float summation order anywhere.
    "q153_pagerank" -> ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val cs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val edges = cs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(cs.select(col("s").as("src"), col("c").as("dst")))
      graft.ops.PageRank.run(edges, iters = 5)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          col("rank_scaled"))
    }),

    // Personalized PageRank (Haveliwala 2002): teleport mass concentrated
    // on a 50-customer seed set — rank becomes proximity-to-the-seeds on
    // the bipartite order graph, the "expand this trusted set" curation
    // primitive. Same scaled-integer loop as q153; the teleport is a
    // loop-invariant column on the node table.
    "q193_ppr" -> ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val cs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val edges = cs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(cs.select(col("s").as("src"), col("c").as("dst")))
      val seeds = cs.select(col("c").as("node")).filter(col("node") <= 100)
      graft.ops.PageRank.run(edges, iters = 5, seeds = seeds)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          col("rank_scaled"))
    }),

    // Dangling-mass-corrected PageRank (Page et al. 1999 §2.1's rank-sink
    // fix) on the DIRECTED customer→supplier order graph: suppliers have
    // no out-edges, so without the correction ~half the graph's rank mass
    // leaks every round. Each iteration folds the dangling nodes' summed
    // rank back in as an even per-node share — carried as a broadcast
    // 1-row cross join in [[graft.ops.PageRank]], never a driver sync.
    "q187_pagerank_dangling" -> ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val cs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val edges = cs.select(col("c").as("src"), col("s").as("dst"))
      graft.ops.PageRank.run(edges, iters = 5, redistributeDangling = true)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          col("rank_scaled"))
    }),

    // A/B experiment readout: users hash-split 50/50 (same md5-bucket
    // family as q144's holdout), then per event_type the two arms'
    // counts, means, and the Welch t statistic. One pass over the
    // stream into a (type, variant) aggregate — means/variances come
    // from exact decimal Σx and Σx² partials (order-independent), the
    // t arithmetic runs once per type on exact operands in a fixed
    // expression order, so the statistic is bit-identical cross-engine.
    "q156_ab_metrics" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val isA = conv(substring(md5(col("user_id").cast("string")), 1, 8),
        16, 10).cast("long") % 2 === 0
      // single-scan conditional pivot: one events pass, one shuffle on
      // event_type — never a per-arm re-aggregation
      def armAggs(arm: String, cond: Column) = Seq(
        count(when(cond, 1)).as(s"n_$arm"),
        sum(when(cond, col("value")).cast(DecimalType(24, 4)))
          .cast("double").as(s"s1$arm"),
        sum(when(cond, col("value") * col("value")).cast(DecimalType(38, 8)))
          .cast("double").as(s"s2$arm"))
      val aggs = armAggs("A", isA) ++ armAggs("B", !isA)
      val j = ev.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      val meanA = col("s1A") / col("n_A")
      val meanB = col("s1B") / col("n_B")
      val varA = (col("s2A") - col("s1A") * col("s1A") / col("n_A")) /
        (col("n_A") - 1)
      val varB = (col("s2B") - col("s1B") * col("s1B") / col("n_B")) /
        (col("n_B") - 1)
      // Welch guarded to n>1 on BOTH arms: a 1-event arm's variance term
      // divides by zero, where Spark (non-ANSI NULL) and DuckDB (IEEE
      // inf/nan) disagree — the guard makes the degenerate case an
      // explicit NULL on both engines.
      j.select(col("event_type"), col("n_A"), col("n_B"),
        round(meanA, 6).as("mean_a"), round(meanB, 6).as("mean_b"),
        round(meanB - meanA, 6).as("uplift"),
        when(col("n_A") > 1 && col("n_B") > 1,
          round((meanB - meanA) /
            sqrt(varA / col("n_A") + varB / col("n_B")), 6)).as("welch_t"))
    }),

    // Slowly-changing-state enrichment: every view/click event carries
    // the user's purchase state AS OF that instant (count + exact spend
    // so far) — the warehouse SCD-2 / point-in-time join, expressed with
    // the engine's single-pass union+window as-of core (J1/J2): one
    // shuffle on user_id, no range-join explosion, linear per key.
    "q157_scd2_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val wCum = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dim = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("pts"),
          count(lit(1)).over(wCum).as("cum_n"),
          sum(col("value").cast(DecimalType(24, 4))).over(wCum)
            .cast("double").as("cum_spend"))
      val fact = ev.filter(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"))
      AsofJoin.join(fact, dim, keys = Seq("user_id"),
        leftT = "ts_us", rightT = "pts",
        rightCols = Seq("cum_n" -> "purchases_so_far",
          "cum_spend" -> "spend_so_far"),
        direction = "backward")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"),
          coalesce(col("purchases_so_far"), lit(0L)).as("purchases_so_far"),
          coalesce(col("spend_so_far"), lit(0.0d)).as("spend_so_far"))
    }),

    // Trailing-3-hour trending event types, top 3 per observed hour. Same
    // bounded-explode shape as q142: hourly (type, count) partials fan
    // out to exactly the 3 covering hours (map-side combine, never a
    // range join), then a per-hour rank over the BOUNDED type set.
    "q158_trending" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hc = ev.groupBy(expr(s"ts_us div $HOUR_US").as("hour"),
        col("event_type")).agg(count(lit(1)).as("__n"))
      val hours = hc.select("hour").distinct()
      hc.select(explode(sequence(col("hour"), col("hour") + 2)).as("hour"),
        col("event_type"), col("__n"))
        .join(hours, Seq("hour"), "left_semi")
        .groupBy("hour", "event_type").agg(sum("__n").as("n_events"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("hour")
            .orderBy(col("n_events").desc, col("event_type"))))
        .filter(col("rnk") <= 3)
        .select(col("hour"), col("rnk").cast("long"), col("event_type"),
          col("n_events"))
    }),

    // Column-profile audit (the warehouse `PROFILE` op): per numeric
    // column of lineitem — row/null/distinct counts, min/max, exact sum.
    // Melt-then-aggregate: ONE table scan, a bounded ×4 explode, and a
    // single aggregation keyed by column name (one exact distinct per
    // group — never the multi-distinct Expand blow-up).
    "q162_profile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      li.select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"), col(c).as("v"))): _*)).as("kv"))
        .select(col("kv.col_name").as("col_name"), col("kv.v").as("v"))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("v"))).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          Det.sumDet(col("v")).as("sum_v"))
    }),

    // Rolling z-score anomaly flags per user: trailing-20-event mean/std
    // from exact decimal Σx/Σx² window partials (order-independent), z in
    // double with a fixed expression order, |z| > 3 flagged. One exchange
    // on user_id; the window is a bounded ROWS frame, so state per key is
    // 20 rows however long the stream.
    "q165_anomaly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id")).rowsBetween(-19, 0)
      val n = count(lit(1)).over(w)
      val s1 = sum(col("value").cast(DecimalType(24, 4))).over(w)
        .cast("double")
      val s2 = sum((col("value") * col("value")).cast(DecimalType(38, 8)))
        .over(w).cast("double")
      ev.select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
          n.as("n_win"), (s1 / n).as("__m"),
          ((s2 - s1 * s1 / n) / (n - 1)).as("__v"))
        .filter(col("n_win") >= 10 && col("__v") > 0)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
          col("n_win"),
          round((col("value") - col("__m")) / sqrt(col("__v")), 6).as("z"),
          (abs((col("value") - col("__m")) / sqrt(col("__v"))) > 3.0)
            .as("is_anomaly"))
    }),

    // OLAP cube: counts + exact decimal sums over every subset of
    // (returnflag, linestatus) — grand total, both rollups, and the
    // detail cells in ONE pass (Catalyst expands the grouping sets;
    // partial aggregation still collapses map-side).
    "q167_cube" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          Det.sumDet(col("l_quantity")).as("sum_qty"),
          Det.sumDet(col("l_extendedprice")).as("sum_price"))
    }),

    // Mergeable-sketch rollup: DAILY HyperLogLog registers of distinct
    // users (the persisted per-partition artifact at scale), weekly
    // report = per-register MAX across the week's daily sketches — the
    // property that lets a 100 TB pipeline answer "distinct over any
    // date range" without rescanning raw data. Same m=64 / 60-bit-hash
    // arithmetic as q139, exact weekly distinct carried for the accuracy
    // report.
    "q168_hll_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val h = graft.llm.TextOps.wordHash60(concat(lit("u:"), col("user_id").cast("string")))
      val base = ev
        .select(expr(s"ts_us div $DAY_US").as("day"), col("user_id"))
        .withColumn("week", expr("day div 7"))
      val daily = Hll.registers(base, Seq("week", "day"), h)
      val weekly = daily.groupBy("week", "bucket").agg(max("m").as("m"))
      val est = Hll.estimate(weekly, Seq("week"))
      val exact = base.groupBy("week")
        .agg(countDistinct(col("user_id")).as("n_users_exact"),
          countDistinct(col("day")).as("n_days"))
      est.join(exact, Seq("week"))
        .select(col("week"), col("n_days"), col("n_users_exact"), col("zeros"),
          col("est").as("est_distinct"))
    }),

    // New-vs-returning split per day: an event is "new" iff its user's
    // FIRST-EVER day is that day. One user-keyed min aggregate
    // broadcast back onto the daily rollup — the standard growth
    // decomposition.
    "q185_new_vs_returning" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val withDay = ev.select(col("user_id"),
        expr(s"ts_us div $DAY_US").as("day"))
      val firstDay = withDay.groupBy("user_id")
        .agg(min("day").as("first_day"))
      withDay.join(firstDay, Seq("user_id"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Star-schema dimension rollup: revenue by (region, nation,
    // mktsegment) through the customer→nation→region chain — the fact
    // table shuffles once for the orders join; all three dimension hops
    // are broadcasts.
    "q186_star_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"),
          col("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(24, 8))).cast("double").as("revenue"))
    }),

    // Autocorrelation of the hourly event-count series at lags 1..24 —
    // the seasonality-strength diagnostic (a 24h cycle shows as an ACF
    // peak at lag 24). The series is the BOUNDED hourly aggregate, never
    // the raw stream; each lag's Pearson r comes from exact integer
    // sums (pair products stay far inside Long), with the one float
    // division/sqrt in a fixed order. Bounded ×24 explode + equi-join on
    // the lagged hour.
    "q184_hourly_acf" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hc = ev.groupBy(expr(s"ts_us div $HOUR_US").as("h"))
        .agg(count(lit(1)).as("y"))
      val lagged = hc.select(col("h").as("h2"), col("y").as("y2"))
      val pairs = hc
        .select(col("h"), col("y"),
          explode(sequence(lit(1), lit(24))).as("k"))
        .withColumn("k", col("k").cast("long"))
        .withColumn("h2", col("h") + col("k"))
        .join(lagged, Seq("h2"))
      val agg = pairs.groupBy("k").agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("sx"), sum(col("y2")).as("sy"),
        sum(col("y") * col("y2")).as("sxy"),
        sum(col("y") * col("y")).as("sxx"),
        sum(col("y2") * col("y2")).as("syy"))
      agg.select(col("k").as("lag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
          6).as("acf"))
    }),

    // Calendar seasonality heatmap: activity by (day-of-week,
    // hour-of-day) per event_type, all in integer epoch math (epoch day
    // 0 = Thursday → dow = (day + 4) % 7 with 0 = Sunday) so both
    // engines derive identical buckets with no timezone/calendar
    // library in the loop. One map-side-combinable aggregate.
    "q183_seasonality" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("event_type"),
          (expr(s"(ts_us div $DAY_US + 4) % 7")).as("dow"),
          (expr(s"(ts_us div $HOUR_US) % 24")).as("hour_of_day"))
        .agg(count(lit(1)).as("n"),
          Det.sumDet(col("value")).as("sum_value"))
    }),

    // Week-over-week churn: of the users active in week w, how many
    // never appear in week w+1. Distinct (user, week) collapses
    // map-side; the churn check is a self anti-pattern expressed as a
    // LEFT join on (user, week+1) — two exchanges total, no windows.
    // The last observed week has no successor and is excluded.
    "q181_churn" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val uw = ev.select(col("user_id"),
        expr(s"ts_us div ${7L * DAY_US}").as("week")).distinct()
      val nxt = uw.select(col("user_id"), (col("week") - 1).as("week"),
        lit(1L).as("__next"))
      val maxW = uw.agg(max("week").as("max_week"))
      uw.join(nxt, Seq("user_id", "week"), "left")
        .crossJoin(broadcast(maxW))
        .filter(col("week") < col("max_week"))
        .groupBy("week")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("__next").isNull, 1L).otherwise(0L)).as("n_churned"),
          round(sum(when(col("__next").isNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("churn_rate"))
    }),

    // Inter-arrival burstiness per event type: each user's per-type gap
    // stream (one user-keyed window exchange), then the coefficient of
    // variation from EXACT decimal Σgap/Σgap² partials — CV ≈ 1 is
    // Poisson, > 1 is bursty. The monitoring companion to q165.
    "q182_burstiness" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts_us"), col("event_id"))
      val gaps = ev
        .withColumn("__gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("__gap").isNotNull)
      val s1 = sum(col("__gap").cast(DecimalType(38, 0))).cast("double")
      // square in DECIMAL, not long: a 30-day µs gap squares to ~7e24,
      // far past Long range
      val s2 = sum(col("__gap").cast(DecimalType(19, 0)) *
        col("__gap").cast(DecimalType(19, 0))).cast("double")
      val n = count(lit(1))
      gaps.groupBy("event_type")
        .agg(n.as("n_gaps"),
          round(s1 / n, 6).as("mean_gap_us"),
          round(sqrt((s2 - s1 * s1 / n) / (n - 1)) / (s1 / n), 6).as("cv"))
    }),

    // Per-type OLS trend of value on the epoch-day clock: slope/intercept/
    // r² in closed form from ONE map-side-combined aggregate of exact
    // partials (Σt, Σt² as longs — day granularity keeps Σt² < 2^53 so
    // every long→double cast is exact; Σv, Σv², Σtv in lossless decimal).
    // The monitoring answer to "is this source's quality drifting?" — no
    // window, no second pass, shuffle is one collapsed row per type.
    "q213_value_trend" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val d = ev.select(col("event_type"),
        expr(s"ts_us div $DAY_US").as("t"), col("value"))
      val n = count(lit(1))
      val st = sum(col("t")).cast("double")
      val stt = sum(col("t") * col("t")).cast("double")
      val sv = sum(col("value").cast(DecimalType(24, 4))).cast("double")
      val svv = sum((col("value") * col("value")).cast(DecimalType(38, 8)))
        .cast("double")
      // t < 10^6 days: Decimal(6,0) keeps the product at (31,4) — inside
      // 38 digits on BOTH engines, so no precision-loss rescaling applies
      val stv = sum(col("t").cast(DecimalType(6, 0)) *
        col("value").cast(DecimalType(24, 4))).cast("double")
      d.groupBy("event_type")
        .agg(n.as("n"), st.as("__st"), stt.as("__stt"), sv.as("__sv"),
          svv.as("__svv"), stv.as("__stv"))
        .withColumn("__dent", col("n") * col("__stt") - col("__st") * col("__st"))
        .withColumn("__denv", col("n") * col("__svv") - col("__sv") * col("__sv"))
        .withColumn("__num", col("n") * col("__stv") - col("__st") * col("__sv"))
        .select(col("event_type"), col("n"),
          round(when(col("__dent") > 0, col("__num") / col("__dent")), 6)
            .as("slope_per_day"),
          round(when(col("__dent") > 0,
            (col("__sv") - col("__num") / col("__dent") * col("__st")) / col("n")), 6)
            .as("intercept"),
          round(when(col("__dent") > 0 && col("__denv") > 0,
            col("__num") * col("__num") / (col("__dent") * col("__denv"))), 6)
            .as("r2"))
    }),

    // Exponential time-decay engagement score per user (half-life style
    // recency weighting, τ = 7 days, anchored at the corpus max clock —
    // a broadcast scalar, so the whole query is one scan + one groupBy).
    // Each term is ROUNDED to 8 dp BY DEFINITION and summed exactly in
    // decimal (order-independent → cross-engine hash-stable despite the
    // transcendental).
    "q214_decay_engagement" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val mx = ev.agg(max("ts_us").as("__mx"))
      ev.crossJoin(broadcast(mx))
        .withColumn("__term", round(
          exp((col("ts_us") - col("__mx")).cast("double") /
            lit(7.0 * DAY_US)), 8))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(Det.sumDet(col("__term"), 8), 6).as("decay_score"),
          max("ts_us").as("last_seen_us"))
    }),

    // CUSUM drift detector (Page 1954) over each type's daily count
    // series: standardize against the series' own mean/sd (exact integer
    // partials), then the one-sided recursion S_t = max(0, S_{t-1} + z_t
    // − 0.5) with a running max — folded by an aggregate() HOF over the
    // day-sorted series. The series is BOUNDED (one element per calendar
    // day per type — years of data is thousands of doubles), so
    // collect_list is a per-group scalar, not an unbounded driver pull;
    // the sequential recursion lives inside one codegen'd expression, not
    // a window. The changepoint companion to q165's z-score anomalies and
    // q182's burstiness.
    "q218_cusum" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev
        .groupBy(col("event_type"), expr(s"ts_us div $DAY_US").as("day"))
        .agg(count(lit(1)).as("n"))
      daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("n")).as("__s1"),
          sum(col("n") * col("n")).as("__s2"),
          sort_array(collect_list(struct(col("day"), col("n"))))
            .as("__series"))
        .withColumn("__mean", col("__s1").cast("double") / col("n_days"))
        .withColumn("__sd", sqrt(
          (col("__s2").cast("double") -
            col("__s1").cast("double") * col("__s1").cast("double") /
              col("n_days")) / (col("n_days") - 1)))
        .filter(col("n_days") > 1 && col("__sd") > 0)
        .withColumn("__zs",
          expr("transform(__series, x -> (x.n - __mean) / __sd)"))
        .withColumn("__acc", expr(
          "aggregate(__zs, array(0D, 0D), (a, z) -> array(" +
            "greatest(0D, a[0] + z - 0.5D), " +
            "greatest(a[1], greatest(0D, a[0] + z - 0.5D))))"))
        .select(col("event_type"), col("n_days"),
          round(col("__mean"), 6).as("mean_daily"),
          round(col("__sd"), 6).as("sd_daily"),
          round(col("__acc")(1), 6).as("cusum_max"),
          (col("__acc")(1) > 5.0).as("drift_flag"))
    }),

    // Mann–Kendall trend test + Sen's slope (Mann 1945; Kendall 1975;
    // Sen 1968) on each type's daily count series — the nonparametric
    // companion to q213's least-squares trend (no normality assumption,
    // robust to outliers) with the tie-corrected variance and the
    // continuity-corrected Z. The pairwise S statistic runs on the DAILY
    // table (one row per calendar day per type — bounded by the
    // calendar, never the corpus; a decade of days is ~7M pairs/type),
    // checkpointed once for its three consumers. Sen's slope is the
    // exact median of the 6-dp-pinned pairwise slopes via the
    // deterministic two-middle-ranks rule.
    "q248_mann_kendall" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev
        .groupBy(col("event_type"), expr(s"ts_us div $DAY_US").as("day"))
        .agg(count(lit(1)).as("n"))
        .pin()
      val pairs = daily
        .select(col("event_type"), col("day").as("di"), col("n").as("vi"))
        .join(daily.select(col("event_type"), col("day").as("dj"),
          col("n").as("vj")), Seq("event_type"))
        .filter(col("di") < col("dj"))
        .withColumn("__slope", round(
          (col("vj") - col("vi")).cast("double") /
            (col("dj") - col("di")).cast("double"), 6))
      val wr = Window.partitionBy("event_type").orderBy("__slope")
      val wc = Window.partitionBy("event_type")
      val sen = pairs.withColumn("__rn", row_number().over(wr))
        .withColumn("__np", count(lit(1)).over(wc))
        .filter(col("__rn") === expr("(__np + 1) div 2") ||
          col("__rn") === expr("(__np + 2) div 2"))
        .groupBy("event_type")
        .agg(round(graft.core.Det.avgDet(col("__slope"), 6), 6)
          .as("sen_slope"))
      val sgn = pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(signum((col("vj") - col("vi")).cast("double")).cast("long"))
            .as("s_stat"))
      val ties = daily.groupBy(col("event_type"), col("n"))
        .agg(count(lit(1)).as("__t"))
        .groupBy("event_type")
        .agg(sum(col("__t")).as("n_days"),
          sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5))
            .as("__tie"))
      val varS = (col("n_days") * (col("n_days") - 1) *
        (col("n_days") * 2 + 5) - col("__tie")).cast("double") / 18.0
      val z = when(col("__var") > 0.0,
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") / sqrt(col("__var")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("__var")))
          .otherwise(lit(0.0)))
      sgn.join(ties, Seq("event_type")).join(sen, Seq("event_type"))
        .withColumn("__var", varS)
        .withColumn("z", round(z, 6))
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          col("s_stat"), round(col("__var"), 6).as("var_s"), col("z"),
          col("sen_slope"), (abs(col("z")) > 1.96).as("trend_flag"))
    }),

    // Kolmogorov–Smirnov two-sample test per event type (Kolmogorov
    // 1933; Smirnov 1948): value distribution of the first calendar
    // half vs the second — the exact-ECDF companion to q223's binned
    // PSI. D = max |F1 − F2| from RANGE-framed running counts (ties
    // collapse correctly; no row-order dependence), the rejection rule
    // is the large-sample 1.358·sqrt((n1+n2)/(n1·n2)) critical value.
    // Shape: one scan + per-type sorted windows (range exchange on
    // (type, value)); every post-window row is (type)-bounded.
    "q254_ks_test" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("__mid"))
      val t = ev.crossJoin(broadcast(mid))
        .select(col("event_type"), col("value"),
          (col("ts_us") <= col("__mid")).as("__h1"))
      val w = Window.partitionBy("event_type").orderBy("value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("event_type")
      val d = t
        .withColumn("__c1", sum(when(col("__h1"), 1L).otherwise(0L)).over(w))
        .withColumn("__c2", sum(when(col("__h1"), 0L).otherwise(1L)).over(w))
        .withColumn("__n1", sum(when(col("__h1"), 1L).otherwise(0L)).over(wt))
        .withColumn("__n2", sum(when(col("__h1"), 0L).otherwise(1L)).over(wt))
        .groupBy("event_type")
        .agg(max(col("__n1")).as("n1"), max(col("__n2")).as("n2"),
          max(abs(col("__c1").cast("double") / col("__n1") -
            col("__c2").cast("double") / col("__n2"))).as("__d"))
      d.withColumn("__crit", lit(1.358) *
          sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1") * col("n2")).cast("double")))
        .select(col("event_type"), col("n1"), col("n2"),
          round(col("__d"), 6).as("d_stat"),
          round(col("__crit"), 6).as("crit_05"),
          (col("__d") > col("__crit")).as("reject"))
    }),

    // Holt double (level + linear-trend) exponential smoothing (Holt
    // 1957) over each type's daily counts: α=0.5, β=0.3, classic
    // l₁=x₁ / b₁=x₂−x₁ initialization, one-step-ahead residual MAE and
    // the next-day forecast. The recursion folds over the BOUNDED
    // day-sorted series inside one aggregate() HOF expression (q218's
    // pattern — calendar-bounded state, never a corpus window).
    "q255_holt_trend" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("event_type"), expr(s"ts_us div $DAY_US").as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sort_array(collect_list(struct(col("day"), col("n"))))
            .as("__series"))
        .filter(col("n_days") >= 2)
        .withColumn("__xs",
          expr("transform(__series, p -> CAST(p.n AS DOUBLE))"))
        .withColumn("__acc", expr(
          "aggregate(slice(__xs, 2, size(__xs) - 1), " +
            "array(__xs[0], __xs[1] - __xs[0], 0D, 0D), (a, x) -> array(" +
            "0.5D * x + 0.5D * (a[0] + a[1]), " +
            "0.3D * ((0.5D * x + 0.5D * (a[0] + a[1])) - a[0]) + 0.7D * a[1], " +
            "a[2] + abs(x - a[0] - a[1]), " +
            "a[3] + 1D))"))
        .select(col("event_type"), col("n_days"),
          round(col("__acc")(0), 6).as("level"),
          round(col("__acc")(1), 6).as("trend"),
          round(col("__acc")(0) + col("__acc")(1), 6).as("forecast_next"),
          round(col("__acc")(2) / col("__acc")(3), 6).as("mae"))
    }),

    // Benford first-digit audit (Benford 1938; Nigrini's forensic
    // usage) over each type's value column: observed leading-digit
    // shares vs the Benford expectation, per-digit deviation, and the
    // per-type chi-square — the synthetic-data / fabricated-metrics
    // smoke alarm. Digit extraction is engine-identical integer+string
    // math (floor-quantize to 4 dp, first char of the BIGINT's decimal
    // form — no log10 on data, whose libm rounding differs across
    // engines); the Benford probabilities are 6-dp literals shared with
    // the oracle. One scan + a digit-bounded aggregate.
    "q249_benford" -> ((s, dir) => {
      val benford = Seq(0.301030, 0.176091, 0.124939, 0.096910,
        0.079181, 0.066947, 0.057992, 0.051153, 0.045757)
      val pB = element_at(array(benford.map(lit): _*), col("digit"))
      val ev = Tables.events(s, dir)
      val d = ev.select(col("event_type"),
          floor(abs(col("value")) * 10000 + 0.5).cast("long").as("__iv"))
        .filter(col("__iv") > 0)
        .withColumn("digit",
          substring(col("__iv").cast("string"), 1, 1).cast("int"))
      val wt = Window.partitionBy("event_type")
      d.groupBy("event_type", "digit")
        .agg(count(lit(1)).as("n_obs"))
        .withColumn("__n", sum(col("n_obs")).over(wt))
        .withColumn("p_obs",
          round(col("n_obs").cast("double") / col("__n"), 6))
        .withColumn("p_benford", pB)
        .withColumn("dev", round(col("p_obs") - pB, 6))
        .withColumn("__chi",
          round((col("n_obs") - col("__n") * pB) *
            (col("n_obs") - col("__n") * pB) / (col("__n") * pB), 6))
        .withColumn("chi2", round(sum(
          col("__chi").cast(DecimalType(24, 6))).over(wt).cast("double"), 6))
        .select(col("event_type"), col("digit"), col("n_obs"),
          col("p_obs"), col("p_benford"), col("dev"), col("chi2"))
    }),

    // k-anonymity audit (Sweeney 2002) over the quasi-identifier tuple
    // (event_type, day-of-week, value decade): equivalence-class sizes in
    // DISTINCT users, rolled up per type into the re-identification risk
    // report — singleton classes and the user mass in classes below k=5.
    // Two hash aggregates, both map-side-partialed; floor-bucketing (not
    // round) so the bin edges are rounding-mode-free across engines.
    "q222_k_anonymity" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(col("event_type"),
          expr(s"(ts_us div $DAY_US) % 7").as("__dow"),
          floor(col("value") / 10).as("__vb"),
          col("user_id"))
        .groupBy("event_type", "__dow", "__vb")
        .agg(countDistinct("user_id").as("__k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("__k") === 1, 1L).otherwise(0L)).as("n_singletons"),
          sum(col("__k")).as("n_user_slots"),
          sum(when(col("__k") < 5, col("__k")).otherwise(0L))
            .as("n_below_k5"))
        .withColumn("risk_frac",
          round(col("n_below_k5").cast("double") / col("n_user_slots"), 6))
    }),

    // Distinct l-diversity audit (Machanavajjhala et al. 2007,
    // "l-Diversity: Privacy Beyond k-Anonymity") — q222's companion: a
    // k-anonymous class still leaks when every member shares one
    // sensitive value. Quasi-identifiers (lang, 200-char size bucket),
    // sensitive attribute = source; a class is l-diverse at l=3 when it
    // carries >= 3 distinct sources. One hash aggregate with map-side
    // partials (distinct-count over a 4-value domain), class-bounded
    // output — exact at any corpus scale.
    "q265_l_diversity" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), expr("n_chars div 200").as("size_bucket"),
          col("source"))
        .groupBy("lang", "size_bucket")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sensitive"))
        .withColumn("l_diverse", col("n_sensitive") >= 3)),

    // t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    // member of the q222/q265 privacy family: an l-diverse class still
    // leaks when its sensitive-value DISTRIBUTION diverges from the
    // table's (skewness attack). Categorical sensitive attribute =
    // source, so EMD reduces to variational distance
    // 0.5·Σ|p_class − p_global|. Everything runs in exact integers:
    // the per-source term is |n_cs·n − n_s·n_c| (decimal products —
    // they wrap in long at corpus scale), the distance is ONE double
    // division of the exact sum, and the t ≤ 1/4 verdict is the
    // integer cross-multiply 2·S ≤ n_c·n, never a double boundary.
    // Scale shape: ONE corpus scan to the (class, source) count table;
    // the class×source grid is bounded (classes × sources), built with
    // an explicit broadcast; global totals are broadcast 1-row scalars.
    "q304_t_closeness" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cs = Tables.documents(s, dir)
        .select(col("lang"), expr("n_chars div 200").as("size_bucket"),
          col("source"))
        .groupBy("lang", "size_bucket", "source")
        .agg(count(lit(1)).as("__ncs"))
        .pin() // class totals + source totals + grid side
      val cls = cs.groupBy("lang", "size_bucket")
        .agg(sum(col("__ncs")).as("__nc"))
      val src = cs.groupBy("source").agg(sum(col("__ncs")).as("__ns"))
      val tot = cs.agg(sum(col("__ncs")).as("__n"))
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      cls.crossJoin(broadcast(src))
        .join(cs, Seq("lang", "size_bucket", "source"), "left")
        .na.fill(0L, Seq("__ncs"))
        .crossJoin(broadcast(tot))
        .groupBy("lang", "size_bucket")
        .agg(max(col("__nc")).as("__nc"), max(col("__n")).as("__n"),
          sum(abs(dec(col("__ncs")) * dec(col("__n")) -
            dec(col("__ns")) * dec(col("__nc")))).as("__s"))
        .select(col("lang"), col("size_bucket"), col("__nc").as("n_docs"),
          (col("__s").cast("string").cast("double") /
            (dec(col("__nc")) * dec(col("__n")) * lit(2).cast("decimal(2,0)"))
              .cast("string").cast("double")).as("t_distance"),
          (dec(col("__s")) * lit(2).cast("decimal(2,0)") <=
            dec(col("__nc")) * dec(col("__n"))).as("t_close"))
    }),

    // Modified z-score outlier audit (Iglewicz & Hoaglin 1993): per
    // source, |0.6745·(n_chars − median)/MAD| > 3.5 flags — the robust
    // outlier rule (mean/stdev are themselves corrupted by the outliers
    // they're meant to find). Two percentile passes through the
    // conf-selectable Quantiles path (exact for the oracle gate,
    // percentile_approx at 100 TB), both joined back as broadcast
    // source-bounded tables; the flag is a map-side expression.
    "q268_modified_z" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("source"), col("n_chars"))
      // both stats tables are source-bounded; checkpoint so the median
      // pass isn't replanned per consumer (3 corpus scans — the
      // two-level-median floor — instead of 4)
      val med = d.groupBy("source")
        .agg(Quantiles.pct(s, col("n_chars"), 0.5).as("__med"))
        .pin()
      val mad = d.join(broadcast(med), Seq("source"))
        .groupBy("source")
        .agg(Quantiles.pct(s, abs(col("n_chars") - col("__med")), 0.5)
          .as("__mad"))
        .pin()
      d.join(broadcast(med), Seq("source"))
        .join(broadcast(mad), Seq("source"))
        .withColumn("__mz", when(col("__mad") > 0.0,
          abs(lit(0.6745) * (col("n_chars") - col("__med")) / col("__mad"))))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          first(col("__med")).as("median_chars"),
          first(col("__mad")).as("mad_chars"),
          sum(when(col("__mz") > 3.5, 1L).otherwise(0L)).as("n_outliers"))
        .withColumn("outlier_frac",
          round(col("n_outliers").cast("double") / col("n_docs"), 6))
    }),

    // Poisson bootstrap CI (Owen & Eckles 2012, "Bootstrapping data
    // arrays of arbitrary order" — the streaming/distributed bootstrap):
    // replicate weights w ~ Poisson(1) come from seeded hash-uniforms
    // against PRE-SCALED integer CDF breakpoints (no float compare),
    // truncated at 7 (P ≈ 1e-5); each of the 50 replicate means is a
    // ratio of exact integer sums, and the 95% CI is an order-statistic
    // pair over the 50-row replicate table. One corpus scan fanned ×B
    // with immediate map-side combine — the resampling scheme that
    // works in one pass at 100 TB (classic resampling needs N known up
    // front and random access).
    "q271_poisson_bootstrap" -> ((s, dir) => {
      val thr = poissonThr60
      val h = graft.llm.TextOps.wordHash60(concat(lit("boot:"),
        col("b").cast("string"), lit(":"), col("doc_id").cast("string")))
      val w = thr.indices.tail.foldLeft(
        when(col("__h") < thr.head, 0)) { (acc, k) =>
        acc.when(col("__h") < thr(k), k)
      }.otherwise(7).cast("long")
      val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
      val reps = docs
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(49))).as("b"))
        .withColumn("__h", h)
        .withColumn("__w", w)
        .groupBy("b")
        .agg(sum(col("__w") * col("n_chars")).as("__sx"),
          sum(col("__w")).as("__sw"))
        .withColumn("__mean", col("__sx").cast("double") / col("__sw"))
        .withColumn("__rn", row_number().over(
          Window.orderBy(col("__mean"), col("b"))))
      val ci = reps.agg(count(lit(1)).as("n_replicates"),
        max(when(col("__rn") === 2, col("__mean"))).as("ci_lo"),
        max(when(col("__rn") === 49, col("__mean"))).as("ci_hi"))
      docs.agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("mean_full"))
        .crossJoin(broadcast(ci))
    }),

    // CUPED variance reduction (Deng et al., WSDM 2013, "Improving the
    // Sensitivity of Online Controlled Experiments by Utilizing
    // Pre-Experiment Data"): per event type, split each user's value
    // mass at the calendar midpoint into pre-period covariate X and
    // experiment metric Y; θ = cov(X,Y)/var(X) and the CUPED-adjusted
    // variance is var(Y)·(1−ρ²) — the audit that says how much
    // experiment runtime the pre-period data buys. Per-user sums are
    // exact 4-dp decimals, their moments exact 8-dp decimals (q156's
    // discipline); the midpoint is one broadcast scalar.
    "q282_cuped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("__day", expr(s"ts_us div $DAY_US"))
      val mid = ev.agg(
        floor((min("__day") + max("__day")) / 2).as("__mid"))
      val zero = lit(0).cast(DecimalType(24, 4))
      val ux = ev.crossJoin(broadcast(mid))
        .groupBy("event_type", "user_id")
        .agg(
          sum(when(col("__day") <= col("__mid"),
            col("value").cast(DecimalType(24, 4))).otherwise(zero))
            .cast("double").as("x"),
          sum(when(col("__day") > col("__mid"),
            col("value").cast(DecimalType(24, 4))).otherwise(zero))
            .cast("double").as("y"))
      ux.groupBy("event_type")
        .agg(count(lit(1)).as("n_users"),
          sum(col("x").cast(DecimalType(24, 4))).cast("double").as("__sx"),
          sum(col("y").cast(DecimalType(24, 4))).cast("double").as("__sy"),
          sum((col("x") * col("y")).cast(DecimalType(38, 8)))
            .cast("double").as("__sxy"),
          sum((col("x") * col("x")).cast(DecimalType(38, 8)))
            .cast("double").as("__sxx"),
          sum((col("y") * col("y")).cast(DecimalType(38, 8)))
            .cast("double").as("__syy"))
        .filter(col("n_users") > 1)
        .withColumn("__cov", (col("__sxy") -
          col("__sx") * col("__sy") / col("n_users")) / (col("n_users") - 1))
        .withColumn("__vx", (col("__sxx") -
          col("__sx") * col("__sx") / col("n_users")) / (col("n_users") - 1))
        .withColumn("__vy", (col("__syy") -
          col("__sy") * col("__sy") / col("n_users")) / (col("n_users") - 1))
        .select(col("event_type"), col("n_users"),
          round(when(col("__vx") > 0.0, col("__cov") / col("__vx")), 6)
            .as("theta"),
          round(col("__vy"), 6).as("var_y"),
          round(when(col("__vx") > 0.0,
            col("__vy") - col("__cov") * col("__cov") / col("__vx")), 6)
            .as("var_cuped"),
          round(when(col("__vx") > 0.0 && col("__vy") > 0.0,
            (col("__cov") * col("__cov") / col("__vx")) / col("__vy")), 6)
            .as("var_reduction"))
    }),

    // Mann-Whitney U / Wilcoxon rank-sum (Mann & Whitney 1947): the
    // nonparametric A/B location test — q156's Welch t assumes
    // near-normal arms, the rank test does not. Average ranks are held
    // as the exact integer 2·rank (the q263 trick), U_A derives in
    // closed form, and z uses the tie-uncorrected normal approximation
    // (documented; exact on continuous values). Per-type rank windows
    // partition by event_type — the quantile-norm scale profile.
    "q283_mann_whitney" -> ((s, dir) => {
      val isA = conv(substring(md5(col("user_id").cast("string")), 1, 8),
        16, 10).cast("long") % 2 === 0
      val byVal = Window.partitionBy("event_type").orderBy("value")
      val ties = Window.partitionBy("event_type", "value")
      val r = Tables.events(s, dir)
        .select(col("event_type"), col("value"), isA.as("__a"))
        .withColumn("__r2",
          (rank().over(byVal) * 2 + count(lit(1)).over(ties) - 1)
            .cast("long"))
      r.groupBy("event_type")
        .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(col("__a"), col("__r2")).otherwise(0L)).as("__s2a"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .withColumn("u_a",
          (col("__s2a") - col("n_a") * (col("n_a") + 1)).cast("double") / 2.0)
        .select(col("event_type"), col("n_a"), col("n_b"), col("u_a"),
          round(when(col("n_a") + col("n_b") > 1,
            (col("u_a") - col("n_a").cast("double") * col("n_b") / 2.0) /
              sqrt(col("n_a").cast("double") * col("n_b") *
                (col("n_a") + col("n_b") + 1) / 12.0)), 6).as("z"))
    }),

    // Delete-a-group jackknife (Quenouille 1956 / Tukey 1958; the
    // grouped form of Kott 2001): per source, the leave-that-source-out
    // corpus mean of n_chars, the Tukey pseudo-value
    // g·θ̂ − (g−1)·θ̂₍ᵢ₎, and the influence θ̂ − θ̂₍ᵢ₎ — which sources
    // PULL the corpus statistic, the group-level cousin of q259's
    // per-example Shapley. One aggregate; everything after is
    // group-bounded integer arithmetic with pinned final divisions.
    "q284_jackknife" -> ((s, dir) => {
      val g = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("__s"))
        .pin()
      val tot = g.agg(sum(col("n_docs")).as("__tn"),
        sum(col("__s")).as("__ts"), count(lit(1)).as("__g"))
      g.crossJoin(broadcast(tot))
        .withColumn("__theta", col("__ts").cast("double") / col("__tn"))
        .withColumn("__loo", (col("__ts") - col("__s")).cast("double") /
          (col("__tn") - col("n_docs")))
        .select(col("source"), col("n_docs"),
          round(col("__loo"), 6).as("loo_mean"),
          round(col("__g") * col("__theta") -
            (col("__g") - 1) * col("__loo"), 6).as("pseudo_value"),
          round(col("__theta") - col("__loo"), 6).as("influence"))
    }),

    // A/B test power analysis (Cohen 1988's two-sample normal
    // approximation): per event type, the sample size each arm needs to
    // detect a 5% relative lift at α=0.05 / power 0.8 given the
    // OBSERVED variance — n = 2σ²(z_{α/2}+z_β)²/Δ². The z-constant
    // square is ONE Scala-computed literal injected into both engines;
    // moments come from the q156 exact-decimal sums, so the only
    // doubles are the final pinned-order arithmetic. The pre-launch
    // audit that says whether an experiment is even worth running.
    "q280_ab_power" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_obs"),
          sum(col("value").cast("decimal(24,4)")).cast("double")
            .as("__s1"),
          sum((col("value") * col("value")).cast("decimal(38,8)"))
            .cast("double").as("__s2"))
        .filter(col("n_obs") > 1)
        .withColumn("__mean", col("__s1") / col("n_obs"))
        .withColumn("__var",
          (col("__s2") - col("__s1") * col("__s1") / col("n_obs")) /
            (col("n_obs") - 1))
        .withColumn("__mde", lit(0.05) * col("__mean"))
        .select(col("event_type"), col("n_obs"),
          round(col("__mean"), 6).as("mean_value"),
          round(col("__var"), 6).as("variance"),
          round(col("__mde"), 6).as("mde"),
          when(col("__mde") * col("__mde") > 0.0 && col("__var") > 0.0,
            ceil(lit(2.0) * col("__var") * lit(AbPowerZSum2) /
              (col("__mde") * col("__mde"))).cast("long"))
            .as("n_per_arm"))),

    // Join-key skew profiler — the plan-engineering audit that decides
    // salting/AQE-skew settings BEFORE a 100 TB join is launched: per
    // candidate key column, cardinality, hottest-key frequency, and the
    // skew factor max/mean (= max_freq·n_keys/n_rows). One map-side-
    // combined aggregate per column; the per-column rollup is 1 row.
    "q276_skew_profile" -> ((s, dir) => {
      def prof(df: DataFrame, keyCol: String, tag: String) =
        df.select(col(keyCol).cast("string").as("k"))
          .groupBy("k").agg(count(lit(1)).as("__c"))
          .agg(sum(col("__c")).as("n_rows"), count(lit(1)).as("n_keys"),
            max(col("__c")).as("max_freq"))
          .select(lit(tag).as("key_col"), col("n_rows"), col("n_keys"),
            col("max_freq"),
            round((col("max_freq") * col("n_keys")) /
              col("n_rows").cast("double"), 6).as("skew_factor"))
      val li = Tables.table(s, dir, "lineitem")
      prof(li, "l_suppkey", "lineitem.l_suppkey")
        .unionAll(prof(li, "l_orderkey", "lineitem.l_orderkey"))
        .unionAll(prof(Tables.events(s, dir), "user_id", "events.user_id"))
        .unionAll(prof(Tables.documents(s, dir), "source",
          "documents.source"))
    }),

    // Population Stability Index drift per event type: first vs second
    // half of the calendar range (midpoint and the global value-decile
    // bin edges are broadcast scalars), add-one-smoothed bin shares over
    // the OBSERVED bins, PSI = Σ (p2−p1)·ln(p2/p1) from 8-dp-pinned terms
    // summed exactly. One corpus scan + bounded-dimension aggregates —
    // the distribution-shift companion to q86's text-feature drift.
    "q223_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val days = ev.withColumn("__day", expr(s"ts_us div $DAY_US"))
      val mid = days.agg(
        floor((min("__day") + max("__day")) / 2).as("__mid"))
      val th = days.agg(Quantiles.pcts(s, col("value"),
        (1 to 9).map(_ / 10.0)).as("__t"))
      val binned = days.crossJoin(broadcast(mid)).crossJoin(broadcast(th))
        .select(col("event_type"),
          when(col("__day") <= col("__mid"), 1).otherwise(2).as("__p"),
          (size(filter(col("__t"), x => x < col("value"))) + 1).as("__bin"))
      val c = binned.groupBy("event_type", "__bin")
        .agg(sum(when(col("__p") === 1, 1L).otherwise(0L)).as("__c1"),
          sum(when(col("__p") === 2, 1L).otherwise(0L)).as("__c2"))
      val n = c.groupBy("event_type")
        .agg(sum("__c1").as("__n1"), sum("__c2").as("__n2"))
      c.join(n, Seq("event_type"))
        .withColumn("__p1",
          (col("__c1") + 1).cast("double") / (col("__n1") + 10))
        .withColumn("__p2",
          (col("__c2") + 1).cast("double") / (col("__n2") + 10))
        .withColumn("__term", round(
          (col("__p2") - col("__p1")) * log(col("__p2") / col("__p1")), 8))
        .groupBy("event_type")
        .agg(max("__n1").as("n_before"), max("__n2").as("n_after"),
          round(Det.sumDet(col("__term"), 8), 6).as("psi"))
        .withColumn("drifted", col("psi") > 0.2)
    }),

    // Differentially-private count release (Dwork 2006, ε = 1): per
    // (type, day) true count plus seeded Laplace noise via the inverse
    // CDF of a deterministic md5 uniform (the q171 sampling idiom — a DP
    // release pipeline derives noise from a keyed PRF stream exactly like
    // this; u ∈ (0,1) strictly by the +0.5/2³² offset, so sign and ln are
    // total). Pure map over the count table — no extra shuffle.
    "q224_dp_counts" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val u = (conv(substr(md5(concat_ws(":", lit("dp1"), col("event_type"),
        col("day").cast("string"))), lit(1), lit(8)), 16, 10)
        .cast("double") + 0.5) / 4294967296.0
      ev.withColumn("day", expr(s"ts_us div $DAY_US"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"))
        .withColumn("__u", u)
        .withColumn("noisy_n", round(col("n") -
          signum(col("__u") - 0.5) *
            log(lit(1.0) - lit(2.0) * abs(col("__u") - 0.5)), 6))
        .select("event_type", "day", "n", "noisy_n")
    }),

    // Pareto/Lorenz revenue concentration WITHOUT a global sort: exact
    // decile thresholds come from one percentile aggregate (broadcast
    // scalar), customers bucket map-side against the threshold array,
    // and shares come from exact decimal sums — the scale-correct form
    // of "rank all customers by revenue and cumsum" (which would
    // serialize the corpus through a single-partition window).
    "q180_revenue_pareto" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      val rev = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 8))).cast("double").as("revenue"))
      val th = rev.agg(Quantiles.pcts(s, col("revenue"),
        (1 to 9).map(_ / 10.0)).as("t"))
      val tot = rev.agg(sum(col("revenue").cast(DecimalType(24, 8)))
        .cast("double").as("total"))
      rev.crossJoin(broadcast(th)).crossJoin(broadcast(tot))
        .withColumn("decile",
          (size(filter(col("t"), x => x < col("revenue"))) + 1).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("revenue").cast(DecimalType(24, 8))).cast("double")
            .as("decile_revenue"),
          round(sum(col("revenue").cast(DecimalType(24, 8))).cast("double") /
            max(col("total")), 6).as("share"))
    }),

    // Time-to-event: per signup cohort week, conversion-lag stats from
    // first signup to first purchase (converted users only) — two min
    // aggregates keyed on user_id sharing one exchange, then an exact
    // median over the bounded cohort dimension.
    "q177_time_to_event" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_us").as("t0"))
      val firstP = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("ts_us").as("tp"))
      signup.join(firstP, Seq("user_id"))
        .filter(col("tp") >= col("t0"))
        .withColumn("cohort_week", expr(s"t0 div ${7L * DAY_US}"))
        .withColumn("lag_us", col("tp") - col("t0"))
        .groupBy("cohort_week")
        .agg(count(lit(1)).as("n_converted"),
          Quantiles.pct(s, col("lag_us"), 0.5).as("median_lag_us"),
          min("lag_us").as("min_lag_us"), max("lag_us").as("max_lag_us"))
    }),

    // First-order behavioral transition matrix: per-user event sequences
    // → (from, to) bigram counts → row-normalized transition
    // probabilities. One exchange on user_id for the lead window (reused
    // from the session family), then a bounded-dimension aggregate —
    // the Markov-chain view of the event stream.
    "q176_transitions" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val c = ev
        .withColumn("to_type", lead(col("event_type"), 1).over(wUser))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      c.withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("from_type")).cast("double"), 6))
    }),

    // Interval (range) join: every purchase attributed to the same
    // user's views in the preceding hour — the two-sided-window join
    // class (vs q157's as-of backward pick). Same body runs as the
    // watermarked stream-stream join in streaming/StreamingSqa.
    "q175_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.StreamingSqa.streamingAttribution(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"))
    }),

    // Decile banding via ntile: per event_type, values split into 10
    // equal-count bands (deterministic tie-break on event_id), reported
    // as per-band (n, min, max, exact sum) — the quantile-bucket report
    // every monitoring pipeline carries. One exchange on event_type; the
    // per-type sort is the ranking cost.
    "q172_ntile_deciles" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      ev.withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("event_type", "decile")
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"),
          Det.sumDet(col("value")).as("sum_v"))
    }),

    // One-pass table profiler (Deequ/TFDV-class data unit test): every
    // lineitem column's null count, exact cardinality, range, and mean
    // from ONE scan + ONE aggregation; the per-column rows explode out
    // of the single aggregate row, so the unpivot costs nothing.
    "q202_profile" -> ((s, dir) =>
      graft.ops.Profile.profile(Tables.lineitem(s, dir))),

    // MATCH_RECOGNIZE-class sequence patterns over sessions: each
    // session's ordered event types collapse to one '>'-joined string
    // (per-session bounded — the array_sort runs inside a group, never
    // across the stream), then THREE regex predicates fold into one
    // conditional aggregate over the session table; the per-pattern rows
    // explode out of the single aggregate row. The scale shape is q141's
    // one per-user exchange plus a session-count-sized scan.
    "q206_seq_pattern" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val gap = 30L * MIN_US
      val sess = ev
        .withColumn("__prev", lag(col("ts_us"), 1).over(wUser))
        .withColumn("__new",
          when(col("__prev").isNull || col("ts_us") - col("__prev") > gap, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("__new")).over(wUser))
      val seqs = sess.groupBy("user_id", "session_id")
        .agg(concat_ws(">", transform(
          array_sort(collect_list(
            struct(col("ts_us"), col("event_id"), col("event_type")))),
          x => x.getField("event_type"))).as("seq"))
      val aggExprs = count(lit(1)).as("__n") +:
        SeqPats.zipWithIndex.map { case ((_, re), i) =>
          sum(when(col("seq").rlike(re), 1L).otherwise(0L)).as(s"__m$i")
        }
      val agg = seqs.agg(aggExprs.head, aggExprs.tail: _*)
      agg.select(explode(array(SeqPats.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("pattern"), col("__n").as("n_sessions"),
            col(s"__m$i").as("n_matched"))
        }: _*)).as("p"))
        .select(col("p.*"))
        .withColumn("share",
          round(col("n_matched").cast("double") / col("n_sessions"), 6))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q141_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
         |  FROM events),
         |m AS (
         |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
         |      OR ts_us - lag(ts_us) OVER w > ${30L * MIN_US} THEN 1 ELSE 0 END AS nw
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (
         |  SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |    AS session_id FROM m)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |  COUNT(*) AS n_events, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |  MAX(ts_us) - MIN(ts_us) AS duration_us,
         |  COUNT(DISTINCT event_type) AS n_types,
         |  CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE) AS sum_value
         |FROM s GROUP BY 1, 2""".stripMargin,

    "q142_active_users" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT epoch_us(ts) // $DAY_US AS day, user_id FROM events),
         |days AS (SELECT DISTINCT day FROM ud)
         |SELECT d.day AS day, COUNT(DISTINCT u.user_id) AS active_7d
         |FROM days d JOIN ud u ON u.day >= d.day - 6 AND u.day <= d.day
         |GROUP BY 1""".stripMargin,

    "q143_retention" ->
      s"""WITH uw AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // ${7L * DAY_US} AS week
         |  FROM events),
         |cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1)
         |SELECT c.cohort_week, u.week - c.cohort_week AS week_offset,
         |  COUNT(*) AS n_users
         |FROM uw u JOIN cohort c USING (user_id)
         |GROUP BY 1, 2""".stripMargin,

    "q126_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS absdev, m.med
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, MEDIAN(absdev) AS mad FROM dev GROUP BY 1)
        |SELECT d.event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN d.absdev > m2.mad * 4.4478 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  ROUND(MAX(d.med), 4) AS med, ROUND(MAX(m2.mad), 4) AS mad
        |FROM dev d JOIN mad m2 USING (event_type)
        |GROUP BY 1""".stripMargin,

    "q01_seg_agg" ->
      s"""SELECT user_id, epoch_us(ts) // $HOUR_US AS seg, COUNT(*) AS n,
         |${Det.sumDetSql("value")} AS sum_value, MIN(epoch_us(ts)) AS first_us
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q02_rolling_range" ->
      s"""SELECT event_id, COUNT(*) OVER w AS n_1h,
         |CAST(SUM(CAST(value AS DECIMAL(24,4))) OVER w AS DOUBLE) AS sum_1h
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN $HOUR_US PRECEDING AND CURRENT ROW)""".stripMargin,

    "q03_lag_diff" ->
      """SELECT event_id,
        |CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS DOUBLE) / 1000.0 AS ibi_ms
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin,

    "q04_rolling_median" ->
      """SELECT event_id, ROUND(MEDIAN(value) OVER w, 4) AS med6
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)""".stripMargin,

    "q05_carry_forward" ->
      """SELECT event_id, COALESCE(
        |  LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  FIRST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS filled_v
        |FROM events""".stripMargin,

    "q06_dedupe_keep_last" ->
      s"""SELECT user_id, minute, event_id, value FROM (
         |  SELECT user_id, epoch_us(ts) // $MIN_US AS minute, event_id, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // $MIN_US
         |      ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1""".stripMargin,

    "q07_asof_nearest" ->
      s"""SELECT p.event_id, p.user_id, v.view_event_id, v.dist_us
         |FROM events p LEFT JOIN LATERAL (
         |  SELECT e.event_id AS view_event_id,
         |         ABS(epoch_us(e.ts) - epoch_us(p.ts)) AS dist_us
         |  FROM events e
         |  WHERE e.event_type = 'view' AND e.user_id = p.user_id
         |    AND ABS(epoch_us(e.ts) - epoch_us(p.ts)) <= $HOUR_US
         |  ORDER BY dist_us, epoch_us(e.ts), e.event_id DESC LIMIT 1) v ON TRUE
         |WHERE p.event_type = 'purchase'""".stripMargin,

    "q08_join_agg" ->
      """SELECT c_mktsegment, l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q09_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q10_pivot" ->
      """SELECT user_id,
        |COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id""".stripMargin,

    "q11_percentiles" ->
      """SELECT event_type,
        |ROUND(quantile_cont(value, 0.25), 4) AS q1,
        |ROUND(quantile_cont(value, 0.75), 4) AS q3,
        |ROUND(ROUND(quantile_cont(value, 0.75), 4) - ROUND(quantile_cont(value, 0.25), 4), 4) AS iqr,
        |ROUND((ROUND(quantile_cont(value, 0.75), 4) - ROUND(quantile_cont(value, 0.25), 4)) / 2.0, 4) AS qd
        |FROM events GROUP BY event_type""".stripMargin,

    "q12_masked_mean" ->
      """SELECT user_id,
        |CAST(SUM(CASE WHEN event_type <> 'error' THEN CAST(value AS DECIMAL(24,4)) END) AS DOUBLE)
        |  / COUNT(CASE WHEN event_type <> 'error' THEN value END) AS masked_mean
        |FROM events GROUP BY user_id""".stripMargin,

    "q13_dilation" ->
      """SELECT event_id,
        |MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER
        |  (PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 300000000 PRECEDING AND 300000000 FOLLOWING) AS dilated
        |FROM events""".stripMargin,

    "q14_runs" ->
      """SELECT user_id, run_id, MIN(event_type) AS event_type, COUNT(*) AS n,
        |MIN(us) AS start_us, MAX(us) AS end_us FROM (
        |  SELECT user_id, event_type, epoch_us(ts) AS us,
        |    CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |  FROM (
        |    SELECT *, CASE WHEN LAG(event_type) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS DISTINCT FROM event_type
        |      THEN 1 ELSE 0 END AS b
        |    FROM events))
        |GROUP BY 1, 2""".stripMargin,

    "q15_window_norm" ->
      s"""SELECT user_id, day,
         |CAST(SUM(CAST(nv AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm FROM (
         |  SELECT user_id, epoch_us(ts) // $DAY_US AS day,
         |    ROUND(CASE WHEN MAX(value) OVER wg > MIN(value) OVER wg
         |      THEN (value - MIN(value) OVER wg) / (MAX(value) OVER wg - MIN(value) OVER wg)
         |      END, 6) AS nv
         |  FROM events
         |  WINDOW wg AS (PARTITION BY user_id, epoch_us(ts) // $DAY_US))
         |GROUP BY 1, 2""".stripMargin,

    "q16_argmax" ->
      """SELECT n_name, c_custkey, c_name, c_acctbal FROM (
        |  SELECT n_name, c_custkey, c_name, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |WHERE rn = 1""".stripMargin,

    "q151_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND ts_us > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND ts_us > t2 GROUP BY 1),
        |s4 AS (SELECT e.user_id, MIN(ts_us) AS t4 FROM e JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us > t3 GROUP BY 1)
        |SELECT 1 AS stage, 'signup' AS event_type, COUNT(*) AS n_users FROM s1
        |UNION ALL
        |SELECT 2, 'view', COUNT(*) FROM s2
        |UNION ALL
        |SELECT 3, 'click', COUNT(*) FROM s3
        |UNION ALL
        |SELECT 4, 'purchase', COUNT(*) FROM s4""".stripMargin,

    "q153_pagerank" -> pagerankSql,

    "q187_pagerank_dangling" -> pagerankDanglingSql,

    "q193_ppr" -> pprSql,

    // Conditional aggregation, NOT an A×B self-join: the join form drops
    // any event_type with an empty arm, where the Spark body emits the
    // row with n=0 / NULL stats; the welch guard mirrors the Spark
    // body's n>1 condition (1-event arms divide by zero, where the
    // engines' semantics differ).
    "q156_ab_metrics" ->
      """WITH v AS (
        |  SELECT event_type, value,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 = 0 AS is_a
        |  FROM events),
        |a AS (
        |  SELECT event_type,
        |    COUNT(CASE WHEN is_a THEN 1 END) AS n_A,
        |    COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_B,
        |    CAST(SUM(CASE WHEN is_a THEN CAST(value AS DECIMAL(24,4)) END)
        |      AS DOUBLE) AS s1A,
        |    CAST(SUM(CASE WHEN is_a THEN CAST(value * value AS DECIMAL(38,8)) END)
        |      AS DOUBLE) AS s2A,
        |    CAST(SUM(CASE WHEN NOT is_a THEN CAST(value AS DECIMAL(24,4)) END)
        |      AS DOUBLE) AS s1B,
        |    CAST(SUM(CASE WHEN NOT is_a THEN CAST(value * value AS DECIMAL(38,8)) END)
        |      AS DOUBLE) AS s2B
        |  FROM v GROUP BY 1)
        |SELECT event_type, n_A, n_B,
        |  ROUND(s1A / n_A, 6) + 0.0 AS mean_a,
        |  ROUND(s1B / n_B, 6) + 0.0 AS mean_b,
        |  ROUND(s1B / n_B - s1A / n_A, 6) + 0.0 AS uplift,
        |  CASE WHEN n_A > 1 AND n_B > 1 THEN
        |    ROUND((s1B / n_B - s1A / n_A) / sqrt(
        |      ((s2A - s1A * s1A / n_A) / (n_A - 1)) / n_A +
        |      ((s2B - s1B * s1B / n_B) / (n_B - 1)) / n_B), 6) + 0.0
        |  END AS welch_t
        |FROM a""".stripMargin,

    "q157_scd2_asof" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |  FROM events),
        |p AS (
        |  SELECT user_id, ts_us,
        |    ROW_NUMBER() OVER w AS cum_n,
        |    CAST(SUM(CAST(value AS DECIMAL(24,4))) OVER w AS DOUBLE) AS cum_spend
        |  FROM e WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |f AS (SELECT event_id, user_id, ts_us, event_type FROM e
        |      WHERE event_type IN ('view', 'click'))
        |SELECT f.event_id, f.user_id, f.ts_us, f.event_type,
        |  COALESCE(MAX(p.cum_n), 0) AS purchases_so_far,
        |  COALESCE(arg_max(p.cum_spend, p.cum_n), 0.0) AS spend_so_far
        |FROM f LEFT JOIN p
        |  ON p.user_id = f.user_id AND p.ts_us <= f.ts_us
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q158_trending" ->
      s"""WITH hc AS (
         |  SELECT epoch_us(ts) // $HOUR_US AS hour, event_type,
         |    COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |hours AS (SELECT DISTINCT hour FROM hc),
         |cover AS (
         |  SELECT h.hour, c.event_type, CAST(SUM(c.n) AS BIGINT) AS n_events
         |  FROM hours h JOIN hc c ON c.hour BETWEEN h.hour - 2 AND h.hour
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT hour, event_type, n_events,
         |    ROW_NUMBER() OVER (PARTITION BY hour
         |      ORDER BY n_events DESC, event_type) AS rnk
         |  FROM cover)
         |SELECT hour, CAST(rnk AS BIGINT) AS rnk, event_type, n_events
         |FROM rk WHERE rnk <= 3""".stripMargin,

    "q162_profile" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  MIN($c) AS min_v, MAX($c) AS max_v,
           |  ${Det.sumDetSql(c)} AS sum_v
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n"),

    "q165_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events),
        |r AS (
        |  SELECT event_id, user_id, ts_us, value,
        |    COUNT(*) OVER w AS n_win,
        |    CAST(SUM(CAST(value AS DECIMAL(24,4))) OVER w AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(38,8))) OVER w AS DOUBLE) AS s2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT *, s1 / n_win AS m,
        |    (s2 - s1 * s1 / n_win) / (n_win - 1) AS v
        |  FROM r WHERE n_win >= 10)
        |SELECT event_id, user_id, ts_us, value, n_win,
        |  ROUND((value - m) / sqrt(v), 6) + 0.0 AS z,
        |  (abs((value - m) / sqrt(v)) > 3.0::DOUBLE) AS is_anomaly
        |FROM f WHERE v > 0""".stripMargin,

    "q167_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q168_hll_merge" ->
      s"""WITH e AS (
         |  SELECT epoch_us(ts) // $DAY_US AS day, user_id FROM events),
         |b AS (
         |  SELECT day, day // 7 AS week, user_id,
         |    ('0x' || substr(md5('u:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
         |      AS hv
         |  FROM e),
         |rr AS (
         |  SELECT week, day, hv & 63 AS bucket,
         |    MAX(CASE WHEN (hv >> 6) = 0 THEN 55
         |        ELSE 55 - length(bin(hv >> 6)) END) AS m
         |  FROM b GROUP BY 1, 2, 3),
         |wk AS (SELECT week, bucket, MAX(m) AS m FROM rr GROUP BY 1, 2),
         |agg AS (
         |  SELECT week, COUNT(*) AS n_present,
         |    SUM((1::BIGINT << (60 - m))::HUGEINT) AS psum
         |  FROM wk GROUP BY 1),
         |ex AS (
         |  SELECT day // 7 AS week, COUNT(DISTINCT user_id) AS n_users_exact,
         |    COUNT(DISTINCT day) AS n_days
         |  FROM e GROUP BY 1)
         |SELECT week, n_days, n_users_exact, zeros,
         |  CASE WHEN raw <= 160.0 AND zeros > 0
         |    THEN ROUND(64 * ln(CAST(64.0 AS DOUBLE) / zeros), 4)
         |    ELSE ROUND(raw, 4) END AS est_distinct
         |FROM (
         |  SELECT agg.week, ex.n_days, ex.n_users_exact,
         |    64 - n_present AS zeros,
         |    CAST(2904.064 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
         |      / CAST(psum + (64 - n_present)::HUGEINT
         |          * 1152921504606846976::HUGEINT AS DOUBLE) AS raw
         |  FROM agg JOIN ex USING (week))""".stripMargin,

    "q185_new_vs_returning" ->
      s"""WITH d AS (
         |  SELECT user_id, epoch_us(ts) // $DAY_US AS day FROM events),
         |f AS (SELECT user_id, MIN(day) AS first_day FROM d GROUP BY 1)
         |SELECT day, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_new,
         |  COUNT(DISTINCT d.user_id) AS n_users
         |FROM d JOIN f USING (user_id)
         |GROUP BY 1""".stripMargin,

    "q186_star_revenue" ->
      """SELECT r_name AS region, n_name AS nation,
        |  c_mktsegment AS mktsegment,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(24,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2, 3""".stripMargin,

    "q184_hourly_acf" ->
      s"""WITH hc AS (
         |  SELECT epoch_us(ts) // $HOUR_US AS h, COUNT(*) AS y
         |  FROM events GROUP BY 1),
         |p AS (
         |  SELECT t.k, a.y AS y1, b.y AS y2
         |  FROM hc a CROSS JOIN unnest(range(1, 25)) AS t(k)
         |  JOIN hc b ON b.h = a.h + t.k),
         |a2 AS (
         |  SELECT k, COUNT(*) AS n,
         |    CAST(SUM(y1) AS BIGINT) AS sx, CAST(SUM(y2) AS BIGINT) AS sy,
         |    CAST(SUM(y1 * y2) AS BIGINT) AS sxy,
         |    CAST(SUM(y1 * y1) AS BIGINT) AS sxx,
         |    CAST(SUM(y2 * y2) AS BIGINT) AS syy
         |  FROM p GROUP BY 1)
         |SELECT CAST(k AS BIGINT) AS lag, n,
         |  ROUND((n * sxy - sx * sy)::DOUBLE /
         |    sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE),
         |    6) AS acf
         |FROM a2""".stripMargin,

    "q183_seasonality" ->
      s"""SELECT event_type,
         |  (epoch_us(ts) // $DAY_US + 4) % 7 AS dow,
         |  (epoch_us(ts) // $HOUR_US) % 24 AS hour_of_day,
         |  COUNT(*) AS n,
         |  ${Det.sumDetSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q181_churn" ->
      s"""WITH uw AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // ${7L * DAY_US} AS week
         |  FROM events),
         |mw AS (SELECT MAX(week) AS max_week FROM uw)
         |SELECT a.week, COUNT(*) AS n_active,
         |  CAST(SUM(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_churned,
         |  ROUND(CAST(SUM(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT)::DOUBLE / COUNT(*), 6) AS churn_rate
         |FROM uw a
         |LEFT JOIN uw b ON b.user_id = a.user_id AND b.week = a.week + 1
         |CROSS JOIN mw
         |WHERE a.week < mw.max_week
         |GROUP BY 1""".stripMargin,

    "q182_burstiness" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    ts_us - LAG(ts_us) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_us, event_id) AS gap
        |  FROM e),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n_gaps,
        |    CAST(SUM(gap::HUGEINT) AS DOUBLE) AS s1,
        |    CAST(SUM(gap::HUGEINT * gap::HUGEINT) AS DOUBLE) AS s2
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps,
        |  ROUND(s1 / n_gaps, 6) AS mean_gap_us,
        |  ROUND(sqrt((s2 - s1 * s1 / n_gaps) / (n_gaps - 1))
        |    / (s1 / n_gaps), 6) AS cv
        |FROM a""".stripMargin,

    "q213_value_trend" ->
      s"""WITH d AS (
         |  SELECT event_type, epoch_us(ts) // $DAY_US AS t, value
         |  FROM events),
         |a AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) AS st,
         |    CAST(CAST(SUM(t * t) AS BIGINT) AS DOUBLE) AS stt,
         |    CAST(SUM(CAST(value AS DECIMAL(24,4))) AS DOUBLE) AS sv,
         |    CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) AS svv,
         |    CAST(SUM(CAST(t AS DECIMAL(6,0)) * CAST(value AS DECIMAL(24,4)))
         |      AS DOUBLE) AS stv
         |  FROM d GROUP BY 1),
         |b AS (
         |  SELECT event_type, n, sv, st,
         |    n * stt - st * st AS dent,
         |    n * svv - sv * sv AS denv,
         |    n * stv - st * sv AS num
         |  FROM a)
         |SELECT event_type, n,
         |  ROUND(CASE WHEN dent > 0 THEN num / dent END, 6) AS slope_per_day,
         |  ROUND(CASE WHEN dent > 0
         |    THEN (sv - num / dent * st) / n END, 6) AS intercept,
         |  ROUND(CASE WHEN dent > 0 AND denv > 0
         |    THEN num * num / (dent * denv) END, 6) AS r2
         |FROM b""".stripMargin,

    "q214_decay_engagement" ->
      s"""WITH mx AS (SELECT epoch_us(MAX(ts)) AS m FROM events)
         |SELECT user_id, COUNT(*) AS n_events,
         |  ROUND(CAST(SUM(CAST(ROUND(
         |      exp((epoch_us(ts) - m)::DOUBLE / ${7.0 * DAY_US}),
         |    8) AS DECIMAL(24,8))) AS DOUBLE), 6) AS decay_score,
         |  MAX(epoch_us(ts)) AS last_seen_us
         |FROM events, mx GROUP BY 1""".stripMargin,

    "q218_cusum" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // $DAY_US AS day, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |a AS (
         |  SELECT event_type, COUNT(*) AS n_days,
         |    CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS s1,
         |    CAST(CAST(SUM(n * n) AS BIGINT) AS DOUBLE) AS s2,
         |    list(n ORDER BY day) AS series
         |  FROM daily GROUP BY 1),
         |b AS (
         |  SELECT event_type, n_days, s1 / n_days AS mean,
         |    sqrt((s2 - s1 * s1 / n_days) / (n_days - 1)) AS sd, series
         |  FROM a WHERE n_days > 1),
         |c AS (
         |  SELECT event_type, n_days, mean, sd,
         |    list_reduce(
         |      list_prepend([0.0::DOUBLE, 0.0::DOUBLE],
         |        list_transform(series, x -> [(x - mean) / sd, 0.0::DOUBLE])),
         |      (acc, e) -> [greatest(0.0::DOUBLE, acc[1] + e[1] - 0.5::DOUBLE),
         |                   greatest(acc[2],
         |                     greatest(0.0::DOUBLE, acc[1] + e[1] - 0.5::DOUBLE))])
         |      AS f
         |  FROM b WHERE sd > 0)
         |SELECT event_type, n_days, ROUND(mean, 6) AS mean_daily,
         |  ROUND(sd, 6) AS sd_daily, ROUND(f[2], 6) AS cusum_max,
         |  f[2] > 5.0::DOUBLE AS drift_flag
         |FROM c""".stripMargin,

    "q248_mann_kendall" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // $DAY_US AS day, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |p AS (
         |  SELECT a.event_type,
         |    ROUND((b.n - a.n)::DOUBLE / (b.day - a.day)::DOUBLE, 6)
         |      AS slope,
         |    SIGN(b.n - a.n)::BIGINT AS sg
         |  FROM daily a JOIN daily b
         |    ON a.event_type = b.event_type AND a.day < b.day),
         |sen AS (
         |  SELECT event_type,
         |    ROUND(${graft.core.Det.avgDetSql("slope", 6)}, 6) AS sen_slope
         |  FROM (
         |    SELECT event_type, slope,
         |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope)
         |        AS rn,
         |      COUNT(*) OVER (PARTITION BY event_type) AS np
         |    FROM p)
         |  WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
         |  GROUP BY 1),
         |sg AS (
         |  SELECT event_type, COUNT(*) AS n_pairs,
         |    CAST(SUM(sg) AS BIGINT) AS s_stat
         |  FROM p GROUP BY 1),
         |ties AS (
         |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n_days,
         |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
         |  FROM (SELECT event_type, n, COUNT(*) AS t
         |        FROM daily GROUP BY 1, 2)
         |  GROUP BY 1),
         |v AS (
         |  SELECT sg.event_type, n_days, n_pairs, s_stat, sen_slope,
         |    (n_days * (n_days - 1) * (2 * n_days + 5) - tie)::DOUBLE / 18
         |      AS var_s
         |  FROM sg JOIN ties USING (event_type) JOIN sen USING (event_type)),
         |z AS (
         |  SELECT *, CASE WHEN var_s > 0.0::DOUBLE THEN
         |      CASE WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE / sqrt(var_s)
         |           WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(var_s)
         |           ELSE 0.0::DOUBLE END
         |    END AS zz
         |  FROM v)
         |SELECT event_type, n_days, n_pairs, s_stat,
         |  ROUND(var_s, 6) AS var_s, ROUND(zz, 6) AS z, sen_slope,
         |  abs(ROUND(zz, 6)) > 1.96 AS trend_flag
         |FROM z""".stripMargin,

    "q254_ks_test" ->
      s"""WITH mid AS (
         |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS m
         |  FROM events),
         |t AS (
         |  SELECT event_type, value, epoch_us(ts) <= m AS h1
         |  FROM events, mid),
         |r AS (
         |  SELECT event_type,
         |    CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY event_type ORDER BY value
         |      RANGE UNBOUNDED PRECEDING) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN h1 THEN 0 ELSE 1 END) OVER (
         |      PARTITION BY event_type ORDER BY value
         |      RANGE UNBOUNDED PRECEDING) AS BIGINT) AS c2,
         |    CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY event_type) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN h1 THEN 0 ELSE 1 END) OVER (
         |      PARTITION BY event_type) AS BIGINT) AS n2
         |  FROM t),
         |d AS (
         |  SELECT event_type, MAX(n1) AS n1, MAX(n2) AS n2,
         |    MAX(abs(c1::DOUBLE / n1 - c2::DOUBLE / n2)) AS dd
         |  FROM r GROUP BY 1)
         |SELECT event_type, n1, n2, ROUND(dd, 6) AS d_stat,
         |  ROUND(1.358 * sqrt((n1 + n2)::DOUBLE / (n1 * n2)::DOUBLE), 6)
         |    AS crit_05,
         |  dd > 1.358 * sqrt((n1 + n2)::DOUBLE / (n1 * n2)::DOUBLE)
         |    AS reject
         |FROM d""".stripMargin,

    "q255_holt_trend" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // $DAY_US AS day, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |a AS (
         |  SELECT event_type, COUNT(*) AS n_days,
         |    list_transform(list(n ORDER BY day), x -> x::DOUBLE) AS xs
         |  FROM daily GROUP BY 1),
         |c AS (
         |  SELECT event_type, n_days,
         |    list_reduce(
         |      list_prepend(
         |        [xs[1], xs[2] - xs[1], 0.0::DOUBLE, 0.0::DOUBLE],
         |        list_transform(xs[2:],
         |          x -> [x, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
         |      (a, e) -> [
         |        0.5::DOUBLE * e[1] + 0.5::DOUBLE * (a[1] + a[2]),
         |        0.3::DOUBLE * ((0.5::DOUBLE * e[1]
         |          + 0.5::DOUBLE * (a[1] + a[2])) - a[1])
         |          + 0.7::DOUBLE * a[2],
         |        a[3] + abs(e[1] - a[1] - a[2]),
         |        a[4] + 1.0::DOUBLE]) AS f
         |  FROM a WHERE n_days >= 2)
         |SELECT event_type, n_days, ROUND(f[1], 6) AS level,
         |  ROUND(f[2], 6) AS trend, ROUND(f[1] + f[2], 6) AS forecast_next,
         |  ROUND(f[3] / f[4], 6) AS mae
         |FROM c""".stripMargin,

    "q249_benford" -> {
      val vals = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
        0.066947, 0.057992, 0.051153, 0.045757)
        .zipWithIndex.map { case (p, i) => s"(${i + 1}, $p::DOUBLE)" }
        .mkString(", ")
      s"""WITH d AS (
         |  SELECT event_type,
         |    CAST(substr(CAST(CAST(floor(abs(value) * 10000 + 0.5)
         |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM events
         |  WHERE CAST(floor(abs(value) * 10000 + 0.5) AS BIGINT) > 0),
         |g AS (SELECT event_type, digit, COUNT(*) AS n_obs
         |      FROM d GROUP BY 1, 2),
         |b AS (SELECT * FROM (VALUES $vals) AS t(digit, p_benford)),
         |w AS (
         |  SELECT g.event_type, g.digit, g.n_obs, b.p_benford,
         |    CAST(SUM(n_obs) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM g JOIN b USING (digit)),
         |t AS (
         |  SELECT event_type, digit, n_obs,
         |    ROUND(n_obs::DOUBLE / n, 6) AS p_obs, p_benford,
         |    ROUND(ROUND(n_obs::DOUBLE / n, 6) - p_benford, 6) AS dev,
         |    ROUND((n_obs - n * p_benford) * (n_obs - n * p_benford)
         |      / (n * p_benford), 6) AS chi
         |  FROM w)
         |SELECT event_type, digit, n_obs, p_obs, p_benford, dev,
         |  ROUND(CAST(SUM(CAST(chi AS DECIMAL(24,6)))
         |    OVER (PARTITION BY event_type) AS DOUBLE), 6) AS chi2
         |FROM t""".stripMargin
    },

    "q222_k_anonymity" ->
      s"""WITH q AS (
         |  SELECT event_type, (epoch_us(ts) // $DAY_US) % 7 AS dow,
         |    floor(value / 10) AS vb, user_id
         |  FROM events),
         |cls AS (
         |  SELECT event_type, dow, vb, COUNT(DISTINCT user_id) AS k
         |  FROM q GROUP BY 1, 2, 3)
         |SELECT event_type, COUNT(*) AS n_classes,
         |  CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_singletons,
         |  CAST(SUM(k) AS BIGINT) AS n_user_slots,
         |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
         |    AS n_below_k5,
         |  ROUND(CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
         |    ::DOUBLE / CAST(SUM(k) AS BIGINT), 6) AS risk_frac
         |FROM cls GROUP BY 1""".stripMargin,

    "q265_l_diversity" ->
      s"""SELECT lang, n_chars // 200 AS size_bucket,
         |  COUNT(*) AS n_docs,
         |  COUNT(DISTINCT source) AS n_sensitive,
         |  COUNT(DISTINCT source) >= 3 AS l_diverse
         |FROM documents
         |GROUP BY 1, 2""".stripMargin,

    "q304_t_closeness" ->
      s"""WITH cs AS (
         |  SELECT lang, n_chars // 200 AS size_bucket, source,
         |    COUNT(*) AS ncs
         |  FROM documents GROUP BY 1, 2, 3),
         |cls AS (
         |  SELECT lang, size_bucket, CAST(SUM(ncs) AS BIGINT) AS nc
         |  FROM cs GROUP BY 1, 2),
         |src AS (SELECT source, CAST(SUM(ncs) AS BIGINT) AS ns
         |        FROM cs GROUP BY 1),
         |tot AS (SELECT CAST(SUM(ncs) AS BIGINT) AS n FROM cs),
         |grid AS (
         |  SELECT cls.lang, cls.size_bucket, cls.nc, src.source, src.ns,
         |    COALESCE(cs.ncs, 0) AS ncs, tot.n
         |  FROM cls CROSS JOIN src CROSS JOIN tot
         |  LEFT JOIN cs ON cs.lang = cls.lang
         |    AND cs.size_bucket = cls.size_bucket
         |    AND cs.source = src.source),
         |agg AS (
         |  SELECT lang, size_bucket, MAX(nc) AS nc, MAX(n) AS n,
         |    SUM(ABS(CAST(ncs AS HUGEINT) * n - CAST(ns AS HUGEINT) * nc))
         |      AS s
         |  FROM grid GROUP BY 1, 2)
         |SELECT lang, size_bucket, nc AS n_docs,
         |  CAST(CAST(s AS VARCHAR) AS DOUBLE) /
         |    CAST(CAST(CAST(nc AS HUGEINT) * n * 2 AS VARCHAR) AS DOUBLE)
         |    AS t_distance,
         |  s * 2 <= CAST(nc AS HUGEINT) * n AS t_close
         |FROM agg""".stripMargin,

    "q282_cuped" ->
      s"""WITH e AS (
         |  SELECT event_type, user_id, value,
         |    epoch_us(ts) // $DAY_US AS day
         |  FROM events),
         |mid AS (SELECT floor((MIN(day) + MAX(day)) / 2) AS mid FROM e),
         |ux AS (
         |  SELECT event_type, user_id,
         |    CAST(SUM(CASE WHEN day <= mid THEN CAST(value AS
         |      DECIMAL(24,4)) ELSE CAST(0 AS DECIMAL(24,4)) END)
         |      AS DOUBLE) AS x,
         |    CAST(SUM(CASE WHEN day > mid THEN CAST(value AS
         |      DECIMAL(24,4)) ELSE CAST(0 AS DECIMAL(24,4)) END)
         |      AS DOUBLE) AS y
         |  FROM e, mid GROUP BY 1, 2),
         |a AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(24,4))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(24,4))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
         |    CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS syy
         |  FROM ux GROUP BY 1 HAVING COUNT(*) > 1),
         |b AS (
         |  SELECT event_type, n, (sxy - sx * sy / n) / (n - 1) AS cov,
         |    (sxx - sx * sx / n) / (n - 1) AS vx,
         |    (syy - sy * sy / n) / (n - 1) AS vy
         |  FROM a)
         |SELECT event_type, n AS n_users,
         |  ROUND(CASE WHEN vx > 0.0::DOUBLE THEN cov / vx END, 6) + 0.0
         |    AS theta,
         |  ROUND(vy, 6) AS var_y,
         |  ROUND(CASE WHEN vx > 0.0::DOUBLE
         |    THEN vy - cov * cov / vx END, 6) + 0.0 AS var_cuped,
         |  ROUND(CASE WHEN vx > 0.0::DOUBLE AND vy > 0.0::DOUBLE
         |    THEN (cov * cov / vx) / vy END, 6) AS var_reduction
         |FROM b""".stripMargin,

    "q283_mann_whitney" ->
      s"""WITH v AS (
         |  SELECT event_type, value,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
         |      % 2 = 0 AS is_a
         |  FROM events),
         |r AS (
         |  SELECT event_type, is_a,
         |    2 * RANK() OVER (PARTITION BY event_type ORDER BY value)
         |      + COUNT(*) OVER (PARTITION BY event_type, value) - 1 AS r2
         |  FROM v),
         |a AS (
         |  SELECT event_type,
         |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(SUM(CASE WHEN is_a THEN r2 ELSE 0 END) AS BIGINT)
         |      AS s2a
         |  FROM r GROUP BY 1),
         |f AS (SELECT * FROM a WHERE n_a > 0 AND n_b > 0)
         |SELECT event_type, n_a, n_b,
         |  (s2a - n_a * (n_a + 1))::DOUBLE / 2.0::DOUBLE AS u_a,
         |  ROUND(CASE WHEN n_a + n_b > 1 THEN
         |    ((s2a - n_a * (n_a + 1))::DOUBLE / 2.0::DOUBLE
         |      - n_a::DOUBLE * n_b / 2.0::DOUBLE)
         |    / sqrt(n_a::DOUBLE * n_b * (n_a + n_b + 1) / 12.0::DOUBLE)
         |    END, 6) + 0.0 AS z
         |FROM f""".stripMargin,

    "q284_jackknife" ->
      s"""WITH g AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS s
         |  FROM documents GROUP BY 1),
         |t AS (
         |  SELECT CAST(SUM(n_docs) AS BIGINT) AS nn,
         |    CAST(SUM(s) AS BIGINT) AS ss, COUNT(*) AS ng
         |  FROM g)
         |SELECT source, n_docs,
         |  ROUND((ss - s)::DOUBLE / (nn - n_docs), 6) AS loo_mean,
         |  ROUND(ng * (ss::DOUBLE / nn)
         |    - (ng - 1) * ((ss - s)::DOUBLE / (nn - n_docs)), 6) + 0.0
         |    AS pseudo_value,
         |  ROUND(ss::DOUBLE / nn - (ss - s)::DOUBLE / (nn - n_docs), 6)
         |    + 0.0 AS influence
         |FROM g, t""".stripMargin,

    "q280_ab_power" ->
      s"""WITH a AS (
         |  SELECT event_type, COUNT(*) AS n_obs,
         |    CAST(SUM(CAST(value AS DECIMAL(24,4))) AS DOUBLE) AS s1,
         |    CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE)
         |      AS s2
         |  FROM events GROUP BY 1 HAVING COUNT(*) > 1),
         |b AS (
         |  SELECT event_type, n_obs, s1 / n_obs AS mean,
         |    (s2 - s1 * s1 / n_obs) / (n_obs - 1) AS var,
         |    0.05::DOUBLE * (s1 / n_obs) AS mde
         |  FROM a)
         |SELECT event_type, n_obs,
         |  ROUND(mean, 6) + 0.0 AS mean_value,
         |  ROUND(var, 6) AS variance,
         |  ROUND(mde, 6) + 0.0 AS mde,
         |  CASE WHEN mde * mde > 0.0::DOUBLE AND var > 0.0::DOUBLE
         |    THEN CAST(CEIL(2.0::DOUBLE * var * $AbPowerZSum2
         |      / (mde * mde)) AS BIGINT) END AS n_per_arm
         |FROM b""".stripMargin,

    "q276_skew_profile" -> {
      def prof(src: String, key: String, tag: String) =
        s"""SELECT '$tag' AS key_col, CAST(SUM(c) AS BIGINT) AS n_rows,
           |  COUNT(*) AS n_keys, MAX(c) AS max_freq,
           |  ROUND((MAX(c) * COUNT(*))
           |    / CAST(SUM(c) AS BIGINT)::DOUBLE, 6) AS skew_factor
           |FROM (SELECT CAST($key AS VARCHAR) AS k, COUNT(*) AS c
           |      FROM $src GROUP BY 1)""".stripMargin
      Seq(prof("lineitem", "l_suppkey", "lineitem.l_suppkey"),
        prof("lineitem", "l_orderkey", "lineitem.l_orderkey"),
        prof("events", "user_id", "events.user_id"),
        prof("documents", "source", "documents.source"))
        .mkString("\nUNION ALL\n")
    },

    "q268_modified_z" ->
      s"""WITH med AS (
         |  SELECT source, quantile_cont(n_chars, 0.5) AS med
         |  FROM documents GROUP BY 1),
         |mad AS (
         |  SELECT source, quantile_cont(abs(n_chars - med), 0.5) AS mad
         |  FROM documents JOIN med USING (source) GROUP BY 1)
         |SELECT d.source, COUNT(*) AS n_docs, MIN(med) AS median_chars,
         |  MIN(mad) AS mad_chars,
         |  CAST(SUM(CASE WHEN mad > 0.0::DOUBLE AND
         |      abs(0.6745::DOUBLE * (n_chars - med) / mad) > 3.5::DOUBLE
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  ROUND(CAST(SUM(CASE WHEN mad > 0.0::DOUBLE AND
         |      abs(0.6745::DOUBLE * (n_chars - med) / mad) > 3.5::DOUBLE
         |    THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE / COUNT(*), 6)
         |    AS outlier_frac
         |FROM documents d JOIN med USING (source) JOIN mad USING (source)
         |GROUP BY 1""".stripMargin,

    "q271_poisson_bootstrap" -> {
      val thr = poissonThr60
      val cases = thr.zipWithIndex
        .map { case (t, k) => s"WHEN h < $t THEN $k" }
        .mkString(" ")
      s"""WITH f AS (
         |  SELECT doc_id, n_chars, b,
         |    ('0x' || substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
         |      || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM documents, unnest(range(0, 50)) AS t(b)),
         |r AS (
         |  SELECT b,
         |    CAST(SUM((CASE $cases ELSE 7 END) * n_chars) AS BIGINT)
         |      AS sx,
         |    CAST(SUM(CASE $cases ELSE 7 END) AS BIGINT) AS sw
         |  FROM f GROUP BY 1),
         |m AS (
         |  SELECT b, sx::DOUBLE / sw AS mean,
         |    ROW_NUMBER() OVER (ORDER BY sx::DOUBLE / sw, b) AS rn
         |  FROM r),
         |ci AS (
         |  SELECT COUNT(*) AS n_replicates,
         |    MAX(CASE WHEN rn = 2 THEN mean END) AS ci_lo,
         |    MAX(CASE WHEN rn = 49 THEN mean END) AS ci_hi
         |  FROM m)
         |SELECT COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT)::DOUBLE / COUNT(*) AS mean_full,
         |  MIN(n_replicates) AS n_replicates, MIN(ci_lo) AS ci_lo,
         |  MIN(ci_hi) AS ci_hi
         |FROM documents, ci""".stripMargin
    },

    "q223_psi_drift" ->
      s"""WITH d AS (
         |  SELECT event_type, value, epoch_us(ts) // $DAY_US AS day
         |  FROM events),
         |mid AS (SELECT floor((MIN(day) + MAX(day)) / 2) AS mid FROM d),
         |th AS (SELECT quantile_cont(value,
         |  [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS t FROM d),
         |binned AS (
         |  SELECT event_type,
         |    CASE WHEN day <= mid THEN 1 ELSE 2 END AS p,
         |    len(list_filter(t, x -> x < value)) + 1 AS bin
         |  FROM d, mid, th),
         |c AS (
         |  SELECT event_type, bin,
         |    CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN p = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM binned GROUP BY 1, 2),
         |n AS (
         |  SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
         |    CAST(SUM(c2) AS BIGINT) AS n2
         |  FROM c GROUP BY 1),
         |terms AS (
         |  SELECT c.event_type, n1, n2,
         |    ROUND(((c2 + 1)::DOUBLE / (n2 + 10) - (c1 + 1)::DOUBLE / (n1 + 10))
         |      * ln(((c2 + 1)::DOUBLE / (n2 + 10)) /
         |           ((c1 + 1)::DOUBLE / (n1 + 10))), 8) AS term
         |  FROM c JOIN n USING (event_type))
         |SELECT event_type, MAX(n1) AS n_before, MAX(n2) AS n_after,
         |  ROUND(${Det.sumDetSql("term", 8)}, 6) AS psi,
         |  ROUND(${Det.sumDetSql("term", 8)}, 6) > 0.2::DOUBLE AS drifted
         |FROM terms GROUP BY 1""".stripMargin,

    "q224_dp_counts" ->
      s"""WITH c AS (
         |  SELECT event_type, epoch_us(ts) // $DAY_US AS day, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |u AS (
         |  SELECT event_type, day, n,
         |    (('0x' || substr(md5('dp1:' || event_type || ':' ||
         |        CAST(day AS VARCHAR)), 1, 8))::BIGINT + 0.5::DOUBLE)
         |      / 4294967296.0::DOUBLE AS uu
         |  FROM c)
         |SELECT event_type, day, n,
         |  ROUND(n - sign(uu - 0.5::DOUBLE) *
         |    ln(1.0::DOUBLE - 2.0::DOUBLE * abs(uu - 0.5::DOUBLE)), 6)
         |    AS noisy_n
         |FROM u""".stripMargin,

    "q180_revenue_pareto" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(24,8))) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |th AS (SELECT quantile_cont(revenue,
        |  [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS t FROM rev),
        |tot AS (SELECT CAST(SUM(CAST(revenue AS DECIMAL(24,8))) AS DOUBLE)
        |        AS total FROM rev),
        |b AS (
        |  SELECT o_custkey, revenue,
        |    CAST(len(list_filter(t, x -> x < revenue)) + 1 AS BIGINT)
        |      AS decile
        |  FROM rev, th)
        |SELECT decile, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(revenue AS DECIMAL(24,8))) AS DOUBLE)
        |    AS decile_revenue,
        |  ROUND(CAST(SUM(CAST(revenue AS DECIMAL(24,8))) AS DOUBLE)
        |    / MAX(total), 6) AS share
        |FROM b, tot GROUP BY 1""".stripMargin,

    "q177_time_to_event" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
         |s AS (SELECT user_id, MIN(ts_us) AS t0 FROM e
         |      WHERE event_type = 'signup' GROUP BY 1),
         |p AS (SELECT user_id, MIN(ts_us) AS tp FROM e
         |      WHERE event_type = 'purchase' GROUP BY 1)
         |SELECT t0 // ${7L * DAY_US} AS cohort_week, COUNT(*) AS n_converted,
         |  MEDIAN(tp - t0) AS median_lag_us,
         |  MIN(tp - t0) AS min_lag_us, MAX(tp - t0) AS max_lag_us
         |FROM s JOIN p USING (user_id) WHERE tp >= t0
         |GROUP BY 1""".stripMargin,

    "q176_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |s AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS to_type
        |  FROM e),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  ROUND(n::DOUBLE / CAST(SUM(n) OVER (PARTITION BY from_type)
        |    AS DOUBLE), 6) AS p
        |FROM c""".stripMargin,

    "q175_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |  FROM events),
        |v AS (SELECT event_id AS view_id, user_id, ts_us AS v_us
        |      FROM e WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts_us AS p_us,
        |        value AS amount
        |      FROM e WHERE event_type = 'purchase')
        |SELECT view_id, purchase_id, user_id, p_us - v_us AS lag_us, amount
        |FROM v JOIN p USING (user_id)
        |WHERE p_us >= v_us AND p_us - v_us <= 3600000000""".stripMargin,

    "q172_ntile_deciles" ->
      s"""WITH d AS (
         |  SELECT event_type, value,
         |    CAST(NTILE(10) OVER (PARTITION BY event_type
         |      ORDER BY value, event_id) AS BIGINT) AS decile
         |  FROM events)
         |SELECT event_type, decile, COUNT(*) AS n,
         |  MIN(value) AS min_v, MAX(value) AS max_v,
         |  ${Det.sumDetSql("value")} AS sum_v
         |FROM d GROUP BY 1, 2""".stripMargin,

    "q202_profile" -> profileOracle,

    "q206_seq_pattern" -> {
      val ms = SeqPats.zipWithIndex.map { case ((_, re), i) =>
        s"CAST(SUM(CASE WHEN regexp_matches(seq, '$re') THEN 1 ELSE 0 END) AS BIGINT) AS m$i"
      }
      val rows = SeqPats.zipWithIndex.map { case ((name, _), i) =>
        s"""SELECT '$name' AS pattern, n AS n_sessions, m$i AS n_matched,
           |  ROUND(m$i::DOUBLE / n, 6) AS share FROM a""".stripMargin
      }
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
         |  FROM events),
         |m AS (
         |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
         |      OR ts_us - lag(ts_us) OVER w > ${30L * MIN_US} THEN 1 ELSE 0 END AS nw
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (
         |  SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |    AS session_id FROM m),
         |sq AS (
         |  SELECT user_id, session_id,
         |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS seq
         |  FROM s GROUP BY 1, 2),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, ${ms.mkString(",\n  ")}
         |      FROM sq)
         |${rows.mkString("\nUNION ALL\n")}""".stripMargin
    }
  )

  /** q202's oracle, generated from the same (column, kind) schema list
    * the Spark profiler introspects — one aggregate CTE, one SELECT per
    * column row. */
  private lazy val profileOracle: String = {
    val cols: Seq[(String, String)] = Seq(
      "l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
      "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double",
      "l_tax" -> "double", "l_returnflag" -> "string",
      "l_linestatus" -> "string", "l_shipdate" -> "timestamp")
    val aggs = cols.flatMap { case (c, k) =>
      val base = Seq(
        s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}__nulls",
        s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS ${c}__nd")
      val typed = k match {
        case "int" => Seq(
          s"CAST(MIN($c) AS DOUBLE) AS ${c}__min",
          s"CAST(MAX($c) AS DOUBLE) AS ${c}__max",
          s"ROUND(CAST(SUM(CAST($c AS DECIMAL(24,0))) AS DOUBLE) / COUNT($c), 6) AS ${c}__mean")
        case "double" => Seq(
          s"MIN($c) AS ${c}__min",
          s"MAX($c) AS ${c}__max",
          s"ROUND(${Det.avgDetSql(c)}, 6) AS ${c}__mean")
        case "string" => Seq(
          s"MIN($c) AS ${c}__smin", s"MAX($c) AS ${c}__smax")
        case "timestamp" => Seq(
          s"strftime(MIN($c), '%Y-%m-%d %H:%M:%S') AS ${c}__smin",
          s"strftime(MAX($c), '%Y-%m-%d %H:%M:%S') AS ${c}__smax")
      }
      base ++ typed
    }
    val rows = cols.map { case (c, k) =>
      val numeric = k == "int" || k == "double"
      val minNum = if (numeric) s"${c}__min" else "CAST(NULL AS DOUBLE)"
      val maxNum = if (numeric) s"${c}__max" else "CAST(NULL AS DOUBLE)"
      val mean = if (numeric) s"${c}__mean" else "CAST(NULL AS DOUBLE)"
      val minStr = if (!numeric) s"${c}__smin" else "CAST(NULL AS VARCHAR)"
      val maxStr = if (!numeric) s"${c}__smax" else "CAST(NULL AS VARCHAR)"
      s"""SELECT '$c' AS col_name, '$k' AS dtype, n AS n_rows,
         |  ${c}__nulls AS n_nulls, ${c}__nd AS n_distinct,
         |  $minNum AS min_num, $maxNum AS max_num, $mean AS mean,
         |  $minStr AS min_str, $maxStr AS max_str FROM a""".stripMargin
    }
    s"""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  ${aggs.mkString(",\n  ")}
       |FROM lineitem)
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q153's oracle: [[graft.ops.PageRank]]'s 5 iterations unrolled as CTEs
    * r1..r5, identical scaled-integer arithmetic (`//` = Spark's `div`;
    * every SUM cast back to BIGINT because DuckDB widens BIGINT sums to
    * HUGEINT). */
  private lazy val pagerankSql: String = {
    val S = graft.ops.PageRank.SCALE
    val iter = (k: Int) =>
      s"""r$k AS (
         |  SELECT n0.node,
         |    (15 * (SELECT $S // n FROM n) + 85 * COALESCE(m.in_mass, 0)) // 100 AS pr
         |  FROM nodes n0 LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(r.pr // d.deg) AS BIGINT) AS in_mass
         |    FROM r${k - 1} r JOIN deg d USING (node)
         |    JOIN edges e ON e.src = r.node
         |    GROUP BY 1) m USING (node))""".stripMargin
    s"""WITH cs AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS (SELECT c AS src, s AS dst FROM cs
       |          UNION ALL SELECT s AS src, c AS dst FROM cs),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst AS node FROM edges),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, (SELECT $S // n FROM n) AS pr FROM nodes),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  pr AS rank_scaled
       |FROM r5""".stripMargin
  }

  /** q193's oracle: personalized PageRank unrolled — the teleport base is
    * a per-node column (SCALE/|S| on the seed customers, 0 elsewhere) and
    * ranks initialize to it, mirroring [[graft.ops.PageRank]]'s
    * `seeds` path cell-for-cell in the same scaled-integer arithmetic. */
  private lazy val pprSql: String = {
    val S = graft.ops.PageRank.SCALE
    val iter = (k: Int) =>
      s"""r$k AS (
         |  SELECT t.node,
         |    (15 * t.tb + 85 * COALESCE(m.in_mass, 0)) // 100 AS pr
         |  FROM tb t LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(r.pr // d.deg) AS BIGINT) AS in_mass
         |    FROM r${k - 1} r JOIN deg d USING (node)
         |    JOIN edges e ON e.src = r.node
         |    GROUP BY 1) m USING (node))""".stripMargin
    s"""WITH cs AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS (SELECT c AS src, s AS dst FROM cs
       |          UNION ALL SELECT s AS src, c AS dst FROM cs),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst AS node FROM edges),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
       |seeds AS (SELECT DISTINCT c AS node FROM cs WHERE c <= 100),
       |ns AS (SELECT COUNT(*) AS ns FROM seeds),
       |tb AS (
       |  SELECT n0.node,
       |    CASE WHEN sd.node IS NOT NULL THEN (SELECT $S // ns FROM ns)
       |         ELSE 0 END AS tb
       |  FROM nodes n0 LEFT JOIN seeds sd USING (node)),
       |r0 AS (SELECT node, tb AS pr FROM tb),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  pr AS rank_scaled
       |FROM r5""".stripMargin
  }

  /** q187's oracle: the dangling-redistribution variant unrolled the same
    * way — per round the scalar subquery over `r(k-1) ⋈ dang` is the
    * dangling mass, floor-shared across all n nodes BEFORE damping,
    * mirroring [[graft.ops.PageRank]]'s broadcast 1-row cross join.
    * All sums cast back to BIGINT (DuckDB widens to HUGEINT). */
  private lazy val pagerankDanglingSql: String = {
    val S = graft.ops.PageRank.SCALE
    val iter = (k: Int) =>
      s"""r$k AS (
         |  SELECT n0.node,
         |    (15 * (SELECT $S // n FROM n) + 85 * (COALESCE(m.in_mass, 0)
         |      + (SELECT CAST(COALESCE(SUM(r.pr), 0) AS BIGINT)
         |         FROM r${k - 1} r JOIN dang USING (node)) // (SELECT n FROM n)
         |    )) // 100 AS pr
         |  FROM nodes n0 LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(r.pr // d.deg) AS BIGINT) AS in_mass
         |    FROM r${k - 1} r JOIN deg d USING (node)
         |    JOIN edges e ON e.src = r.node
         |    GROUP BY 1) m USING (node))""".stripMargin
    s"""WITH cs AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS (SELECT c AS src, s AS dst FROM cs),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst AS node FROM edges),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |dang AS (SELECT node FROM nodes
       |         WHERE node NOT IN (SELECT src FROM edges)),
       |r0 AS (SELECT node, (SELECT $S // n FROM n) AS pr FROM nodes),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  pr AS rank_scaled
       |FROM r5""".stripMargin
  }
}
