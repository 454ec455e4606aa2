package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.core.Pin.Syntax

/** Structured Streaming variant of the sliding-window SQA aggregation
  * (SURVEY §2.8 — the reference is pure batch; this is the engine's
  * incremental extension, same window expressions + a watermark).
  *
  * The batch reference computes per-window beat/artifact counts over a
  * sample-clock window (A4); the streaming form computes the identical
  * aggregate over event-time windows with late-data tolerance, so a
  * dashboard can follow a live device feed. `readStream` over a parquet
  * directory is also the natural backfill path: the same plan runs over
  * historical data by swapping in `read`.
  */
object StreamingSqa {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Sliding per-user quality counts over event-time windows. */
  def qualityCounts(events: DataFrame, windowDur: String = "1 hour",
      slideDur: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") =!= "error", 1)).as("n_valid"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        sum(col("value").cast("decimal(24,4)")).cast("double").as("sum_value"))

  /** Streaming form of the A4 rolling SQA metrics (reference
    * SQA.py:199-268 window shape): per-subject sliding event-time windows
    * carrying the beat/artifact counts, artifact percentage, and the
    * invalid flag of the batch metrics table. Every aggregate is
    * distributive (counts + a ratio of counts), so the plan is an
    * incremental stateful window aggregation — no per-window re-scan —
    * and the SAME function body runs on a batch frame for parity. */
  def rollingSqaMetrics(events: DataFrame, windowDur: String = "10 minutes",
      slideDur: String = "5 minutes", watermark: String = "30 minutes"): DataFrame = {
    val beatTypes = graft.core.SignalFrame.BEAT_TYPES
    val isBeat = col("event_type").isin(beatTypes: _*)
    val isArtifact = isBeat && col("value") > 150
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur), col("user_id"))
      .agg(
        count(when(isBeat, 1)).as("n_detected"),
        count(when(isArtifact, 1)).as("n_artifact"),
        bround(lit(100.0) * count(when(isArtifact, 1)) /
          greatest(count(when(isBeat, 1)), lit(1L)), 2).as("pct_artifact"),
        count(when(col("event_type") === "error", 1)).as("n_error"))
      .withColumn("invalid",
        when(col("n_detected") === 0 || col("pct_artifact") > lit(50.0), 1))
  }

  /** Gap-based session statistics via the native `session_window`
    * aggregation — the streaming form of the q141 sessionization (whose
    * batch plan derives ordinal session ids with lag + running sum; the
    * session BOUNDARIES are identical, `session_window.end` = last event
    * + gap by definition). State is one open window per (user, session),
    * merged incrementally as events arrive and finalized once the
    * watermark passes the gap — no per-session re-scan, no unbounded
    * state. The same body runs unchanged on a batch frame for parity. */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(24,8)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("session.start").as("start"),
        col("session.end").as("end"), col("n_events"), col("sum_value"))

  /** Streaming form of the q206 sequence-pattern detection: per closed
    * session, the ordered event-type string plus one boolean per
    * pattern. Rides the same `session_window` state as [[sessionStats]]
    * (one open window per (user, session), finalized when the watermark
    * passes the gap); the event order inside a session is recovered by
    * sorting the session's collected (ts, event_id, type) triples — a
    * per-SESSION bounded sort at finalization, never a stream-wide one.
    * Patterns are [[graft.queries.Relational.SeqPats]], so batch, oracle,
    * and stream share one definition. Same body runs on a batch frame
    * for parity (StreamingSpec). */
  def sessionPatterns(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame = {
    val seq = concat_ws(">", transform(
      array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))),
      x => x.getField("event_type")))
    val base = events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(seq.as("seq"))
    graft.queries.Relational.SeqPats.foldLeft(
      base.select(col("user_id"), col("session.start").as("start"),
        col("seq"))) { case (df, (name, re)) =>
      df.withColumn(name, col("seq").rlike(re))
    }
  }

  /** Streaming form of the q158 trending counts: 3-hour sliding windows
    * (1-hour slide) of per-type event counts, incrementally maintained
    * window state (one distributive count per (window, type) — never a
    * per-window re-scan) finalized as the watermark passes. Ranking to
    * top-k happens on READ over the bounded (window, type) table — the
    * standard streaming split: keep the heavy streaming aggregation
    * incremental, leave the tiny non-incremental rank to the consumer.
    * A window [start, start+3h) corresponds to q158's covering hours
    * start/1h .. start/1h + 2. Same body runs on a batch frame for
    * parity. */
  def trendingCounts(events: DataFrame, windowDur: String = "3 hours",
      slideDur: String = "1 hour", watermark: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Per-subject inter-beat intervals over a live event feed — the
    * streaming analog of the batch lag-diff (W1). Custom state via
    * `flatMapGroupsWithState`: each subject's state is the timestamp of
    * its last seen beat, carried ACROSS micro-batches, so the first beat
    * of a new batch still gets its interval against the previous batch's
    * last beat. Rows inside a batch are sorted per subject before the
    * walk; a beat at or before the saved state is LATE (violates the
    * append-ordered device-feed contract) and is dropped rather than
    * emitting a negative interval. State is BOUNDED: a subject silent for
    * `idleGap` of event time has its entry evicted (event-time timeout
    * against the watermark), and its next beat starts a fresh IBI chain —
    * session-window semantics, same rationale as streamingExactDedup.
    * Emitted in Append mode: each interval is final when it appears. */
  def streamingIbis(events: DataFrame, watermark: String = "10 minutes",
      idleGapMs: Long = 60L * 60 * 1000): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val tsMs = it.map(_._2.getTime).toArray.sorted
            val out = Array.newBuilder[(Long, Long, Double)]
            var last = if (state.exists) state.get else Long.MinValue
            tsMs.foreach { t =>
              if (t > last) {
                if (last != Long.MinValue) out += ((uid, t, (t - last).toDouble))
                last = t
              } // else: late arrival — dropped
            }
            if (last != Long.MinValue) {
              state.update(last)
              state.setTimeoutTimestamp(last + idleGapMs)
            }
            out.result().iterator
          }
      }
  }

  /** Stream-STREAM interval join: each purchase attributed to the same
    * user's view events in the preceding `lagBound` — the classic
    * attribution join, and the Structured Streaming feature class the
    * other streaming ops don't cover (two unbounded sides). Both sides
    * carry watermarks and the join condition time-bounds the match, so
    * state on each side is evicted once the watermark passes the bound —
    * bounded buffers however long the feeds run. Inner join in append
    * mode: a pair is final the moment both sides are present. The same
    * body joins two batch frames for parity. */
  def streamingAttribution(views: DataFrame, purchases: DataFrame,
      watermark: String = "2 hours", lagBound: String = "1 hour"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"),
      col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("p_ts"),
      col("value").as("amount"))
      .withWatermark("p_ts", watermark)
    v.join(p, expr(
      s"""v_user = p_user AND p_ts >= v_ts AND
         |p_ts <= v_ts + interval $lagBound""".stripMargin.replace("\n", " ")))
      .select(col("view_id"), col("purchase_id"),
        col("v_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("lag_us"),
        col("amount"))
  }

  /** Streaming rolling z-score anomalies — the stateful analog of the
    * q165 batch monitor. State per user is the ring of the last `winSize`
    * values as EXACT 1e-4-scaled longs (events `value` carries <= 4
    * decimals), carried across micro-batches via `flatMapGroupsWithState`,
    * so Σx and Σx² are exact integer sums (v4 <= 5.7e6 → v4² · 20 ≈ 6e14,
    * far inside Long) and the emitted z is bit-deterministic however the
    * feed is micro-batched. Rows inside a batch walk in (ts, value)
    * order; a row at or before the saved clock is late and dropped
    * (append-ordered feed contract, as [[streamingIbis]]). State is
    * bounded twice over: `winSize` values per user, and idle users evict
    * on event-time timeout. Emits (user_id, ts_ms, value, n_win, z,
    * is_anomaly) once the window holds `minN` values with positive
    * variance. */
  def streamingZScores(events: DataFrame, winSize: Int = 20, minN: Int = 10,
      zThresh: Double = 3.0, watermark: String = "10 minutes",
      idleGapMs: Long = 60L * 60 * 1000)
      : Dataset[(Long, Long, Double, Int, Double, Boolean)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"),
        col("value").cast("double"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[Long], Long),
        (Long, Long, Double, Int, Double, Boolean)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp, Double)],
            state: GroupState[(Seq[Long], Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rows = it.map { case (_, t, v) => (t.getTime, v) }
              .toArray.sortBy { case (t, v) => (t, v) }
            var (ring, last) =
              if (state.exists) state.get else (Seq.empty[Long], Long.MinValue)
            val buf = scala.collection.mutable.ArrayBuffer(ring: _*)
            val out = Array.newBuilder[(Long, Long, Double, Int, Double, Boolean)]
            rows.foreach { case (t, v) =>
              if (t > last) {
                last = t
                buf += math.rint(v * 1e4).toLong
                if (buf.length > winSize) buf.remove(0)
                val n = buf.length
                if (n >= minN) {
                  var s1 = 0L; var s2 = 0L
                  buf.foreach { x => s1 += x; s2 += x * x }
                  val mean = s1.toDouble / 1e4 / n
                  val variance =
                    (s2.toDouble / 1e8 - (s1.toDouble / 1e4) * (s1.toDouble / 1e4) / n) / (n - 1)
                  if (variance > 0) {
                    val z = (v - mean) / math.sqrt(variance)
                    out += ((uid, t, v, n, math.rint(z * 1e6) / 1e6,
                      math.abs(z) > zThresh))
                  }
                }
              } // else: late arrival — dropped
            }
            if (last != Long.MinValue) {
              state.update((buf.toSeq, last))
              state.setTimeoutTimestamp(last + idleGapMs)
            }
            out.result().iterator
          }
      }
  }

  private val DAY_MS = 86400000L
  private val WEEK_MS = 7L * DAY_MS

  /** Streaming new-vs-returning classification — the stateful twin of the
    * q185 growth decomposition. State per user is ONE long (the first-seen
    * event-time day), carried across micro-batches under `NoTimeout`
    * (evicting would reclassify a returning user as new — the batch
    * semantics have no retention horizon, and the state table is bounded
    * by user cardinality at ~tens of bytes each). Emits one row per event
    * `(user_id, day, is_new)`; the daily rollup (n_events / n_new /
    * n_users) happens on read over the emitted rows — the same
    * aggregate-on-read split as [[trendingCounts]]'s top-k. Exact batch
    * parity under the per-user nondecreasing-day feed contract (rows
    * inside a batch are day-sorted first); a LATE earlier day still
    * classifies itself correctly against the updated minimum, but append
    * mode cannot retract rows the stale first-day already classified —
    * the same append-ordered contract as [[streamingIbis]]. */
  def streamingNewVsReturning(events: DataFrame)
      : Dataset[(Long, Long, Boolean)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          val days = it.map(t => Math.floorDiv(t._2.getTime, DAY_MS))
            .toArray.sorted
          var first = if (state.exists) state.get else Long.MaxValue
          val out = days.map { d =>
            if (d < first) first = d
            (uid, d, d == first)
          }
          if (first != Long.MaxValue) state.update(first)
          out.iterator
      }
  }

  /** Streaming week-over-week churn — the watermark-finalized twin of the
    * batch q181. State per user is the last distinct active week; a row
    * `(user_id, week, churned)` is emitted for week w exactly when w's
    * verdict is FINAL, through either of two paths: (a) the user's next
    * event lands in week w' > w (retained iff w' = w+1), or (b) the
    * event-time timeout fires once the watermark passes the END of week
    * w+1 with no such event — absence-of-activity made definite by the
    * watermark, which is precisely what a batch job reads off the closed
    * table. A user returning after a timeout starts a fresh chain (its
    * churned-at-w verdict was already correct — later activity cannot
    * un-churn week w). The weekly rollup (n_active / n_churned / rate)
    * aggregates the emitted rows on read. Weeks still inside the
    * watermark horizon stay pending — the streaming form of the batch
    * query's last-week exclusion. */
  def streamingChurn(events: DataFrame, watermark: String = "1 hour")
      : Dataset[(Long, Long, Boolean)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // watermark passed the end of week last+1 with no activity
            val w = state.get
            state.remove()
            Iterator.single((uid, w, true))
          } else {
            val weeks = it.map(t => Math.floorDiv(t._2.getTime, WEEK_MS))
              .toArray.sorted.distinct
            val out = Array.newBuilder[(Long, Long, Boolean)]
            var last = if (state.exists) state.get else Long.MinValue
            weeks.foreach { w =>
              if (w > last) {
                if (last != Long.MinValue) out += ((uid, last, w > last + 1))
                last = w
              } // same or late week: no transition
            }
            if (last != Long.MinValue) {
              state.update(last)
              // fire once the watermark passes the end of week last+1;
              // guard: Spark rejects timeouts at or before the watermark
              state.setTimeoutTimestamp(math.max((last + 2) * WEEK_MS,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming exact dedup (the streaming analog of
    * [[graft.llm.Dedup.exactGroups]]): keep the FIRST occurrence of each
    * content hash from an unbounded document feed. State is keyed by the
    * 16-byte md5 and evicted once the event-time watermark passes
    * (`dropDuplicatesWithinWatermark`), so memory stays bounded no matter
    * how long the feed runs — the property a plain `dropDuplicates` lacks.
    * Emit is append-mode: first sighting flows through immediately. */
  def streamingExactDedup(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming incremental near-dup detection: the arriving document
    * stream is signed STATELESSLY per row ([[graft.llm.Dedup
    * .signatureExpr]] — the whole document travels in one row, so no
    * groupBy state), banded, and stream-static equi-joined against the
    * persisted index's band rows ([[graft.llm.Dedup.bandRows]], computed
    * once for the corpus). Emits one collision event per matching
    * (index doc, new doc, band); downstream dedups and exact-verifies the
    * tiny candidate set in batch ([[graft.llm.Dedup
    * .minhashPairsIncremental]] semantics). Stream-static joins need no
    * watermark — the index is a lookup table, the stream side carries no
    * state across micro-batches. */
  def incrementalDedupStream(newDocs: DataFrame, indexBands: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 8,
      numBands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / numBands
    import graft.llm.{Dedup, TextOps}
    newDocs
      .filter(size(TextOps.shingles(TextOps.words(col(textCol)), shingleN)) > 0)
      .withColumn("mh", Dedup.signatureExpr(col(textCol), shingleN, numHashes))
      .withColumn("band_keys", TextOps.bandKeys(col("mh"), numBands, rowsPerBand))
      .select(col(idCol).as("id_b"),
        posexplode(col("band_keys")).as(Seq("band_idx", "band_key")))
      .join(indexBands.select(col(idCol).as("id_a"), col("band_idx"),
        col("band_key")), Seq("band_idx", "band_key"))
      .select("id_a", "id_b", "band_idx")
  }

  /** §3.3 incremental edit-chain refresh (round-9 verdict item 8): the
    * Beat-Editor round-trip S10 → K17/K18 → metrics driven by a STREAM of
    * edit instructions. Each micro-batch of edits appends to a parquet
    * edit log and triggers a refresh — re-apply the ACCUMULATED edits to
    * the static signal frame and recompute the flagship per-segment
    * metrics — i.e. a stream-driven materialized view of the edited
    * metrics, the dashboard's edit-then-recompute flow without replaying
    * the signal.
    *
    * The edit schema is the Beat-Editor instruction shape (S10: x /
    * from / to / editType) plus `subject`, since a streaming feed is a
    * multi-recording log. ADD/DELETE rows are point edits; UNUSABLE rows
    * carry [from, to] spans. The refresh is batch recompute BY DESIGN:
    * edit application is an as-of join against history (K17 semantics),
    * so arrivals can rewrite any earlier sample's flags — the correct
    * incremental unit is the refresh, not the row. Signal scan cost per
    * refresh is one pass; callers persist `signal` when refreshing often.
    *
    * `onRefresh(batchId, metrics)` fires after each micro-batch with the
    * refreshed metrics frame. Returns the started query (caller awaits /
    * stops). */
  def editRefreshStream(signal: DataFrame, edits: DataFrame,
      editLogDir: String, fs: Int, segSize: Int)(
      onRefresh: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = signal.sparkSession
    edits.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("append").parquet(editLogDir)
        val log = spark.read.parquet(editLogDir)
        val point = log.filter(col("editType").isin("ADD", "DELETE"))
          .select(col("subject"), col("x"), col("editType"))
        val range = log.filter(col("editType") === "UNUSABLE")
          .select(col("subject"), col("from"), col("to"))
        val ed = graft.ops.BeatEdits.applyEdits(signal, point, range)
        // q63's edited-metrics projection: edited becomes the beat flag,
        // artifacts survive only where still a beat
        val sig2 = ed.select(col("subject"), col("idx"), col("ts_us"),
          col("value"), col("edited").cast("int").as("beat"),
          when(col("edited") === 1, col("artifact")).as("artifact"))
        onRefresh(batchId, graft.sqa.Cardio.computeMetrics(sig2, fs, segSize))
      }
      .start()
  }

  /** Streaming CUSUM drift detector — the stateful twin of the batch q218
    * (Page 1954 over each type's daily count series). State per event
    * type is the day→count map, BOUNDED by calendar-day cardinality (one
    * long per day per type — years of feed is thousands of entries), so
    * the group state is a per-key scalar no matter the event volume. Each
    * micro-batch merges its day counts into the state and re-folds the
    * full recursion — correct by construction because CUSUM standardizes
    * z-scores against the series' OWN mean/sd, so every new day re-prices
    * the whole series; the re-fold is over the bounded day series, not
    * the events. Emits in Update mode one row per touched type with the
    * same algebra and 6-dp rounding as the batch query; `n_total` is
    * strictly increasing per emit, so "latest row per type" is an
    * argmax-on-read, and the final row per type equals the batch answer
    * exactly. Types with n_days <= 1 or sd = 0 emit nothing, like the
    * batch filter. */
  def streamingCusum(events: DataFrame)
      : Dataset[(String, Long, Long, Double, Double, Double, Boolean)] = {
    val spark = events.sparkSession
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long],
        (String, Long, Long, Double, Double, Double, Boolean)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[(String, Long)],
            state: GroupState[Map[Long, Long]]) =>
          var m = if (state.exists) state.get else Map.empty[Long, Long]
          it.foreach { case (_, d) => m = m.updated(d, m.getOrElse(d, 0L) + 1) }
          state.update(m)
          val n = m.size
          if (n <= 1) Iterator.empty
          else {
            val counts = m.toArray.sortBy(_._1).map(_._2)
            val s1 = counts.sum
            val s2 = counts.map(c => c * c).sum
            val mean = s1.toDouble / n
            val sd = math.sqrt(
              (s2.toDouble - s1.toDouble * s1.toDouble / n) / (n - 1))
            if (!(sd > 0)) Iterator.empty
            else {
              var s = 0.0; var mx = 0.0
              counts.foreach { c =>
                s = math.max(0.0, s + (c - mean) / sd - 0.5)
                mx = math.max(mx, s)
              }
              Iterator.single((typ, s1, n.toLong, r6(mean), r6(sd), r6(mx),
                mx > 5.0))
            }
          }
      }
  }

  /** Streaming exponential-decay engagement — the sliding-re-anchor twin
    * of the batch q214. The batch score anchors every term at the CORPUS
    * max clock, which moves as the stream advances — so per-user state
    * anchors at the user's OWN last-seen instant instead:
    * sum_anchored = Σ exp((ts − last_seen_us)/τ), and each micro-batch
    * re-anchors the carried sum by one multiply,
    * `old_sum · exp((old_last − new_last)/τ)`, before adding the new
    * terms — O(1) state per user (three scalars), no event retention.
    * The global-anchor score is then a stateless rollup on read:
    * `decay_score = sum_anchored · exp((last_seen_us − max_clock)/τ)`
    * with max_clock taken over the emitted rows — exactly the algebra
    * exp(a−u)·exp(u−M) = exp(a−M). Emits Update-mode rows with strictly
    * increasing `n_events` for argmax-on-read. (The batch query's 8-dp
    * per-term rounding is an oracle-stability device with no streaming
    * counterpart; parity on the score is to float tolerance, exact on
    * n_events / last_seen_us.) */
  def streamingDecayEngagement(events: DataFrame,
      tauUs: Double = 7.0 * 86400e6): Dataset[(Long, Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Double), (Long, Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long)],
            state: GroupState[(Long, Long, Double)]) =>
          val ts = it.map(_._2).toArray.sorted
          var (n, last, sum) =
            if (state.exists) state.get else (0L, Long.MinValue, 0.0)
          val newLast = math.max(last, ts.last)
          if (last != Long.MinValue && newLast != last)
            sum *= math.exp((last - newLast) / tauUs)
          ts.foreach { t => sum += math.exp((t - newLast) / tauUs); n += 1 }
          state.update((n, newLast, sum))
          Iterator.single((uid, n, newLast, sum))
      }
  }

  /** Streaming corpus snapshot diff — the stream-static twin of the batch
    * q200 ([[graft.llm.Pipeline.corpusDiff]]): the NEW crawl generation
    * arrives as a stream, the old snapshot is the static side, collapsed
    * to (id, source, md5, chars) exactly like the batch map side — the
    * text column never enters the join. Each arriving document classifies
    * itself added / changed / unchanged against the static lookup in a
    * stateless left join, so the audit is live while the crawl is still
    * running. `removed` is inherently an end-of-stream verdict (absence
    * from an append stream is undecidable mid-flight), so it stays an
    * on-read anti-join of the static side against the emitted ids — the
    * same rollup-on-read split as [[streamingNewVsReturning]]. */
  def streamingCorpusDiff(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String, textCol: String, sourceCol: String): DataFrame = {
    val old = oldDocs.select(col(idCol),
      col(sourceCol).as("__src_o"), md5(col(textCol)).as("__h_o"),
      length(col(textCol)).cast("long").as("__chars_o"))
    newDocs
      .select(col(idCol), col(sourceCol).as("source"),
        md5(col(textCol)).as("__h_n"),
        length(col(textCol)).cast("long").as("chars_new"))
      .join(old, Seq(idCol), "left")
      .select(col(idCol), col("source"),
        when(col("__h_o").isNull, lit("added"))
          .when(col("__h_o") === col("__h_n"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("__chars_o"), lit(0L)).as("chars_old"),
        col("chars_new"))
  }

  /** Streaming twin of the q243 AMS F2 sign-sketch (Alon, Matias &
    * Szegedy 1996): over a stream of documents, Y_j = Σ_occurrences
    * s_j(w) — the batch form's Σ_w s_j(w)·c_w collapses to the same
    * exact integer, so the (source, j, y) sketch rows are a plain
    * streaming SUM: mergeable by + across micro-batches, shards, and
    * crawls alike. The estimate mean_j(Y_j²) is a driver-side fold over
    * nEst rows whenever a reader wants it; the STATE is just the sketch. */
  def streamingAmsF2(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source", nEst: Int = 16): DataFrame =
    docs.select(col(sourceCol).as("source"),
        explode(graft.llm.TextOps.words(col(textCol))).as("w"))
      .select(col("source"), posexplode(
        array((0 until nEst).map { j =>
          (lit(1L) - lit(2L) * graft.llm.TextOps.wordHash60(
            concat(lit(s"ams$j:"), col("w"))).bitwiseAND(lit(1L)))
        }: _*)).as(Seq("j", "s")))
      .groupBy("source", "j")
      .agg(sum(col("s")).as("y"), count(lit(1)).as("n_tokens"))

  /** Streaming Misra–Gries heavy hitters (Misra & Gries 1982) with the
    * classic BOUNDED k-counter state — the true streaming form of the
    * batch q264 (which reduces exact shard counts): per shard, at most
    * `k` counters; a word not among them takes a free slot or decrements
    * every counter. State is O(k) per shard REGARDLESS of stream length
    * — the memory contract that lets a heavy-hitter monitor run
    * unattended over an unbounded crawl where exact counting cannot.
    * Estimates depend on arrival order (inherent to one-pass MG), but
    * the guarantee est ≤ true ≤ est + n_shard/(k+1) — and therefore
    * "every word above that frequency floor survives" — holds for EVERY
    * order; the spec asserts the invariant, not order-dependent
    * equality. Emits (shard, word, est, n_shard) in Update mode, one
    * summary per shard per micro-batch (n_shard strictly grows, so the
    * max-n rows are the current summary); the cross-shard merge is the
    * batch operator's summarize-and-subtract applied on read. */
  def streamingMisraGries(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 8, numShards: Int = 2)
      : Dataset[(Long, String, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select((col(idCol) % numShards).as("shard"),
        explode(graft.llm.TextOps.words(col(textCol))).as("w"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Map[String, Long], Long),
        (Long, String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[(Long, String)],
            state: GroupState[(Map[String, Long], Long)]) =>
          var (m, n) =
            if (state.exists) state.get else (Map.empty[String, Long], 0L)
          it.foreach { case (_, w) =>
            n += 1
            m.get(w) match {
              case Some(c) => m = m.updated(w, c + 1)
              case None if m.size < k => m = m.updated(w, 1L)
              case None =>
                m = m.iterator.map { case (kw, c) => kw -> (c - 1) }
                  .filter(_._2 > 0).toMap
            }
          }
          state.update((m, n))
          m.iterator.map { case (w, c) => (shard, w, c, n) }
      }
  }

  /** Streaming twin of the q233 count-min sketch (Cormode &
    * Muthukrishnan 2005): the d×W counter grid is a plain streaming SUM
    * over token occurrences — the batch build's per-bucket Σ_w c_w
    * collapses to the same exact integers, so the sketch a live crawl
    * maintains is bit-identical to one rebuilt from the count table.
    * State is the FIXED d·W grid regardless of stream length; the
    * cross-shard / cross-crawl merge is +; the point-estimate probe
    * (min over the d rows) happens at read time, never in the state. */
  def streamingCountMin(docs: DataFrame, textCol: String = "text",
      width: Int = 256, depth: Int = 4): DataFrame = {
    val base =
      conv(substr(md5(col("w")), lit(1), lit(8)), 16, 10).cast("long")
    docs.select(explode(graft.llm.TextOps.words(col(textCol))).as("w"))
      .select(posexplode(array((0 until depth).map { j =>
        ((lit(graft.llm.Dedup.HASH_A(j)) * base +
          lit(graft.llm.Dedup.HASH_B(j))) %
          graft.llm.Dedup.MINHASH_P % width).cast("int")
      }: _*)).as(Seq("j", "bucket")))
      .groupBy("j", "bucket").agg(count(lit(1)).as("mass"))
  }

  /** Streaming bottom-k uniform sample (Cohen & Kaplan 2007) — q232's
    * twin: per source keep only the k docs with the smallest salted-md5
    * hash rank. State is O(k) per source REGARDLESS of stream length,
    * and — unlike Misra–Gries — the result is ORDER-INDEPENDENT: the
    * retained set after any arrival order equals the batch bottom-k
    * exactly (the k smallest of a set don't depend on visit order), so
    * the spec asserts exact parity, not just an invariant. Emits the
    * current sample (source, doc_id, hash rank, chars, n_seen) per
    * micro-batch in Update mode; the max-n_seen rows are the current
    * sample; the cross-shard merge is union-then-bottom-k on read. */
  def streamingBottomK(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source", k: Int = 64)
      : Dataset[(String, Long, String, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(sourceCol).cast("string"), col(idCol).cast("long"),
        md5(concat(lit("bk1"), col(idCol).cast("string"))),
        length(col(textCol)).cast("long"))
      .as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(String, Long, Long)], Long),
        (String, Long, String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[(String, Long, String, Long)],
            state: GroupState[(Seq[(String, Long, Long)], Long)]) =>
          var (keep, n) = if (state.exists) state.get
            else (Seq.empty[(String, Long, Long)], 0L)
          val arrived = it.map { case (_, id, h, len) => (h, id, len) }.toSeq
          n += arrived.size
          // one sort per micro-batch group invocation, then truncate:
          // the (hash, id) order is the batch query's (__h, doc_id)
          // tie-break, so retention is deterministic under hash ties.
          keep = (keep ++ arrived).sortBy(t => (t._1, t._2)).take(k)
          state.update((keep, n))
          keep.iterator.map { case (h, id, len) => (src, id, h, len, n) }
      }
  }

  /** Per-row `gramN`-token window keys of a words array `w`: the full
    * 128-bit md5 of each space-joined window, byte-identical to the batch
    * gram chain, built from array slices because streams don't support
    * the batch window `lead`; NULL when the row has fewer than `gramN`
    * words. */
  private def windowKeys(w: Column, gramN: Int): Column =
    when(size(w) >= gramN,
      transform(sequence(lit(0), size(w) - gramN),
        i => md5(array_join(slice(w, i + lit(1), lit(gramN)), " "))))

  /** Streaming twin of the q299/q300 ExactSubstr census audit (Lee et
    * al. 2022): arriving documents screen their `gramN`-token windows
    * against the PERSISTED merged gram census (q300's mergeable
    * `gk → count` table) — a window whose gram already exists in the
    * censused corpus is verbatim-duplicated the moment it arrives, so
    * the memorization-risk signal is live while the crawl is running.
    *
    * Shape: gram keys are built PER ROW (no window functions — streams
    * don't support them): the words array materializes once per row
    * behind the Generate's child projection (multi-referenced alias, so
    * CollapseProject cannot inline it — the nested-HOF O(n²) trap), and
    * each of the n−gramN+1 slices hashes independently (full 128-bit
    * md5, the q299 key). The census side is a static left join keyed on
    * gk; the rollup is a bounded per-source streaming SUM — counts are
    * the sufficient statistic, mergeable by + across micro-batches,
    * shards, and crawls, so the spec asserts exact batch parity. */
  def streamingSubstrCensus(newDocs: DataFrame, census: DataFrame,
      textCol: String = "text", sourceCol: String = "source",
      gramN: Int = 8): DataFrame = {
    newDocs
      .select(col(sourceCol).as("source"),
        graft.llm.TextOps.words(col(textCol)).as("__w"))
      .select(col("source"), explode(windowKeys(col("__w"), gramN)).as("gk"))
      .join(census.select(col("gk")).distinct()
        .withColumn("__hit", lit(1L)), Seq("gk"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_dup_windows"))
  }

  /** Streaming twin of the q320 incremental span census — the census
    * MAINTENANCE side, where [[streamingSubstrCensus]] is the screen
    * side: each arriving document's `gramN`-token window keys fold
    * into a per-key streaming COUNT (the q308 merge pattern with SUM
    * in place of MIN — occurrence counts are the census's sufficient
    * statistic and merge by + across micro-batches, shards, and crawl
    * generations), and the PERSISTED old-generation census
    * ([[graft.llm.Dedup.writeSpanCensusShard]] output) joins
    * stream-static BEFORE the aggregation, so every emitted row is the
    * MERGED `gk → count` the deletion/histogram pipelines key on — the
    * q320/q321 duplicated-key screen is live while the crawl runs.
    *
    * Shape: gram keys build per row (array slices — streams don't
    * support the batch window `lead`), byte-identical to the batch
    * gram chain (full 128-bit md5 of the space-joined window); the
    * static side contributes one constant per key (max-folded, since
    * the pre-aggregation join repeats it per occurrence); state is
    * bounded by the ARRIVING generation's gram vocabulary — the old
    * generations stay on disk. StreamingSpec asserts the live merged
    * census reproduces the from-scratch batch census bit-for-bit. */
  def streamingCensusMerge(newDocs: DataFrame, oldCensus: DataFrame,
      textCol: String = "text", gramN: Int = 8): DataFrame = {
    newDocs
      .select(graft.llm.TextOps.words(col(textCol)).as("__w"))
      .select(explode(windowKeys(col("__w"), gramN)).as("gk"))
      .join(oldCensus.select(col("gk"), col("c").as("__c0")),
        Seq("gk"), "left")
      .groupBy("gk")
      .agg((count(lit(1)) + coalesce(max(col("__c0")), lit(0L))).as("c"))
  }

  /** Streaming twin of the q323 cross-run deletion — the SERVE side of
    * ExactSubstr excision (Lee et al. 2022), completing the live census
    * triad: [[streamingSubstrCensus]] screens arrivals,
    * [[streamingCensusMerge]] maintains the census, and this APPLIES
    * the deletion: each arriving document's duplicated spans (every
    * `gramN`-token window whose gram key is duplicated in the merged
    * PERSISTED census, count ≥ 2 across all generation shards — the
    * cross-run contract, so callers write the arriving generation's own
    * shard first, exactly like the batch job) are excised and the
    * document re-emitted from its surviving tokens the moment it lands.
    * Output per document matches the batch deletion schema
    * (n_tokens / n_removed / text_clean), and StreamingSpec asserts
    * BIT parity with the batch cross-run deletion
    * ([[graft.llm.Dedup.removeDupSpans]] with a `Census.Glob`) at
    * the default span grain (minSpanLen = 0: every merged span is
    * ≥ gramN by construction, so coverage = the union of duplicated
    * windows — computable per token with no span table).
    *
    * Shape: gram keys build PER ROW (array slices — streams don't
    * support the batch window `lead`; the hash chain is byte-identical
    * to the batch gramKeys: full 128-bit md5 of the space-joined
    * window); the words array materializes once per row behind the
    * explode's child projection (multi-referenced alias). The census
    * side is a static sum-merge + `≥ 2` screen joined stream-static at
    * the window grain; the rebuild is ONE per-document streaming
    * aggregation (state bounded by in-flight documents' token structs,
    * the same per-doc bound every batch rebuild carries), and the span
    * coverage test runs as a pure post-aggregation expression over the
    * sorted token array — token i is covered iff some duplicated window
    * starts in (i−gramN, i], an O(gramN) slice-exists per token. */
  def streamingRemoveSpans(newDocs: DataFrame, census: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      gramN: Int = 8): DataFrame = {
    // the merged >=2 key set materializes ONCE (eager checkpoint): the
    // static side of a stream-static join re-evaluates per trigger, and
    // without the pin every micro-batch would re-scan and re-aggregate
    // the full multi-generation census
    // the batch path's coverage guard (merged census total >= the query
    // corpus's gram count) cannot run against an unbounded stream; what
    // CAN be checked is checked at construction — the artifact layout —
    // and the live screen twin ([[streamingSubstrCensus]]) is the
    // monitoring side that surfaces an under-covering census while the
    // crawl runs
    require(census.columns.contains("gk") && census.columns.contains("c"),
      s"census carries ${census.columns.mkString(",")} — expected the " +
        "writeSpanCensusShard (gk, c) layout")
    val dupKeys = graft.llm.Dedup.mergedDupKeys(census)
      .withColumn("__hit", lit(1))
      .pin()
    val w = col("__w")
    // one struct per token: the word + the gram key of the window
    // STARTING here (null for the last gramN-1 positions)
    val toks = transform(w, (word, i) => struct(
      word.as("__tw"),
      when(i <= size(w) - gramN,
        md5(array_join(slice(w, i + lit(1), lit(gramN)), " ")))
        .as("__gk")))
    val ts = col("__ts")
    val cov = col("__cov")
    newDocs
      .select(col(idCol), graft.llm.TextOps.words(col(textCol)).as("__w"))
      // OUTER explode + null-skipping collect: a doc with no tokens
      // (empty/null text) must still emit its (id, 0, 0, "") row — the
      // batch tail's left-join contract, pinned by StreamingSpec
      .select(col(idCol), posexplode_outer(toks).as(Seq("__pos", "__t")))
      .select(col(idCol), col("__pos"), col("__t.__tw").as("__tw"),
        col("__t.__gk").as("gk"))
      .join(dupKeys, Seq("gk"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__tw")).as("n_tokens"),
        sort_array(collect_list(when(col("__tw").isNotNull,
          struct(col("__pos"), col("__tw"),
            (col("__hit") === 1).as("__dup"))))).as("__ts"))
      // covered(i) = a duplicated window starts within the gramN-wide
      // slice ending at i (positions are dense 0..n-1, so the sorted
      // array index IS the position)
      .withColumn("__cov", transform(ts, (_, i) => exists(
        slice(ts, greatest(lit(1), i - gramN + 2), least(i + 1, lit(gramN))),
        x => coalesce(x.getField("__dup"), lit(false)))))
      .select(col(idCol), col("n_tokens"),
        aggregate(cov, lit(0L),
          (acc, c) => acc + when(c, 1L).otherwise(0L)).as("n_removed"),
        array_join(filter(zip_with(ts, cov,
          (t, c) => when(!c, t.getField("__tw"))), x => x.isNotNull), " ")
          .as("text_clean"))
  }

  /** Streaming twin of the q327 persisted-classifier serve — the LIVE
    * quality gate: arriving documents score against the PERSISTED
    * trained weight table ([[graft.llm.TextAnalysis.writeClassifier]]
    * output, read once at twin construction — numBuckets rows, the
    * bounded artifact) the moment they land, emitting the margin,
    * 6-dp probability, and keep flag per document. StreamingSpec
    * asserts exact parity with the batch serving pass on the same
    * documents and the same persisted weights.
    *
    * Shape: one explode + ONE streaming aggregation (streams allow no
    * chained aggregations, so the per-bucket counting that batch does
    * as a second groupBy runs as a pure post-aggregation expression:
    * collect the doc's bucket list, count each distinct bucket with a
    * filter-size, round each w·(c/n) term to 12 dp, and sum exactly
    * in decimal — order-free, so the batch/stream hash cannot drift).
    * Weights ride as a literal array (they ARE the model — static by
    * definition until the next train job), so the score is
    * join-free. */
  def streamingClassifierScores(newDocs: DataFrame, weightsPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5): DataFrame = {
    val w = graft.llm.TextAnalysis.readWeights(
      newDocs.sparkSession, weightsPath)
    val wArr = array(w.map(lit): _*)
    val ws = col("__w")
    val bs = col("__bs")
    val dec = "decimal(38,12)"
    newDocs
      .select(col(idCol), graft.llm.TextOps.words(col(textCol)).as("__w"))
      .filter(size(ws) > 0)
      .select(col(idCol), size(ws).cast("double").as("__n"),
        explode(ws).as("__word"))
      .select(col(idCol), col("__n"),
        pmod(graft.llm.TextOps.wordHash60(
          concat(lit("qc:"), col("__word"))), lit(w.length.toLong))
          .as("__b"))
      .groupBy(col(idCol))
      .agg(max(col("__n")).as("__n"),
        sort_array(collect_list(col("__b"))).as("__bs"))
      .withColumn("__z", aggregate(
        transform(array_distinct(bs), b =>
          round(element_at(wArr, (b + 1).cast("int")) *
            (size(filter(bs, x => x === b)).cast("double") / col("__n")),
            12).cast(dec)),
        lit(0).cast(dec), (acc, t) => (acc + t).cast(dec)))
      .withColumn("margin", round(col("__z").cast("double"), 6))
      .withColumn("prob", graft.llm.TextAnalysis.sigmoid6(col("margin")))
      .select(col(idCol), col("__n").cast("long").as("n_words"),
        col("margin"), col("prob"),
        (col("prob") >= threshold).as("keep"))
  }

  /** Streaming twin of the q308 source-churn audit: arriving new-crawl
    * documents fold into per-source MinHash signatures LIVE (the merged
    * signature is the canonical mergeable sketch — Broder's union
    * property means per-(source, hash) MIN merges identically across
    * micro-batches, shards, and crawl generations), and each signature
    * joins the PERSISTED old-generation signature to estimate the
    * cross-generation shingle Jaccard the moment the data lands — a
    * news-like source's churn is visible mid-crawl, not after it.
    *
    * Shape: shingles build PER ROW (array ops — streams don't support
    * the batch [[graft.llm.Dedup.shingleRows]] window `lead`;
    * `array_distinct` collapses within-doc repeats, and cross-doc
    * repeats are harmless under MIN), the signature is a bounded
    * streaming MIN aggregate (state = sources × numHashes longs), and
    * the old-generation side is a static broadcast join. Hash chain
    * (md5-prefix base, a·h+b mod p) is byte-identical to the batch
    * [[graft.llm.Dedup.mergedMinhash]], so the spec asserts EXACT
    * parity with the registered q308 batch query. */
  def streamingSourceChurn(newDocs: DataFrame, oldSig: DataFrame,
      textCol: String = "text", sourceCol: String = "source",
      shingleN: Int = 3, numHashes: Int = 8): DataFrame = {
    import graft.llm.Dedup.{HASH_A, HASH_B, MINHASH_P}
    val w = graft.llm.TextOps.words(col(textCol))
    val sh = when(size(w) >= shingleN, array_distinct(transform(
      sequence(lit(0), size(w) - shingleN),
      i => array_join(slice(w, i + lit(1), lit(shingleN)), " "))))
    val base = conv(substring(md5(col("shingle")), 1, 8), 16, 10)
      .cast("long")
    val mins = (0 until numHashes).map(j =>
      min((lit(HASH_A(j)) * base + lit(HASH_B(j))) % MINHASH_P)
        .as(s"__mh$j"))
    newDocs
      .select(col(sourceCol).as("source"), explode(sh).as("shingle"))
      .groupBy("source")
      .agg(mins.head, mins.tail: _*)
      .withColumn("__mb",
        array((0 until numHashes).map(j => col(s"__mh$j")): _*))
      .join(broadcast(oldSig.select(col("source"), col("mh").as("__ma"))),
        Seq("source"))
      .withColumn("n_eq", expr(
        "size(filter(zip_with(__ma, __mb, (x, y) -> x = y), v -> v))")
        .cast("long"))
      .withColumn("est_jaccard",
        round(col("n_eq").cast("double") / numHashes, 6))
      .withColumn("est_churn",
        round(lit(1.0) - col("n_eq").cast("double") / numHashes, 6))
      .select("source", "n_eq", "est_jaccard", "est_churn")
  }

  /** Streaming twin of the q306 centroid-drift sufficient statistic:
    * per-(label, dim) FIXED-POINT coordinate sums and counts over a
    * live embedding stream. The centroid cosine needs only these sums
    * (the 1/n factors cancel), and integer sums are mergeable by +
    * across micro-batches, shards, and crawl generations — so a live
    * batch can price its drift against any persisted older batch's
    * sums the moment it lands, exactly. Exact integers end-to-end; the
    * spec asserts bit parity with the batch aggregation. */
  def streamingCentroidSums(emb: DataFrame, labelCol: String = "label",
      embCol: String = "embedding"): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(transform(col(embCol).cast("array<double>"),
          x => floor(x * (1 << 24) + 0.5).cast("long"))).as(Seq("d", "sv")))
      .groupBy("label", "d")
      .agg(sum(col("sv").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))

  /** Streaming twin of the q305 IVF cell-drift monitor: arriving
    * vectors assign themselves to the FROZEN coarse quantizer PER ROW —
    * a fold over the broadcast centroid array, the same N·cells·d work
    * the batch argmax aggregate does, but with no shuffle and no
    * per-key state — and the per-cell arrival counts are a bounded
    * streaming SUM (state = nLists rows), mergeable with the persisted
    * index's cell populations on read. Assignment reproduces the batch
    * rule bit-exactly: unrounded double cosine (the HOF fold is the
    * same widen-to-double, 0.0-seed, ascending sum as DotProductF),
    * strict > over the id-ASCENDING centroid array = ties to the lower
    * centroid id, exactly max_by(struct(cos, -cent_id)). */
  def streamingIvfCellCounts(emb: DataFrame, centroids: DataFrame,
      embCol: String = "embedding"): DataFrame =
    // the shared per-row fold assignment (Similarity.foldAssignCell) —
    // one source of truth for the centroid packaging, the dot fold,
    // and the lower-id tie-break across q305, q312, q313, and this
    // twin; works on the stream because the centroid side is a static
    // broadcast and the fold keeps no per-key state.
    graft.llm.Similarity.foldAssignCell(emb, embCol, centroids)
      .groupBy("cell").agg(count(lit(1)).as("n_new"))

  /** Streaming twin of the q313 POST-SPLIT index: arriving vectors
    * route to (cell, sub) live against the frozen split index — coarse
    * cell by the shared codegen CellTop2F kernel over the broadcast
    * original quantizer, then (split cells only) the child with the
    * larger exact fixed-point cosine, via the SAME
    * [[graft.llm.Similarity.splitAssignArrivals]] rule the maintenance
    * pipeline's final reassignment uses — so for vectors that were in
    * the build this reproduces the batch q313 assignment bit-exactly
    * (asserted by StreamingSpec), and a serving index keeps ingesting
    * mid-maintenance with no semantic gap. Zero shuffle before the
    * bounded (cells + splits)-row count state; statics broadcast. */
  def streamingSplitArrivals(emb: DataFrame, cents: DataFrame,
      children: DataFrame, embCol: String = "embedding"): DataFrame =
    graft.llm.Similarity.splitAssignArrivals(emb, cents, children, embCol)
      .groupBy("cell", "sub").agg(count(lit(1)).as("n_new"))

  /** Watermarked, windowed form of [[streamingSplitArrivals]] — the
    * serving monitor's production shape: per event-time window, the
    * (cell, sub) arrival counts, with the watermark bounding state and
    * DEFINING the drop contract (an arrival older than the watermark
    * when its window has been emitted and evicted is dropped, exactly
    * the rollingSqaMetrics late-data semantics — pinned by
    * StreamingSpec). The per-row assignment is unchanged (stream-static
    * broadcast, no per-key state); only the count aggregation gains
    * event-time scoping, so state is (windows in flight) × (cells +
    * splits) rows, bounded by the watermark horizon. */
  def streamingSplitArrivalsWindowed(emb: DataFrame, cents: DataFrame,
      children: DataFrame, embCol: String = "embedding",
      tsCol: String = "ts", windowDur: String = "1 minute",
      watermark: String = "1 minute"): DataFrame =
    graft.llm.Similarity.splitAssignArrivals(
        emb.withWatermark(tsCol, watermark), cents, children, embCol)
      .groupBy(window(col(tsCol), windowDur), col("cell"), col("sub"))
      .agg(count(lit(1)).as("n_new"))

  /** Streaming twin of the q249 Benford first-digit audit: per-type
    * leading-digit counts as a streaming aggregation (counts are the
    * sufficient statistic — shares, deviations, and chi² derive from
    * them at read time). Digit extraction is the same engine-stable
    * floor-quantize + first-decimal-char as the batch query. */
  def streamingBenford(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        floor(abs(col("value")) * 10000 + 0.5).cast("long").as("__iv"))
      .filter(col("__iv") > 0)
      .withColumn("digit",
        substring(col("__iv").cast("string"), 1, 1).cast("int"))
      .groupBy("event_type", "digit")
      .agg(count(lit(1)).as("n_obs"))

  /** Run the streaming plan over a static parquet directory through the
    * memory sink until exhausted; returns the materialized result. Used by
    * tests and as the backfill demonstration. */
  def runBatchViaStream(spark: SparkSession, parquetDir: String): DataFrame =
    runStreamToMemory(spark, parquetDir, "sqa_stream")(qualityCounts(_))

  /** Run any streaming aggregation plan over a static parquet directory
    * through the memory sink until exhausted; returns the materialized
    * result. Used by tests and as the backfill demonstration. */
  def runStreamToMemory(spark: SparkSession, parquetDir: String,
      name: String)(plan: DataFrame => DataFrame): DataFrame = {
    val stream = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(parquetDir)
    val q = plan(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
