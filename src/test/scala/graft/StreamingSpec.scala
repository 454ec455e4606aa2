package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.streaming.StreamingSqa

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("streaming sliding-window quality counts match the batch plan") {
    // ns-timestamp parquet must be rewritten at us precision for the
    // streaming reader's explicit schema
    val tmp = Files.createTempDirectory("graft_stream").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)

    val streamed = StreamingSqa.runBatchViaStream(spark, tmp)
      .select("window", "user_id", "n_events", "n_valid", "n_error", "sum_value")
    val batch = StreamingSqa.qualityCounts(spark.read.parquet(tmp))
      .select("window", "user_id", "n_events", "n_valid", "n_error", "sum_value")

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming A4 rolling SQA metrics match the batch plan") {
    // The round-7 verdict's requested stateful-operator increment: the A4
    // sliding-window SQA metrics (beat/artifact counts, pct, invalid flag)
    // under window(ts, w, step) + watermark, batch parity exact.
    val tmp = Files.createTempDirectory("graft_a4_stream").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)

    val streamed = StreamingSqa.runStreamToMemory(spark, tmp, "a4_stream")(
      StreamingSqa.rollingSqaMetrics(_))
    val batch = StreamingSqa.rollingSqaMetrics(spark.read.parquet(tmp))

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming session patterns match batch and the q206 session strings") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_pat_stream").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)
    val streamed = StreamingSqa.runStreamToMemory(spark, tmp, "pat_stream")(
      StreamingSqa.sessionPatterns(_))
    val batch = StreamingSqa.sessionPatterns(spark.read.parquet(tmp))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // the (user, seq) multiset equals the q141-formulation's session
    // strings (boundaries identical, ordering identical)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val gap = 30L * 60L * 1000000L
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val q141Seqs = ev
      .withColumn("__prev", lag(col("ts_us"), 1).over(wU))
      .withColumn("__new", when(col("__prev").isNull ||
        col("ts_us") - col("__prev") > gap, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(wU))
      .groupBy("user_id", "session_id")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("event_type")))),
        x => x.getField("event_type"))).as("seq"))
      .select("user_id", "seq")
    val got = streamed.select("user_id", "seq")
    assert(got.exceptAll(q141Seqs).count() == 0)
    assert(q141Seqs.exceptAll(got).count() == 0)
    // at least one session should trip at least one pattern flag
    assert(streamed.filter(col("view_then_purchase") ||
      col("ends_in_error") || col("signup_first")).count() > 0)
  }

  test("streaming session_window sessions match the batch q141 boundaries") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_sess_stream").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)

    // stream vs batch: the same session_window body, file-at-a-time
    val streamed = StreamingSqa.runStreamToMemory(spark, tmp, "sess_stream")(
      StreamingSqa.sessionStats(_))
    val batch = StreamingSqa.sessionStats(spark.read.parquet(tmp))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)

    // session_window vs the q141 lag+cumsum formulation: identical
    // boundaries ((user, start, last_event, n_events) sets equal; the
    // native window's end = last event + gap by definition)
    val q141 = SparkEntry.queries("q141_sessionize")(spark,
      "/root/testdata/sf0.001")
      .select(col("user_id"), timestamp_micros(col("start_us")).as("start"),
        (timestamp_micros(col("end_us")) + expr("INTERVAL 30 MINUTES")).as("end"),
        col("n_events"), col("sum_value"))
    val native = batch
    assert(q141.exceptAll(native).count() == 0)
    assert(native.exceptAll(q141).count() == 0)
  }

  test("streaming trending counts match q158's covering-hour sums") {
    val tmp = Files.createTempDirectory("graft_trend").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)

    val streamed = StreamingSqa.runStreamToMemory(spark, tmp, "trend_stream")(
      StreamingSqa.trendingCounts(_))
      // window [start, start+3h) == q158's trailing window labeled hour
      // start/1h + 2; q158 only emits OBSERVED hours, so filter to them.
      .select((unix_micros(col("window.start")) / 3600000000L + 2)
        .cast("long").as("hour"), col("event_type"), col("n_events"))
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val hc = ev.groupBy(expr("ts_us div 3600000000").as("hour"),
      col("event_type")).agg(count(lit(1)).as("__n"))
    val batch = hc
      .select(explode(sequence(col("hour"), col("hour") + 2)).as("hour"),
        col("event_type"), col("__n"))
      .groupBy("hour", "event_type").agg(sum("__n").as("n_events"))
    val hours = hc.select("hour").distinct()
    val streamObs = streamed.join(hours, Seq("hour"), "left_semi")
    val batchObs = batch.join(hours, Seq("hour"), "left_semi")
    assert(streamObs.count() > 0)
    assert(streamObs.exceptAll(batchObs).count() == 0)
    assert(batchObs.exceptAll(streamObs).count() == 0)
  }

  test("stream-stream attribution join matches the batch join exactly") {
    val tmp = Files.createTempDirectory("graft_attr").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)

    def src() = spark.readStream.schema(StreamingSqa.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = StreamingSqa.streamingAttribution(
      src().filter(col("event_type") === "view"),
      src().filter(col("event_type") === "purchase"))
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("attr_stream")

    val batch = Tables.events(spark, "/root/testdata/sf0.001")
    val expected = StreamingSqa.streamingAttribution(
      batch.filter(col("event_type") === "view"),
      batch.filter(col("event_type") === "purchase"))

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(streamed).count() == 0)
  }

  test("stateful streaming z-scores match a plain-Scala replay of the walk") {
    val tmp = Files.createTempDirectory("graft_zs").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)

    val streamed = {
      val stream = spark.readStream.schema(StreamingSqa.eventSchema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val q = StreamingSqa.streamingZScores(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("zs_stream").start()
      q.processAllAvailable(); q.stop()
      spark.table("zs_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3),
          r.getDouble(4), r.getBoolean(5))).toSet
    }

    // independent replay: same ring-walk arithmetic in plain Scala
    val raw = Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "ts_us", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 1000L, r.getDouble(2)))
    val expected = raw.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.map(r => (r._2, r._3)).sortBy { case (t, v) => (t, v) }
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      var last = Long.MinValue
      sorted.flatMap { case (t, v) =>
        if (t > last) {
          last = t
          buf += math.rint(v * 1e4).toLong
          if (buf.length > 20) buf.remove(0)
          val n = buf.length
          if (n >= 10) {
            var s1 = 0L; var s2 = 0L
            buf.foreach { x => s1 += x; s2 += x * x }
            val mean = s1.toDouble / 1e4 / n
            val vr = (s2.toDouble / 1e8 -
              (s1.toDouble / 1e4) * (s1.toDouble / 1e4) / n) / (n - 1)
            if (vr > 0) {
              val z = (v - mean) / math.sqrt(vr)
              Some((uid, t, v, n, math.rint(z * 1e6) / 1e6, math.abs(z) > 3.0))
            } else None
          } else None
        } else None
      }
    }.toSet
    assert(streamed.nonEmpty)
    assert(streamed == expected)
  }

  test("stateful streaming IBIs carry last-beat state across micro-batches") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_ibi_stream").toString
    // subject 1 beats at t=1,2,4 s split across two files: the 4s beat
    // arrives in batch 2 and must pair with batch 1's last beat (2s)
    // coalesce(1): one parquet part per batch dir, so maxFilesPerTrigger=1
    // delivers each batch whole and in write order
    def df(rows: Seq[(Long, String)]) = rows.toDF("user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1)
    df(Seq((1L, "2026-01-01 00:00:01"), (1L, "2026-01-01 00:00:02"),
      (2L, "2026-01-01 00:00:05"))).write.parquet(s"$tmp/b1")
    Thread.sleep(1100) // distinct mtimes: the file source orders by them
    df(Seq((1L, "2026-01-01 00:00:04"), (2L, "2026-01-01 00:00:07")))
      .write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingIbis(stream)
      .toDF("user_id", "ts_ms", "ibi_ms")
      .writeStream.outputMode("append").format("memory")
      .queryName("ibi_stream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ibi_stream")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted.toSeq
    // subject 1: 1000 ms (1->2 s), 2000 ms (2->4 s, CROSS-batch);
    // subject 2: 2000 ms (5->7 s, cross-batch)
    assert(got == Seq((1L, 1000.0), (1L, 2000.0), (2L, 2000.0)))
  }

  test("streaming exact dedup keeps first occurrence, bounded state") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_dedup_stream").toString
    // two micro-batches (one file each): batch 2 repeats batch 1's texts
    Seq((1L, "2026-01-01 00:00:01", "alpha"), (2L, "2026-01-01 00:00:02", "beta"))
      .toDF("doc_id", "ts_s", "text")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .write.parquet(s"$tmp/b1")
    Seq((3L, "2026-01-01 00:00:03", "alpha"), (4L, "2026-01-01 00:00:04", "gamma"))
      .toDF("doc_id", "ts_s", "text")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingExactDedup(stream, "ts", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_stream").select("text").as[String]
      .collect().sorted
    // duplicate "alpha" suppressed; one row per distinct text survives
    assert(kept.toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("watermark semantics: late data into a closed window drops, open window keeps") {
    // The A4 parity tests feed in-order data; this pins the LATE-arrival
    // contract of rollingSqaMetrics in append mode (1-minute tumbling
    // windows, 1-minute watermark):
    //  - a beat arriving after its window was EMITTED AND EVICTED is
    //    dropped (no duplicate window row, no resurrected state),
    //  - a beat arriving late but into a still-open window is kept,
    //  - a window the watermark never passes is never emitted.
    // Timing note (empirical, Spark 4.1): a batch aggregates its input
    // FIRST and then emits/evicts windows the current watermark passed,
    // so a late row landing in the SAME batch as the close is still
    // aggregated — the drop guarantee starts one batch later. The feed
    // below puts one filler batch between the advance and the late row.
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_late_stream").toString
    def write(batch: String, rows: Seq[(Long, String, Long, String, Double)]): Unit = {
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .withColumn("props", lit(null).cast("string"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$tmp/$batch")
      Thread.sleep(1100) // distinct mtimes: the file source orders by them
    }
    val B = "click" // a beat type (SignalFrame.BEAT_TYPES)
    write("b1", Seq( // window [00:00, 00:01): two beats
      (1L, "2026-01-01 00:00:10", 1L, B, 1.0),
      (2L, "2026-01-01 00:00:20", 1L, B, 1.0)))
    write("b2", Seq( // advances the watermark to 00:04
      (3L, "2026-01-01 00:05:00", 1L, B, 1.0)))
    write("b3", Seq( // runs with wm=00:04 -> emits + evicts [00:00, 00:01)
      (4L, "2026-01-01 00:05:30", 1L, B, 1.0)))
    write("b4", Seq( // late into EVICTED window -> dropped; into open -> kept
      (5L, "2026-01-01 00:00:30", 1L, B, 1.0),
      (6L, "2026-01-01 00:04:30", 1L, B, 1.0)))
    write("b5", Seq( // advances watermark to 00:09 -> emits [4,5) and [5,6)
      (7L, "2026-01-01 00:10:00", 1L, B, 1.0)))

    val stream = spark.readStream.schema(StreamingSqa.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.rollingSqaMetrics(stream,
      windowDur = "1 minute", slideDur = "1 minute", watermark = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("late_stream").start()
    q.processAllAvailable()
    q.recentProgress.foreach(p => info(
      s"batch ${p.batchId}: rows=${p.numInputRows} watermark=${p.eventTime.get("watermark")}"))
    q.stop()

    val got = spark.table("late_stream")
      .select(col("window.start").cast("string"), col("n_detected"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(
      // ONE row with 2 beats: event 5 arrived after emission+eviction and
      // was dropped — a resurrected state would emit a duplicate window
      ("2026-01-01 00:00:00", 2L),
      // event 6 was late but its window was still open: kept
      ("2026-01-01 00:04:00", 1L),
      ("2026-01-01 00:05:00", 2L)),
      // and [00:10, 00:11) is absent: the watermark never passed it
      s"late-data contract violated: $got")
  }

  test("streaming edit feed refreshes edited metrics to batch-q63 parity") {
    // §3.3 as an incremental recompute: the q63 edit set arrives as a
    // rate-limited stream (3 json files -> 3 micro-batches); every batch
    // appends to the edit log and refreshes the edited-metrics view over
    // the static frame. The final refresh must equal the batch q63 result
    // EXACTLY — same edits, same chain, different arrival schedule.
    val dir = "/root/testdata/sf0.001"
    val sig = graft.core.SignalFrame.fromEvents(spark, dir).persist()
    try {
      // q63's derived edit set, serialized in the S10-plus-subject log shape
      val edits =
        sig.filter(col("beat") === 1 && col("idx") % 29 === 3)
          .select(col("subject"), col("idx").as("x"),
            lit(null).cast("long").as("from"), lit(null).cast("long").as("to"),
            lit("DELETE").as("editType"))
        .unionByName(sig.filter(col("beat").isNull && col("idx") % 31 === 7)
          .select(col("subject"), col("idx").as("x"),
            lit(null).cast("long").as("from"), lit(null).cast("long").as("to"),
            lit("ADD").as("editType")))
        .unionByName(sig.filter(col("artifact") === 1 && col("idx") % 37 === 5)
          .select(col("subject"), lit(null).cast("long").as("x"),
            col("idx").as("from"), (col("idx") + 5).as("to"),
            lit("UNUSABLE").as("editType")))
        .collect()
      assert(edits.length > 10, s"edit fixture too small: ${edits.length}")

      val feedDir = Files.createTempDirectory("graft_edit_feed").toFile
      val logDir = Files.createTempDirectory("graft_edit_log").toString + "/log"
      def js(r: org.apache.spark.sql.Row): String = {
        def f(i: Int, n: String) =
          if (r.isNullAt(i)) None else Some(s""""$n":${r.getLong(i)}""")
        (f(0, "subject") ++ f(1, "x") ++ f(2, "from") ++ f(3, "to") ++
          Some(s""""editType":"${r.getString(4)}"""")).mkString("{", ",", "}")
      }
      edits.grouped((edits.length + 2) / 3).zipWithIndex.foreach {
        case (chunk, i) =>
          val w = new java.io.PrintWriter(
            new java.io.File(feedDir, s"edits_$i.json"), "UTF-8")
          try chunk.foreach(r => w.println(js(r))) finally w.close()
      }

      val editSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("subject",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("from",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("to",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("editType",
          org.apache.spark.sql.types.StringType)))
      val feed = spark.readStream.schema(editSchema)
        .option("maxFilesPerTrigger", "1").json(feedDir.getPath)

      val refreshes = collection.mutable.ArrayBuffer.empty[Long]
      @volatile var lastMetrics: Array[org.apache.spark.sql.Row] = Array.empty
      val q = StreamingSqa.editRefreshStream(sig, feed, logDir,
        fs = 4, segSize = 10) { (batchId, metrics) =>
        refreshes.synchronized { refreshes += batchId }
        lastMetrics = metrics.collect()
      }
      try q.processAllAvailable() finally q.stop()

      assert(refreshes.size == 3, s"expected 3 refreshes, got $refreshes")
      val batch = SparkEntry.queries("q63_edited_metrics")(spark, dir).collect()
      val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf).mkString("|")
      assert(lastMetrics.map(key).sorted.toSeq == batch.map(key).sorted.toSeq,
        s"streamed refresh diverged from batch q63: " +
          s"${lastMetrics.length} vs ${batch.length} rows")
    } finally sig.unpersist()
  }

  test("stream-static incremental dedup flags the same pairs as the batch operator") {
    import spark.implicits._
    import graft.llm.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val k = docs.count() / 2
    val index = docs.filter(col("doc_id") < k)
    val fresh = docs.filter(col("doc_id") >= k)
    val tmp = Files.createTempDirectory("graft_dedup_stream").toString
    // several files -> several micro-batches under maxFilesPerTrigger=1
    fresh.repartition(3).write.mode("overwrite").parquet(tmp)

    val indexBands = Dedup.bandRows(index, "doc_id", "text").cache()
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = StreamingSqa.incrementalDedupStream(stream, indexBands,
      "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("inc_dedup").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("inc_dedup").select("id_a", "id_b")
      .distinct().as[(Long, Long)].collect().toSet
    val batch = Dedup.minhashPairsIncremental(fresh, index, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty, "vacuous corpus: no cross-half collisions")
    assert(streamed == batch)
    indexBands.unpersist()
  }

  test("stateless corpus-prep operators run unchanged on a stream") {
    // quality scoring and stratified sampling are pure expression/filter
    // transforms — the ingest-time half of the training-data pipeline —
    // so the SAME operator code serves batch and streaming.
    val tmp = Files.createTempDirectory("graft_corpus_stream").toString
    Tables.documents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)

    val docsBatch = spark.read.parquet(tmp)
    val rates = Map("en" -> 500); val dflt = 50
    val qSample = graft.llm.Pipeline
      .stratifiedSample(stream, "doc_id", "lang", rates, dflt)
      .writeStream.outputMode("append").format("memory")
      .queryName("sample_stream").start()
    val qQuality = graft.llm.TextAnalysis.quality(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("quality_stream").start()
    qSample.processAllAvailable(); qSample.stop()
    qQuality.processAllAvailable(); qQuality.stop()

    val sampleBatch = graft.llm.Pipeline
      .stratifiedSample(docsBatch, "doc_id", "lang", rates, dflt)
    assert(spark.table("sample_stream").count() == sampleBatch.count())
    assert(spark.table("sample_stream").exceptAll(sampleBatch).count() == 0)

    val qualityBatch = graft.llm.TextAnalysis.quality(docsBatch, "doc_id", "text")
    assert(spark.table("quality_stream").count() == qualityBatch.count())
    assert(spark.table("quality_stream").exceptAll(qualityBatch).count() == 0)

    // repetition stats: the batch form aggregates (countDistinct — not
    // legal on an append stream), so ingest uses the per-row expression
    // form; PII scan is a pure map. Both assert batch == stream.
    val qRep = graft.llm.Pipeline
      .repetitionStatsExpr(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("rep_stream").start()
    val qPii = graft.llm.TextAnalysis.piiScan(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("pii_stream").start()
    qRep.processAllAvailable(); qRep.stop()
    qPii.processAllAvailable(); qPii.stop()

    val repBatch = graft.llm.Pipeline.repetitionStats(docsBatch, "doc_id", "text")
    assert(spark.table("rep_stream").count() == repBatch.count())
    assert(spark.table("rep_stream").exceptAll(repBatch).count() == 0)

    // document chunking (q109) is pure explode/slice expressions — the
    // ingest-side context-window prep also runs unchanged on a stream
    val qChunk = graft.llm.Pipeline.chunkDocuments(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("chunk_stream").start()
    qChunk.processAllAvailable(); qChunk.stop()
    val chunkBatch = graft.llm.Pipeline.chunkDocuments(docsBatch, "doc_id", "text")
    assert(spark.table("chunk_stream").count() == chunkBatch.count())
    assert(spark.table("chunk_stream").exceptAll(chunkBatch).count() == 0)

    val piiBatch = graft.llm.TextAnalysis.piiScan(docsBatch, "doc_id", "text")
    assert(spark.table("pii_stream").count() == piiBatch.count())
    assert(spark.table("pii_stream").exceptAll(piiBatch).count() == 0)

    // temperature mixture (q135) stream-static: shares come from the
    // STATIC reference corpus's stats (the batch half), the per-document
    // keep decision is a stateless expression pass on the stream — the
    // same split as incrementalDedupStream's signatures-vs-index. The
    // streamed decisions must equal the batch run document-for-document.
    val stats = graft.llm.Pipeline.temperatureStats(docsBatch, "text", "source")
    val qTemp = graft.llm.Pipeline.temperatureMixtureApply(
      stream, stats, "doc_id", "text", "source", tokenBudget = 20000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("temp_stream").start()
    qTemp.processAllAvailable(); qTemp.stop()
    val tempBatch = graft.llm.Pipeline.temperatureMixture(
      docsBatch, "doc_id", "text", "source", tokenBudget = 20000L)
    assert(spark.table("temp_stream").count() == tempBatch.count())
    assert(spark.table("temp_stream").exceptAll(tempBatch).count() == 0)
  }

  test("streaming new-vs-returning matches the q185 daily decomposition") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_nvr_stream").toString
    def df(rows: Seq[(Long, String)]) = rows.toDF("user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1)
    // b1: u1 twice on day 0, u3 on day 0.
    // b2 (cross-batch state): u1 returns day 0 then day 1 (day-0 event
    // still new — state carries), u2 first appears day 1, u3 skips to
    // day 2.
    df(Seq((1L, "2026-01-01 01:00:00"), (1L, "2026-01-01 02:00:00"),
      (3L, "2026-01-01 03:00:00"))).write.parquet(s"$tmp/b1")
    Thread.sleep(1100) // distinct mtimes: the file source orders by them
    df(Seq((1L, "2026-01-01 04:00:00"), (1L, "2026-01-02 01:00:00"),
      (2L, "2026-01-02 02:00:00"), (3L, "2026-01-03 01:00:00")))
      .write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingNewVsReturning(stream)
      .toDF("user_id", "day", "is_new")
      .writeStream.outputMode("append").format("memory")
      .queryName("nvr_stream").start()
    q.processAllAvailable(); q.stop()

    // the q185 rollup on read over the emitted rows…
    val got = spark.table("nvr_stream").groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // …must equal the batch q185 body over the union of the batches
    val all = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val firstDay = all.groupBy("user_id").agg(min("day").as("first_day"))
    val batch = all.join(firstDay, Seq("user_id")).groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // day since 2026-01-01 = 20454; spot-pin one cell against the math:
    // day 0 carries u1's three events + u3's one, all new
    assert(got.contains((20454L, 4L, 4L, 2L)), s"got $got")
    assert(got == batch)
  }

  test("streaming churn finalizes weeks by watermark and matches batch q181") {
    import spark.implicits._
    val WEEK = 7L * 86400000L
    val tmp = Files.createTempDirectory("graft_churn_stream").toString
    def df(rows: Seq[(Long, String)]) = rows.toDF("user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1)
    // epoch day of 2026-01-01 is 20454 = 2922·7 exactly, so epoch-week
    // W0 = 2922 spans 2026-01-01..01-07; week k below = W0 + k.
    // u1 active weeks 0,1,2 → retained 0→1, 1→2.
    // u2 active weeks 0,2   → churned at 0 (week-1 gap).
    // u3 active week 0 only → churned at 0, finalized by TIMEOUT.
    df(Seq((1L, "2026-01-01 10:00:00"), (2L, "2026-01-02 10:00:00"),
      (3L, "2026-01-03 10:00:00"))).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    df(Seq((1L, "2026-01-08 10:00:00"), (1L, "2026-01-15 10:00:00"),
      (2L, "2026-01-16 10:00:00"))).write.parquet(s"$tmp/b2")
    Thread.sleep(1100)
    // sentinel batches: the week-4 event (2026-01-29) pushes the
    // watermark past the end of week 3, due-dating the pending week-2
    // (u1, u2) states; two sentinel batches because timeouts fire in a
    // trigger AFTER the one that advances the watermark
    df(Seq((99L, "2026-01-29 10:00:00"))).write.parquet(s"$tmp/b3")
    Thread.sleep(1100)
    df(Seq((99L, "2026-02-05 10:00:00"))).write.parquet(s"$tmp/b4")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingChurn(stream, watermark = "1 minute")
      .toDF("user_id", "week", "churned")
      .writeStream.outputMode("append").format("memory")
      .queryName("churn_stream").start()
    q.processAllAvailable(); q.stop()

    val W0 = 2922L
    // weekly rollup on read, sentinel excluded, finalized weeks 0..2
    val got = spark.table("churn_stream")
      .filter(col("user_id") =!= 99L && col("week") < W0 + 3)
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("n_churned"))
      .collect().map(r => (r.getLong(0) - W0, r.getLong(1), r.getLong(2)))
      .toSet
    // batch q181 body over the union (sentinel rows included — they only
    // shape max_week), restricted to the same finalized weeks
    val uw = spark.read.parquet(s"$tmp/b1", s"$tmp/b2", s"$tmp/b3", s"$tmp/b4")
      .select(col("user_id"),
        expr(s"unix_micros(ts) div ${7L * 86400000000L}").as("week"))
      .distinct()
    val nxt = uw.select(col("user_id"), (col("week") - 1).as("week"),
      lit(1L).as("__next"))
    val maxW = uw.agg(max("week").as("max_week"))
    val batch = uw.join(nxt, Seq("user_id", "week"), "left")
      .crossJoin(broadcast(maxW))
      .filter(col("week") < col("max_week"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__next").isNull, 1L).otherwise(0L)).as("n_churned"))
      .filter(col("week") < W0 + 3 && col("week") >= W0)
      .collect().map(r => (r.getLong(0) - W0, r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set((0L, 3L, 2L), (1L, 1L, 0L), (2L, 2L, 2L)), s"got $got")
    assert(got == batch)
  }

  test("streaming CUSUM re-folds the day series and matches batch q218") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_cusum_stream").toString
    def df(rows: Seq[(String, String)]) = rows.toDF("event_type", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1)
    // click: day counts end at (3, 1, 2); b2 ADDS to existing day 0
    // (re-fold across batches) and opens day 2. flat: (1, 1) → sd = 0,
    // must emit nothing (batch filter parity). spike: (1, 1, 1, 9) — a
    // real drift shape with cusum crossing the running-max path.
    df(Seq(("click", "2026-01-01 01:00:00"), ("click", "2026-01-01 02:00:00"),
      ("click", "2026-01-02 01:00:00"), ("flat", "2026-01-01 01:00:00"),
      ("spike", "2026-01-01 01:00:00"), ("spike", "2026-01-02 01:00:00")))
      .write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    df(Seq(("click", "2026-01-01 03:00:00"), ("click", "2026-01-03 01:00:00"),
      ("click", "2026-01-03 02:00:00"), ("flat", "2026-01-02 01:00:00"),
      ("spike", "2026-01-03 01:00:00")) ++
      (1 to 9).map(i => ("spike", f"2026-01-04 01:0$i:00")))
      .write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingCusum(stream)
      .toDF("event_type", "n_total", "n_days", "mean_daily", "sd_daily",
        "cusum_max", "drift_flag")
      .writeStream.outputMode("update").format("memory")
      .queryName("cusum_stream").start()
    q.processAllAvailable(); q.stop()

    // final verdict per type = the emit with the largest n_total
    // (strictly increasing per trigger)
    val got = spark.table("cusum_stream")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")
          .orderBy(col("n_total").desc)))
      .filter(col("__rn") === 1)
      .select("event_type", "n_days", "mean_daily", "sd_daily",
        "cusum_max", "drift_flag")
    assert(got.filter(col("event_type") === "flat").count() == 0)

    // the batch q218 body over the union of both batches
    val daily = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val batch = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("__s1"),
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
    assert(got.count() == 2)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("streaming decay engagement re-anchors and matches batch q214 algebra") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_decay_stream").toString
    def df(rows: Seq[(Long, String)]) = rows.toDF("user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1)
    // u1 spans both batches (re-anchor: its b1 sum must decay under the
    // b2 clock); u2 only in b1 (state idle across a trigger); u3 only in
    // b2. Gaps of days so the exp() terms are far from 1.
    df(Seq((1L, "2026-01-01 00:00:00"), (1L, "2026-01-03 12:00:00"),
      (2L, "2026-01-02 06:00:00"))).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    df(Seq((1L, "2026-01-10 00:00:00"), (3L, "2026-01-08 18:00:00"),
      (1L, "2026-01-12 00:00:00"))).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingDecayEngagement(stream)
      .toDF("user_id", "n_events", "last_seen_us", "sum_anchored")
      .writeStream.outputMode("update").format("memory")
      .queryName("decay_stream").start()
    q.processAllAvailable(); q.stop()

    val finalRows = spark.table("decay_stream")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("n_events").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    // rollup on read: re-anchor every user at the global max clock
    val mx = finalRows.agg(max("last_seen_us")).head.getLong(0)
    val tau = 7.0 * 86400e6
    val got = finalRows.collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3) * math.exp((r.getLong(2) - mx) / tau)))
    }.toMap
    // unrounded batch algebra over the union
    val all = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mxB = all.map(_._2).max
    assert(mxB == mx)
    val batch = all.groupBy(_._1).map { case (u, rs) =>
      u -> ((rs.length.toLong, rs.map(_._2).max,
        rs.map(t => math.exp((t._2 - mxB) / tau)).sum))
    }
    assert(got.keySet == batch.keySet && got.keySet == Set(1L, 2L, 3L))
    got.foreach { case (u, (n, l, s)) =>
      val (bn, bl, bs) = batch(u)
      assert(n == bn && l == bl, s"user $u meta mismatch")
      assert(math.abs(s - bs) <= 1e-9 * math.max(1.0, bs.abs),
        s"user $u score $s vs batch $bs")
    }
  }

  test("stream-static corpus diff classifies live and matches batch q200") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_diff_stream").toString
    val old = Seq((1L, "alpha text", "web"), (2L, "beta text", "web"),
      (3L, "gamma text", "book"), (5L, "old only", "book"))
      .toDF("doc_id", "text", "source")
    // new generation: 1 unchanged, 2 changed, 4 added, 3 changed (b2),
    // 6 added (b2); 5 never arrives → removed (on-read verdict).
    Seq((1L, "alpha text", "web"), (2L, "beta text rev2", "web"),
      (4L, "fresh doc", "web")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    Seq((3L, "gamma text rev2", "book"), (6L, "another fresh", "book"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingCorpusDiff(stream, old, "doc_id", "text",
      "source")
      .writeStream.outputMode("append").format("memory")
      .queryName("diff_stream").start()
    q.processAllAvailable(); q.stop()

    val emitted = spark.table("diff_stream")
    // removed = static docs whose id never arrived — end-of-stream on read
    val removed = old.select(col("doc_id"), col("source"),
        lit("removed").as("status"),
        length(col("text")).cast("long").as("chars_old"),
        lit(0L).as("chars_new"))
      .join(emitted.select("doc_id"), Seq("doc_id"), "left_anti")
    val got = emitted.unionByName(removed)
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum("chars_old").as("chars_old"),
        sum("chars_new").as("chars_new"))
    val batch = graft.llm.Pipeline.corpusDiff(old,
      spark.read.parquet(s"$tmp/b1", s"$tmp/b2"), "doc_id", "text", "source")
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("streaming AMS F2 sketch matches the batch count-table sketch " +
      "exactly across micro-batches") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ams_stream").toString
    Seq((1L, "a b a c a b", "web"), (2L, "b c d", "web"),
      (3L, "x y x", "book")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    Seq((4L, "a a b z", "web"), (5L, "y y y x w", "book"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingAmsF2(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("ams_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ams_stream").select("source", "j", "y")

    // batch side: q243's count-table form Σ_w s_j(w)·c_w over the union
    val freq = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .select(col("source"),
        explode(graft.llm.TextOps.words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val batch = freq.select(col("source"), col("c"), posexplode(
        array((0 until 16).map { j =>
          (lit(1L) - lit(2L) * graft.llm.TextOps.wordHash60(
            concat(lit(s"ams$j:"), col("w"))).bitwiseAND(lit(1L)))
        }: _*)).as(Seq("j", "s")))
      .groupBy("source", "j")
      .agg(sum(col("s") * col("c")).as("y"))
    assert(got.count() == 2 * 16)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("streaming Misra-Gries keeps bounded state and the one-sided bound") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("mg_stream").toString
    // skewed stream: 'hot' dominates, long tail of singletons
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "), "s")
    Seq(doc(1L, Seq.fill(12)("hot") ++ Seq("t1", "t2", "t3")),
      doc(2L, Seq.fill(6)("warm") ++ Seq("t4", "t5")))
      .toDF("doc_id", "text", "source").coalesce(1).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    Seq(doc(3L, Seq.fill(8)("hot") ++ Seq("t6", "t7", "t8", "t9")),
      doc(4L, Seq.fill(4)("warm") ++ Seq("t10")))
      .toDF("doc_id", "text", "source").coalesce(1).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val k = 4
    val q = StreamingSqa.streamingMisraGries(stream, k = k, numShards = 2)
      .toDF("shard", "word", "est", "n_shard")
      .writeStream.outputMode("update").format("memory")
      .queryName("mg_stream").start()
    q.processAllAvailable(); q.stop()
    val all = spark.table("mg_stream")
    // the current summary = the rows of each shard's LAST emission
    val cur = all.withColumn("__mx",
        max(col("n_shard")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("shard")))
      .filter(col("n_shard") === col("__mx"))
    val exact = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .select((col("doc_id") % 2).as("shard"),
        explode(graft.llm.TextOps.words(col("text"))).as("word"))
      .groupBy("shard", "word").agg(count(lit(1)).as("c"))
    val joined = cur.join(exact, Seq("shard", "word"), "left")
      .join(exact.groupBy("shard").agg(sum("c").as("n_true")), Seq("shard"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val est = r.getAs[Long]("est"); val c = r.getAs[Long]("c")
      val n = r.getAs[Long]("n_shard")
      assert(n == r.getAs[Long]("n_true"), s"token count drift: $r")
      assert(est <= c, s"MG overestimated: $r")
      assert((c - est) * (k + 1) <= n, s"MG bound violated: $r")
    }
    // bounded state: never more than k counters per shard, in ANY emission
    val perEmission = all.groupBy("shard", "n_shard").count().collect()
    perEmission.foreach(r => assert(r.getLong(2) <= k, s"state > k: $r"))
    // the frequency-floor guarantee: every word with c > n/(k+1) survives
    val floors = exact.join(
        exact.groupBy("shard").agg(sum("c").as("n_true")), Seq("shard"))
      .filter(col("c") * (k + 1) > col("n_true"))
      .select("shard", "word").collect().map(r => (r.getLong(0), r.getString(1)))
    val curSet = cur.select("shard", "word").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    floors.foreach(f => assert(curSet.contains(f), s"hot word lost: $f"))
  }

  test("streaming count-min grid matches the batch count-table sketch " +
      "exactly across micro-batches") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cm_stream").toString
    Seq((1L, "a b a c a b", "web"), (2L, "b c d e f", "web"),
      (3L, "x y x a", "book")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    Seq((4L, "a a b z q", "web"), (5L, "y y y x w", "book"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingCountMin(stream, width = 16)
      .writeStream.outputMode("complete").format("memory")
      .queryName("cm_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("cm_stream")

    // batch side: q233's count-table form — Σ_w c_w per (row, bucket)
    val freq = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .select(explode(graft.llm.TextOps.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val base = conv(substr(md5(col("word")), lit(1), lit(8)), 16, 10)
      .cast("long")
    val batch = freq.select(col("c"), posexplode(
        array((0 until 4).map { j =>
          ((lit(graft.llm.Dedup.HASH_A(j)) * base +
            lit(graft.llm.Dedup.HASH_B(j))) %
            graft.llm.Dedup.MINHASH_P % 16).cast("int")
        }: _*)).as(Seq("j", "bucket")))
      .groupBy("j", "bucket").agg(sum("c").as("mass"))
    assert(got.count() > 0 && got.count() <= 4 * 16)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
    // the grid never grows past d x W, in ANY emission
    assert(got.select("j", "bucket").distinct().count() == got.count())
  }

  test("streaming bottom-k sample equals the batch bottom-k exactly " +
      "(order-independent) with O(k) state") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bk_stream").toString
    def doc(id: Long, src: String) = (id, "w" * (id.toInt % 7 + 1), src)
    // arrival order deliberately scrambled vs doc_id order
    Seq(doc(9L, "web"), doc(2L, "web"), doc(14L, "book"), doc(5L, "web"),
      doc(11L, "book")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    Seq(doc(1L, "web"), doc(17L, "book"), doc(3L, "web"), doc(8L, "web"),
      doc(13L, "book"), doc(4L, "web")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val k = 4
    val q = StreamingSqa.streamingBottomK(stream, k = k)
      .toDF("source", "doc_id", "h", "chars", "n_seen")
      .writeStream.outputMode("update").format("memory")
      .queryName("bk_stream").start()
    q.processAllAvailable(); q.stop()
    val all = spark.table("bk_stream")
    // current sample = each source's last emission (n_seen grows strictly)
    val cur = all.withColumn("__mx",
        max(col("n_seen")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .filter(col("n_seen") === col("__mx"))
    // batch side: q232's bottom-k over the full corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    val batch = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .select(col("source"), col("doc_id"),
        md5(concat(lit("bk1"), col("doc_id").cast("string"))).as("h"),
        length(col("text")).cast("long").as("chars"))
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k).drop("__rnk")
    val curKeys = cur.select("source", "doc_id", "h", "chars")
    assert(curKeys.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(curKeys).count() == 0)
    // bounded state: never more than k rows per source, in ANY emission
    val perEmission = all.groupBy("source", "n_seen").count().collect()
    perEmission.foreach(r => assert(r.getLong(2) <= k, s"state > k: $r"))
    // n_seen honest: final count equals true per-source doc count
    val trueN = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    cur.select("source", "n_seen").distinct().collect().foreach { r =>
      assert(r.getLong(1) == trueN(r.getString(0)), s"n_seen drift: $r")
    }
  }

  test("streaming Benford digit counts match the batch q249 counts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("benford_stream").toString
    def df(rows: Seq[(String, Double)]) =
      rows.toDF("event_type", "value")
        .withColumn("event_id", lit(1L))
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        .withColumn("user_id", lit(1L))
        .withColumn("props", lit(""))
    df(Seq(("click", 123.4), ("click", 91.2), ("click", 0.0),
      ("buy", 17.5), ("buy", 2000.0))).coalesce(1)
      .write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    df(Seq(("click", 150.0), ("buy", 19.9), ("buy", -33.0)))
      .coalesce(1).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingBenford(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("benford_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("benford_stream")
    val batch = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .select(col("event_type"),
        floor(abs(col("value")) * 10000 + 0.5).cast("long").as("__iv"))
      .filter(col("__iv") > 0)
      .withColumn("digit",
        substring(col("__iv").cast("string"), 1, 1).cast("int"))
      .groupBy("event_type", "digit")
      .agg(count(lit(1)).as("n_obs"))
    // value 0.0 contributes nowhere; 1 leads for 123.4/150/17.5/19.9...
    assert(got.filter(col("event_type") === "click" &&
      col("digit") === 1).select("n_obs").as[Long].head() == 2L)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("stream-static substring census flags verbatim windows live and " +
      "matches the batch join exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("substr_stream").toString
    val g = 4
    // censused corpus: one 4-gram ("the quick brown fox") that a new doc
    // will repeat verbatim, plus unique filler
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "web"),
      (2L, "completely unrelated filler text goes here now", "book"))
      .toDF("doc_id", "text", "source")
    // persisted merged census (gk -> count), the q300 artifact shape
    val censusPath = s"$tmp/census"
    val w = graft.llm.TextOps.words(col("text"))
    old.select(explode(transform(sequence(lit(0), size(w) - g),
        i => md5(array_join(slice(w, i + lit(1), lit(g)), " ")))).as("gk"))
      .groupBy("gk").agg(count(lit(1)).as("cm"))
      .write.parquet(censusPath)
    val census = spark.read.parquet(censusPath)
    // batch 1 repeats the censused 4-gram mid-sentence; batch 2 is
    // clean plus a too-short doc (< gramN tokens, contributes nothing)
    // micro-batches live under a dedicated subdir: a $tmp/* glob would
    // ALSO match the census artifact written above, and the parity
    // assertion would then hinge on schema projection nulling those rows
    Seq((10L, "he said the quick brown fox again", "web"),
        (11L, "nothing shared with anything else whatsoever", "web"))
      .toDF("doc_id", "text", "source").coalesce(1)
      .write.parquet(s"$tmp/batches/b1")
    Thread.sleep(1100)
    Seq((12L, "fresh unseen content streaming in cleanly", "book"),
        (13L, "too short", "book"))
      .toDF("doc_id", "text", "source").coalesce(1)
      .write.parquet(s"$tmp/batches/b2")
    val schema = spark.read.parquet(s"$tmp/batches/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batches/*")
    val q = StreamingSqa.streamingSubstrCensus(stream, census, gramN = g)
      .writeStream.outputMode("complete").format("memory")
      .queryName("substr_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("substr_stream")
    // the same (pure, batch-applicable) plan over the unioned files IS
    // the batch side — counts are mergeable sums, so exact parity holds
    val batch = StreamingSqa.streamingSubstrCensus(
      spark.read.parquet(s"$tmp/batches/b1", s"$tmp/batches/b2"),
      census, gramN = g)
    // doc 10 has 4 windows, exactly 1 of them ("the quick brown fox")
    // is censused; doc 11 adds 3 clean windows
    val web = got.filter(col("source") === "web")
      .select("n_windows", "n_dup_windows").as[(Long, Long)].head()
    assert(web == ((7L, 1L)), s"web rollup was $web")
    // doc 13 (2 tokens < gramN) must contribute zero windows
    val book = got.filter(col("source") === "book")
      .select("n_windows", "n_dup_windows").as[(Long, Long)].head()
    assert(book == ((3L, 0L)), s"book rollup was $book")
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("streaming census merge: the live SUM-fold over arriving docs plus " +
      "the persisted generation census reproduces the from-scratch gram " +
      "census bit-for-bit (q320's live form)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("census_stream").toString
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val genA = d.filter(col("doc_id") % 2 === 0)
    val genB = d.filter(col("doc_id") % 2 === 1)
    // generation A's census persisted by the batch writer — the static
    // side the stream merges into
    graft.llm.Dedup.writeSpanCensusShard(genA, "doc_id", "text",
      s"$tmp/genA")
    val oldCensus = spark.read.parquet(s"$tmp/genA")
    // generation B arrives as two micro-batches (order is irrelevant to
    // a complete-mode SUM, so no mtime choreography is needed)
    genB.filter(col("doc_id") % 4 === 1).coalesce(1)
      .write.parquet(s"$tmp/batches/b1")
    genB.filter(col("doc_id") % 4 === 3).coalesce(1)
      .write.parquet(s"$tmp/batches/b2")
    val schema = spark.read.parquet(s"$tmp/batches/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batches/*")
    val q = StreamingSqa.streamingCensusMerge(stream, oldCensus)
      .writeStream.outputMode("complete").format("memory")
      .queryName("census_merge_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("census_merge_stream")
    // the stream emits merged counts for generation B's grams; grams
    // ONLY in generation A ride over from the persisted shard untouched
    val full = got.unionByName(
      oldCensus.join(got, Seq("gk"), "left_anti"))
    // from-scratch census over the whole corpus — the batch writer again
    graft.llm.Dedup.writeSpanCensusShard(d, "doc_id", "text", s"$tmp/full")
    val scratch = spark.read.parquet(s"$tmp/full")
    assert(got.count() > 0 && full.count() == scratch.count())
    assert(full.exceptAll(scratch).count() == 0)
    assert(scratch.exceptAll(full).count() == 0)
    // and the duplicated-key screen (the q320/q321 input) agrees too
    assert(full.filter(col("c") >= 2).exceptAll(
      scratch.filter(col("c") >= 2)).count() == 0)
  }

  test("streaming span excision serves arrivals bit-identically to the " +
      "batch cross-run deletion (q323's live form)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("excise_stream").toString
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val genA = d.filter(col("doc_id") % 2 === 0)
    val genB = d.filter(col("doc_id") % 2 === 1)
    // the cross-run contract: every generation's census shard is written
    // before deletion runs — the arriving generation's own shard too
    graft.llm.Dedup.writeSpanCensusShard(genA, "doc_id", "text",
      s"$tmp/census/genA")
    graft.llm.Dedup.writeSpanCensusShard(genB, "doc_id", "text",
      s"$tmp/census/genB")
    val census = spark.read.parquet(s"$tmp/census/*")
    // generation B arrives as two micro-batches (per-doc rows land whole
    // within one batch, so complete-mode parity needs no ordering); an
    // EMPTY doc rides along — it contributes no grams to any census but
    // must still be re-emitted as (id, 0, 0, ""), the batch left-join
    // contract (a twin that drops it would silently delete the doc
    // from the served corpus)
    val arrivals = genB.unionByName(
      Seq((999999L, "")).toDF("doc_id", "text"))
    arrivals.filter(col("doc_id") % 4 === 1).coalesce(1)
      .write.parquet(s"$tmp/batches/b1")
    arrivals.filter(col("doc_id") % 4 =!= 1).coalesce(1)
      .write.parquet(s"$tmp/batches/b2")
    val schema = spark.read.parquet(s"$tmp/batches/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batches/*")
    val q = StreamingSqa.streamingRemoveSpans(stream, census)
      .writeStream.outputMode("complete").format("memory")
      .queryName("excise_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("excise_stream")
    // the registered batch cross-run deletion on the same arrivals and
    // the same census glob IS the oracle — bit parity, all four columns
    val batch = graft.llm.Dedup.removeDupSpans(arrivals, "doc_id", "text",
      census = graft.llm.Dedup.Census.Glob(s"$tmp/census/*"))
    assert(got.count() == arrivals.count())
    assert(got.filter(col("doc_id") === 999999L)
      .select("n_tokens", "n_removed", "text_clean").head() ==
      org.apache.spark.sql.Row(0L, 0L, ""))
    // the corpus's cross-doc duplicated blocks must actually excise —
    // a trivially-zero twin would pass a parity-only check
    val removed = got.agg(sum(col("n_removed"))).head().getLong(0)
    assert(removed > 0, s"expected nonzero excision, read $removed")
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("streaming classifier scores serve arrivals exactly like the batch " +
      "pass over the same persisted weights (q327's live form)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("clf_stream").toString
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang")
    // the weekly train job: fit on half the corpus, persist the model
    val train = d.filter(col("doc_id") % 2 === 0)
    graft.llm.TextAnalysis.writeClassifier(train, "doc_id", "text",
      col("lang") === "en", s"$tmp/weights")
    // the other half arrives as two micro-batches and scores live
    val arrivals = d.filter(col("doc_id") % 2 === 1)
    arrivals.filter(col("doc_id") % 4 === 1).coalesce(1)
      .write.parquet(s"$tmp/batches/b1")
    arrivals.filter(col("doc_id") % 4 === 3).coalesce(1)
      .write.parquet(s"$tmp/batches/b2")
    val schema = spark.read.parquet(s"$tmp/batches/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batches/*")
    val q = StreamingSqa.streamingClassifierScores(stream, s"$tmp/weights")
      .writeStream.outputMode("complete").format("memory")
      .queryName("clf_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("clf_stream")
    // batch side: the SAME (pure, batch-applicable) plan over the union
    // of the micro-batch files — per-doc scores have no cross-doc state,
    // so exact per-row parity must hold
    val batch = StreamingSqa.streamingClassifierScores(
      spark.read.parquet(s"$tmp/batches/b1", s"$tmp/batches/b2"),
      s"$tmp/weights")
    assert(got.count() == arrivals.count())
    // the model actually scores (nonzero margins) and separates
    // DIRECTIONALLY: target-language arrivals average a higher served
    // probability than the rest
    assert(got.filter(col("margin") =!= 0.0).count() > 0)
    val byLang = got.join(arrivals.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy(col("lang") === "en").agg(avg(col("prob")))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en mean prob ${byLang(true)} !> other ${byLang(false)}")
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
    // and the persisted-serve ENGINE path agrees on the kept set: the
    // twin's per-doc keep flags must reproduce the q327 rollup counts
    val rep = graft.llm.TextAnalysis.qualityClassifierReportFrom(
      arrivals.withColumn("g", lit("all")), "doc_id", "text",
      col("lang") === "en", "g", s"$tmp/weights")
      .select("n_docs", "n_keep").head()
    assert(rep.getLong(0) == got.count() &&
      rep.getLong(1) == got.filter(col("keep")).count())
  }

  test("streaming source-churn signatures reproduce the q308 batch audit " +
      "exactly across micro-batches") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("churn_stream").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // q308's salted generation split (id parity correlates with source
    // in the synthetic ids, so the batch query salts — mirror it)
    val gen = conv(substring(md5(concat(lit("churn1"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2
    val oldHalf = docs.filter(gen === 0L)
    val newHalf = docs.filter(gen === 1L)
    // persisted old-generation signature — the batch mergeable sketch
    val oldSig = graft.llm.Dedup.mergedMinhash(oldHalf, "doc_id", "text",
      "source", shingleN = 3, numHashes = 8)
    // the new generation arrives in two micro-batches
    newHalf.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$tmp/batches/b1")
    Thread.sleep(1100)
    newHalf.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$tmp/batches/b2")
    val schema = spark.read.parquet(s"$tmp/batches/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batches/*")
    val q = StreamingSqa.streamingSourceChurn(stream, oldSig)
      .writeStream.outputMode("complete").format("memory")
      .queryName("churn_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("churn_stream")
    // the registered q308 batch query on the same table IS the oracle
    val batch = SparkEntry.queries("q308_source_churn")(
      spark, "/root/testdata/sf0.001")
    assert(got.count() > 0 && got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("streaming centroid sums equal the batch fixed-point sums exactly " +
      "across micro-batches") {
    val tmp = java.nio.file.Files.createTempDirectory("cdrift_stream").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label")
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingCentroidSums(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("cdrift_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("cdrift_stream")
    val batch = StreamingSqa.streamingCentroidSums(
      spark.read.parquet(s"$tmp/b1", s"$tmp/b2"))
    assert(got.count() > 0 && got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("streaming post-split arrivals route to (cell, sub) exactly as " +
      "the batch q313 assignment") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("split_stream").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val old = emb.filter(pmod(col("vec_id"), lit(2L)) === 0L)
    val nw = emb.filter(pmod(col("vec_id"), lit(2L)) === 1L)
    // frozen split index from the maintenance pipeline (6/5 threshold
    // flags two cells on this data)
    val st = graft.llm.Similarity.ivfSplitState(old, nw, "vec_id",
      "embedding", thrNum = 6, thrDen = 5)
    val cents = st.cents.localCheckpoint()
    val children = st.children.localCheckpoint()
    assert(st.flagged.count() > 0, "no cell flagged — geometry changed?")
    // the serving rule reproduces the BUILD assignment bit-exactly for
    // vectors that were in the build (the final Lloyd reassignment IS
    // the arrival rule)
    val replayed = graft.llm.Similarity.splitAssignArrivals(
      emb, cents, children, "embedding")
      .select(col("vec_id").as("vid"), col("cell"), col("sub"))
    assert(replayed.exceptAll(st.assign).count() == 0)
    assert(st.assign.exceptAll(replayed).count() == 0)
    // arrivals stream in two micro-batches; counts merge exactly
    nw.filter(col("vec_id") % 4 === 1).coalesce(1)
      .write.parquet(s"$tmp/batches/b1")
    Thread.sleep(1100)
    nw.filter(col("vec_id") % 4 === 3).coalesce(1)
      .write.parquet(s"$tmp/batches/b2")
    val schema = spark.read.parquet(s"$tmp/batches/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batches/*")
    val q = StreamingSqa.streamingSplitArrivals(stream, cents, children)
      .writeStream.outputMode("complete").format("memory")
      .queryName("split_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("split_stream")
    val batch = StreamingSqa.streamingSplitArrivals(
      spark.read.parquet(s"$tmp/batches/b1", s"$tmp/batches/b2"),
      cents, children)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("windowed split arrivals: late data behind the watermark drops, " +
      "open window keeps") {
    // The replay-parity test above pins the ASSIGNMENT; this pins the
    // DROP contract of the windowed serving monitor (r17 verdict #7):
    // an arrival older than the watermark whose window was emitted and
    // evicted must be dropped, a late arrival into a still-open window
    // kept — the rollingSqaMetrics late-data semantics, on the split
    // twin. Same empirical Spark 4.1 timing note as that test: the drop
    // guarantee starts one batch AFTER the close, so a filler batch
    // sits between the watermark advance and the late row.
    // Batches arrive via MemoryStream (r18 ADVICE): one addData +
    // processAllAvailable per batch is deterministic trigger order,
    // where the file source's mtime sort + sleeps could collapse on a
    // loaded box or a coarse-mtime filesystem and flake the contract.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val st = graft.llm.Similarity.ivfSplitState(
      emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
      emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
      "vec_id", "embedding", thrNum = 6, thrDen = 5)
    val cents = st.cents.localCheckpoint()
    val children = st.children.localCheckpoint()
    val embOf: Map[Long, Seq[Double]] = emb
      .filter(col("vec_id").isin(1L, 3L, 5L, 7L, 9L, 11L, 13L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Double], java.sql.Timestamp)]
    val q = StreamingSqa.streamingSplitArrivalsWindowed(
        ms.toDF().toDF("vec_id", "embedding", "ts"), cents, children)
      .writeStream.outputMode("append").format("memory")
      .queryName("split_late").start()
    def feed(rows: (Long, String)*): Unit = {
      ms.addData(rows.map { case (vid, t) =>
        (vid, embOf(vid), java.sql.Timestamp.valueOf(t)) })
      q.processAllAvailable() // exactly ONE micro-batch per feed
    }
    feed((1L, "2026-01-01 00:00:10"), (3L, "2026-01-01 00:00:20"))
    feed((5L, "2026-01-01 00:05:00"))  // advances the watermark to 00:04
    feed((7L, "2026-01-01 00:05:30"))  // emits + evicts [00:00, 00:01)
    feed((9L, "2026-01-01 00:00:30"),  // late into EVICTED window: drop
      (11L, "2026-01-01 00:04:30"))    // late into OPEN window: keep
    feed((13L, "2026-01-01 00:10:00")) // emits [00:04,00:05) + [00:05,00:06)
    q.stop()
    val got = spark.table("split_late")
      .groupBy(col("window.start").cast("string").as("w"))
      .agg(sum("n_new").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(
      // 2, not 3: vec 9 arrived after emission + eviction and dropped
      ("2026-01-01 00:00:00", 2L),
      // vec 11 was late but its window was still open: kept
      ("2026-01-01 00:04:00", 1L),
      ("2026-01-01 00:05:00", 2L)),
      // and [00:10, 00:11) is absent: the watermark never passed it
      s"split-arrival late-data contract violated: $got")
  }

  test("streaming IVF cell counts reproduce the batch argmax assignment " +
      "exactly across micro-batches") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    // frozen quantizer: first ceil(sqrt(N)) old-half vectors by id
    val old = emb.filter(col("vec_id") % 2 === 0)
    val lists = graft.llm.Similarity.autoNList(old.count())
    val cents = old.orderBy("vec_id").limit(lists)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
      .localCheckpoint()
    // the "new batch" arrives as two files
    val nw = emb.filter(col("vec_id") % 2 === 1)
    nw.filter(col("vec_id") % 4 === 1).coalesce(1).write.parquet(s"$tmp/b1")
    Thread.sleep(1100)
    nw.filter(col("vec_id") % 4 === 3).coalesce(1).write.parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/*")
    val q = StreamingSqa.streamingIvfCellCounts(stream, cents)
      .writeStream.outputMode("complete").format("memory")
      .queryName("ivf_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ivf_stream")
    // batch side: the q305 max_by argmax over the SAME frozen centroids
    val vo = graft.llm.VectorOps
    val batch = spark.read.parquet(s"$tmp/b1", s"$tmp/b2")
      .select(col("vec_id").as("vid"), col("embedding").as("emb"))
      .withColumn("n2", vo.normSq(col("emb")))
      .crossJoin(broadcast(cents.withColumn("c_n2", vo.normSq(col("c_emb")))))
      .withColumn("__cc", vo.cosine(
        vo.dot(col("emb"), col("c_emb")), col("n2"), col("c_n2")))
      .groupBy("vid")
      .agg(max_by(col("cent_id"), struct(col("__cc"), -col("cent_id")))
        .as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_new"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }
}
