package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.KernelRunner
import graft.kernels.{BeatDetectors, Iir}

/** 100 TB rehearsal (round-7 verdict item 7): one recording LONGER than
  * the production bucket length through the cardiac chain
  * (filtfilt -> Pan-Tompkins -> per-segment SQA metrics) at the PRODUCTION
  * DefaultBucketLen/halo, asserting from inside the kernel that no task
  * ever materializes more than bucketLen + 2*halo samples. This is the
  * local[k] stand-in for "a multi-day recording becomes many bounded
  * tasks": the same plan, the same defaults, a genuinely-split group.
  */
class LongRecordingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("2.4M-sample recording: bounded tasks, correct chain output") {
    val fs = 32
    val n = 2500000L // 2.38x DefaultBucketLen -> 3 buckets
    val bucketLen = KernelRunner.DefaultBucketLen
    val halo = KernelRunner.defaultHalo(fs)

    // clean 48-bpm pulse train over a small ripple, generated distributed
    // (no driver-side array): beat every 40 samples at i % 40 == 20
    val sig = spark.range(n).select(
      lit(7L).as("subject"),
      col("id").as("idx"),
      (when(col("id") % 40 === 20, 10.0).otherwise(0.0) +
        lit(0.05) * sin(lit(2 * math.Pi * 1.1 / fs) * col("id"))).as("value"))

    // slice-size witness: every kernel invocation reports its input length
    val sliceLens = spark.sparkContext.collectionAccumulator[Long]("sliceLens")
    val (b, a) = Iir.butter(2, Seq(0.5 / 16.0, 15.0 / 16.0), "bandpass")
    val beats = KernelRunner.detectIndices(sig, "value", bucketLen, halo) { x =>
      sliceLens.add(x.length.toLong)
      BeatDetectors.panTompkinsKernel(fs)(Iir.filtfilt(b, a, x))
    }

    // chain the detections into the flagship per-segment metrics table
    val annotated = sig
      .join(beats.withColumn("beat", lit(1)), Seq("subject", "idx"), "left")
      .select(col("subject"), col("idx"), (col("idx") * (1000000L / fs)).as("ts_us"),
        col("value"), col("beat"), lit(null).cast("int").as("artifact"))
    val metrics = graft.sqa.Cardio.computeMetrics(annotated, fs, segSize = 60)
    val mrows = metrics.collect()

    // ---- bounded-task contract, witnessed from inside the tasks
    val lens = sliceLens.value
    import scala.jdk.CollectionConverters._
    val lensScala = lens.asScala.toSeq
    assert(lensScala.size >= 3, s"expected >=3 kernel tasks, got ${lensScala.size}")
    assert(lensScala.max <= bucketLen + 2L * halo,
      s"a task saw ${lensScala.max} samples > bucketLen + 2*halo = ${bucketLen + 2L * halo}")
    // total duplicated rows stay within the documented <=2*halo/bucketLen bound
    val dup = lensScala.sum - n
    assert(dup <= 2L * halo * (lensScala.size - 1),
      s"halo duplication $dup exceeds bound")

    // ---- chain output is the expected physiology, not just nonempty
    val nBeats = spark.range(n).select(lit(7L).as("subject"), col("id").as("idx"))
      .join(beats, Seq("subject", "idx")).count()
    val expected = n / 40
    assert(math.abs(nBeats - expected) <= expected / 100,
      s"detected $nBeats beats, expected ~$expected")
    // 2.5M samples at 32 Hz = ~21.7 h -> ~1302 one-minute segments
    assert(mrows.length >= 1300 && mrows.length <= 1310,
      s"unexpected segment count ${mrows.length}")
    // interior segments: 72 detected beats/min (48 bpm pulse train has
    // beats every 40 samples = 1.25 s -> 48/min; MWA peaks offset does not
    // change counts), no invalid flags
    val interior = mrows.filter(r => r.getLong(1) > 1 && r.getLong(1) < 1300)
    assert(interior.forall(r => math.abs(r.getLong(3) - 48L) <= 1),
      "interior segment beat counts off")
    assert(interior.forall(r => r.isNullAt(9)), "unexpected invalid flags")
  }

  test("K14 correction chain: multi-day beat train, linear cost, bounded rows/task") {
    // The correction FSM is whole-recording BY NECESSITY (corrections
    // rewrite history), but it runs on beat rows (~1/40 of samples), so
    // its practical task bound is beats-per-recording: a YEAR of 48 bpm
    // is ~25M beats = ~200 MB of longs in one task — large but bounded,
    // and growth is linear. This rehearsal pushes a 14.5-day train
    // (1M beats, ~1% deleted to exercise the missing-beat paths) through
    // correctionRows + summary and pins (a) the whole-recording grouping
    // (one kernel invocation sees every beat), (b) row conservation, and
    // (c) LINEAR scaling — a quadratic FSM regression shows up as ~16x
    // between the 250k and 1M runs, far beyond the 10x gate.
    val fs = 32
    def beatTrain(nBeats: Long) = spark.range(nBeats)
      .filter(col("id") % 97 =!= 13) // ~1% missing beats -> corrections
      .select(lit(9L).as("subject"), (col("id") * 40 + 20).as("idx"))

    val beatsPerTask = spark.sparkContext.collectionAccumulator[Long]("beatsPerTask")
    // (time ms, FSM rows, segments, FSM work units). Work units come from
    // Correction.workUnits, a JVM-global LongAdder the kernel bumps once
    // per invocation — visible here because local-mode executors share the
    // test JVM. Both count() actions re-run the kernel for BOTH sizes, so
    // the 2x re-execution cancels in the ratio.
    def run(nBeats: Long): (Long, Long, Double, Long) = {
      beatsPerTask.reset()
      val rows = graft.sqa.Corrected.correctionRows(
        beatTrain(nBeats)
          .transform(df => {
            // tap the kernel input size without touching the query path
            graft.core.KernelRunner.perSlice(df) { s =>
              beatsPerTask.add(s.idx.length.toLong)
              Iterator.single((s.subject, s.idx.length.toLong))
            }(org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.scalaLong)).count()
            df
          }),
        fs = fs)
      val w0 = graft.kernels.Correction.workUnits.sum()
      val t0 = System.nanoTime()
      val n = rows.count()
      val segs = graft.sqa.Corrected.summary(rows, fs, segSize = 60).count()
      ((System.nanoTime() - t0) / 1000000, n, segs.toDouble,
        graft.kernels.Correction.workUnits.sum() - w0)
    }

    val expected1m = (0L until 1000000L).count(_ % 97 != 13)
    val (tSmall, nSmall, _, wSmall) = run(250000L)
    val (tBig, nBig, segsBig, wBig) = run(1000000L)

    // (a) whole-recording grouping witnessed from inside the task
    import scala.jdk.CollectionConverters._
    assert(beatsPerTask.value.asScala.toSeq == Seq(expected1m.toLong),
      "correction kernel did not see the whole recording in one task")
    // (b) row conservation: original + corrected tables, ~2 rows/beat
    assert(nBig > 2L * expected1m * 95 / 100 && nBig < 2L * expected1m * 110 / 100,
      s"unexpected FSM output rows $nBig for $expected1m beats")
    assert(nSmall > 0)
    // 1M beats * 1.25 s / 60 s segments ~ 20.8k one-minute segments
    assert(segsBig > 20000 && segsBig < 21500, s"segment count $segsBig")
    // (c) linear scaling, witnessed by WORK not wall clock (round-9 verdict
    // #1: the old tBig < tSmall*10+2000 bound flaked under shared-JVM suite
    // GC/JIT pressure). 4x beats -> linear work is ~4x; a quadratic FSM
    // regression (full-history scans per step, unbounded FIFO) is ~16x or
    // worse. Gate at 6x: deterministic — work units count loop iterations
    // and FIFO elements touched, independent of machine load.
    assert(wSmall > 0 && wBig > 0, s"work witness missing: $wSmall / $wBig")
    assert(wBig < wSmall * 6,
      s"correction chain not linear in WORK: 250k beats $wSmall units, " +
        s"1M beats $wBig units (linear ~4x, got ${wBig.toDouble / wSmall}x)")
    // wall clock demoted to a diagnostic — informative, never a gate
    Console.err.println(
      s"[LongRecordingSpec] K14 wall clock: 250k=${tSmall}ms 1M=${tBig}ms " +
        s"work: 250k=$wSmall 1M=$wBig (${wBig.toDouble / wSmall}x)")
  }
}
