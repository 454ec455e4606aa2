package graft.core

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Sorted-group kernel contract (SURVEY §4.3 #2): the engine's single
  * mechanism for the reference's sequential physical operators (IIR
  * filtfilt, beat-detector FSMs, correction FSM, cvxEDA, ...).
  *
  * Every recording `(subject)` is range-bucketed by `idx div bucketLen`,
  * with `halo` overlap rows copied in from each neighbor bucket. Each
  * (subject, bucket) slice becomes idx-sorted in-memory arrays that a pure
  * Scala kernel transforms — the Spark-native equivalent of a scipy kernel
  * over a numpy array — and only the bucket-core outputs are kept. A whole
  * recording is one bucket: `bucketLen = Whole` with `halo = 0`, every
  * runner's default. One shuffle on (subject, bucket); the kernel is a
  * deterministic function, so the operator stays a narrow typed
  * transformation in the plan.
  *
  * Memory contract: no task materializes more than bucketLen + 2*halo
  * samples, so a multi-day recording becomes many bounded tasks instead of
  * one unbounded group. Kernels whose semantics need the whole recording
  * (the correction FSM, global DFTs) run at the `Whole` default and are
  * bounded by recording length instead.
  *
  * Correctness contract: exact (to fp tolerance) for kernels whose output
  * at a position depends on inputs within `halo` positions — FIR
  * convolutions, zero-phase IIR (choose halo past the impulse-response
  * decay, >= 3x padlen is a good floor), windowed detectors. Adaptive FSM
  * detectors converge rather than match bitwise: their running state
  * (threshold EMAs, IBI FIFOs) forgets history geometrically, so halo must
  * cover the state's convergence length (seconds of signal), as
  * BucketedKernelSpec demonstrates for Pan-Tompkins.
  *
  * Fan-out contract: kernel stages are CPU-bound with tiny rows, so the
  * shuffle uses an EXPLICIT numbered repartition on the group key —
  * which AQE respects — rather than `groupByKey`'s plain exchange. AQE's
  * partition coalescing optimizes for shuffle BYTES; on a kernel stage it
  * would fold a ~MB shuffle into one task and serialize minutes of CPU
  * (measured: q59's 1500 solver runs collapsed to a single task, 5x
  * wall-clock on 8 cores). Rows arrive sorted per group via
  * `sortWithinPartitions`, so kernels also skip the per-group sort.
  */
object KernelRunner {

  /** Production bucket length (samples per task): 2^20 samples ≈ 9 h at
    * 32 Hz, 8 MB of doubles — bounds task memory regardless of recording
    * length. Recordings shorter than this run as a single bucket (the CI
    * data scale), longer ones split into many bounded tasks (the 100 TB
    * scale); the execution path is identical either way. */
  val DefaultBucketLen: Long = 1L << 20

  /** The bucket length of a whole-recording slice: every idx is in bucket 0. */
  val Whole: Long = Long.MaxValue

  /** Production halo: 20 s of signal. Covers every kernel lookback in the
    * suite — 3x IIR padlen (<= 45 samples for the order-2 designs), the
    * 2.5 s moving averages, the 6-IBI Hegarty window at the slowest
    * plausible heart rate, and the Pan-Tompkins threshold-EMA convergence
    * length demonstrated in BucketedKernelSpec (SURVEY §4.3). Cost at the
    * default bucket length: <= 2*halo/bucketLen ≈ 0.5% duplicated rows. */
  def defaultHalo(fs: Int): Int = 20 * fs

  case class Sample(subject: Long, bucket: Long, idx: Long, value: Double)
  case class ValueOut(subject: Long, idx: Long, out: Double)
  case class IdxOut(subject: Long, idx: Long)

  /** One (subject, bucket) slice: idx-sorted parallel arrays (`value` is
    * empty when the runner was given no value column). Positions `core`
    * are the samples the bucket owns; the others are halo rows owned by a
    * neighbor bucket. A whole-recording slice is all core. */
  final class Slice(val subject: Long, val idx: Array[Long],
      val value: Array[Double], val core: Range)

  /** Consecutive-run grouping over a partition iterator: emits one
    * (key, rows) pair per maximal run of equal keys. Requires the
    * partition to be sorted by the key (sortWithinPartitions upstream);
    * buffers ONE group at a time — the same memory contract as
    * flatMapGroups' sort-based grouping. */
  private def runs[T: ClassTag, K](it: Iterator[T])(key: T => K): Iterator[(K, Array[T])] =
    new Iterator[(K, Array[T])] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): (K, Array[T]) = {
        val k = key(buf.head)
        val acc = collection.mutable.ArrayBuilder.make[T]
        while (buf.hasNext && key(buf.head) == k) acc += buf.next()
        (k, acc.result())
      }
    }

  /** The slice source: every sample lands in its own bucket plus — within
    * `halo` of a boundary — the neighbor bucket (the bounded explode costs
    * <= (1 + 2*halo/bucketLen)x rows). Rows are repartitioned on
    * (subject, bucket) to a PINNED partition count and sorted by
    * (subject, bucket, idx) within partitions, so each slice is one run. */
  private def slices(rows: DataFrame, valueCol: Option[String], bucketLen: Long,
      halo: Int): Dataset[Sample] = {
    require(halo >= 0 && halo < bucketLen, "need 0 <= halo < bucketLen")
    val spark = rows.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val b = (col("idx") / bucketLen).cast("long")
    val pos = col("idx") % bucketLen
    val bucket =
      if (halo == 0) b
      else explode(array_distinct(array(
        b,
        when(pos < halo && b > 0, b - 1).otherwise(b),
        when(pos >= bucketLen - halo, b + 1).otherwise(b))))
    val sorted = rows
      .select(Seq(col("subject").cast("long"), col("idx").cast("long")) ++
        valueCol.map(c => col(c).cast("double").as("value")): _*)
      .withColumn("bucket", bucket)
      .repartition(parts, col("subject"), col("bucket"))
      .sortWithinPartitions("subject", "bucket", "idx")
    // an idx-only source carries no value through the shuffle
    (if (valueCol.isDefined) sorted else sorted.withColumn("value", lit(0.0)))
      .as[Sample]
  }

  /** Per-slice runner for kernels with arbitrary output rows: `f` receives
    * each (subject, bucket) slice and emits any rows, and must keep to the
    * slice's `core` when `halo > 0`. Idx-only tables (beat/event rows) pass
    * no `valueCol` and read the sorted indices as longs from `idx`.
    *
    * At the `Whole` default one recording is one task, so whole-recording
    * callers must be kernels whose INPUT is already sub-sample-rate or
    * whose semantics require the whole recording. For the beat-table
    * kernels (CBD, correction FSM) the practical bound is
    * beats-per-recording: a YEAR of continuous 48 bpm is ~25M beats ~
    * 200 MB of longs and an O(n) FSM pass — large but bounded, and
    * LongRecordingSpec pins the linear growth on a 1M-beat train. */
  def perSlice[R: Encoder](rows: DataFrame, valueCol: Option[String] = None,
      bucketLen: Long = Whole, halo: Int = 0)(f: Slice => Iterator[R]): Dataset[R] = {
    val hasValue = valueCol.isDefined
    slices(rows, valueCol, bucketLen, halo).mapPartitions { it =>
      runs(it)(r => (r.subject, r.bucket)).flatMap { case ((subj, b), rs) =>
        val idx = rs.map(_.idx)
        // idx-sorted, so the core is one contiguous run of positions
        val from = idx.indexWhere(_ / bucketLen == b)
        // Phantom bucket: a recording ending within halo of the next
        // boundary spills halo rows into a bucket with no core samples.
        // It would emit nothing — skip the kernel entirely.
        if (from < 0) Iterator.empty
        else {
          val until = idx.lastIndexWhere(_ / bucketLen == b) + 1
          val value = if (hasValue) rs.map(_.value) else Array.emptyDoubleArray
          f(new Slice(subj, idx, value, from until until))
        }
      }
    }
  }

  /** Run an array→array kernel per slice (e.g., filtfilt): emits one output
    * value per core sample. Input needs columns (subject, idx, `valueCol`).
    * Output: (subject, idx, `outCol`). */
  def transformValues(signal: DataFrame, valueCol: String, outCol: String,
      bucketLen: Long = Whole, halo: Int = 0)(
      kernel: Array[Double] => Array[Double]): DataFrame = {
    val spark = signal.sparkSession
    import spark.implicits._
    perSlice(signal, Some(valueCol), bucketLen, halo) { s =>
      val out = kernel(s.value)
      s.core.iterator.map(i => ValueOut(s.subject, s.idx(i), out(i)))
    }.toDF("subject", "idx", outCol)
  }

  /** Run an array→positions kernel per slice (e.g., a beat detector): emits
    * the idx of every selected position in the slice core (cores are
    * disjoint, so no dedupe is needed). */
  def detectIndices(signal: DataFrame, valueCol: String,
      bucketLen: Long = Whole, halo: Int = 0)(
      kernel: Array[Double] => Array[Int]): DataFrame = {
    val spark = signal.sparkSession
    import spark.implicits._
    perSlice(signal, Some(valueCol), bucketLen, halo) { s =>
      kernel(s.value).iterator.filter(s.core.contains).map(p => IdxOut(s.subject, s.idx(p)))
    }.toDF("subject", "idx")
  }
}
