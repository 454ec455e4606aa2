package graft.sqa

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.kernels.Correction

/** Spark surface for the beat-correction FSM (SURVEY K14): per-recording
  * kernel run + the relational per-segment summary
  * (reference `SQA.Cardio.get_corrected`, pipeline/SQA.py:1417-1512).
  */
object Corrected {

  case class BeatIn(subject: Long, idx: Long)
  case class Out(subject: Long, side: Int, pos: Int, ibi_ms: Option[Double],
      ibi: Option[Double], beat: Double, correction: Option[Int],
      flag: Option[String])

  /** Run the FSM per subject over detected-beat sample indices. Output is
    * union-tagged: side 0 = original table, side 1 = corrected table. */
  def correctionRows(beatRows: DataFrame, fs: Int,
      p: Correction.Params = Correction.Params()): DataFrame = {
    val spark = beatRows.sparkSession
    import spark.implicits._
    graft.core.KernelRunner.perSlice(beatRows) { s =>
      val beats = s.idx.map(_.toDouble)
      val (orig, corr) = Correction.correctInterval(fs, p)(beats)
      orig.iterator.map(r =>
        Out(s.subject, 0, r.pos, r.ibiMs, r.ibi, r.beat, Some(r.correction), None)) ++
        corr.iterator.map(r =>
          Out(s.subject, 1, r.pos, r.ibiMs, r.ibi, r.beat, None, r.flag))
    }.toDF()
  }

  /** Per-segment flag summary (`get_corrected`'s `combined` frame): counts
    * of each corrected flag + number/percentage of corrected original
    * beats. Segment = ceil(beat / (segSize*fs)); the flag columns are the
    * fixed four-flag superset (the reference pivots only flags present). */
  def summary(rows: DataFrame, fs: Int, segSize: Int): DataFrame = {
    // ONE conditional aggregation over the union-tagged FSM output. The
    // former shape (filter side 0 / side 1 into separate aggregates +
    // inner join) planned the upstream correction kernel TWICE — the two
    // branches diverge above the kernel's exchange, so exchange reuse
    // cannot dedupe the FSM run. The inner-join semantics (segments
    // present on BOTH sides) survive as a post-aggregation filter.
    val seg = ceil(col("beat") / (segSize.toLong * fs)).cast("long").as("segment")
    def flagCount(f: String) =
      count(when(col("side") === 1 && col("flag") === f, 1))
    val origCorrection = sum(when(col("side") === 0, col("correction")))
    rows
      .withColumn("segment", seg)
      .groupBy("subject", "segment")
      .agg(
        flagCount("Correct").as("n_correct"),
        flagCount("Short").as("n_short"),
        flagCount("Long").as("n_long"),
        flagCount("Extra Long").as("n_extra_long"),
        origCorrection.as("n_corrected"),
        bround(origCorrection.cast("double") /
          count(when(col("side") === 0, 1)) * 100, 2).as("pct_corrected"),
        count(when(col("side") === 0, 1)).as("__n0"),
        count(when(col("side") === 1, 1)).as("__n1"))
      .filter(col("__n0") > 0 && col("__n1") > 0)
      .select("subject", "segment", "n_correct", "n_short", "n_long",
        "n_extra_long", "n_corrected", "pct_corrected")
  }
}
