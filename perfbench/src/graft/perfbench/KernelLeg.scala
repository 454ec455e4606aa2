package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SignalFrame
import graft.kernels.{BeatDetectors, Correction, EdaDecompose, Iir}

/** The pure-Scala kernels called directly on the driver, one whole
  * recording at a time. The results time the `kernels` layer apart from
  * Spark and are the reference the kernel ops' outputs are checked
  * against (their DuckDB oracles are golden fixtures of another input). */
class KernelLeg(spark: SparkSession, dir: String, trace: Trace) {

  private val EcgFs = 32 // the detectors' and filter's rate in the queries
  private val EdaFs = 4  // cvxEDA's and the correction FSM's rate in the queries
  private val (fb, fa) = Iir.butter(2, Seq(0.5 / 16.0, 15.0 / 16.0), "bandpass")

  /** Seconds spent in each kernel, summed over recordings. */
  val seconds = scala.collection.mutable.Map(KernelLeg.Kernels.map(_ -> 0.0): _*)

  private def timed[T](kernel: String)(body: => T): T = trace(s"kernel.$kernel") {
    val t0 = System.nanoTime()
    val r = body
    seconds(kernel) += (System.nanoTime() - t0) / 1e9
    r
  }

  /** (subject -> (idx, value, beat) arrays in sample order). */
  private def recordings(df: DataFrame): Map[Long, (Array[Long], Array[Double], Array[Boolean])] =
    df.select(col("subject").cast("long"), col("idx").cast("long"),
        col("value").cast("double"),
        if (df.columns.contains("beat")) col("beat") === 1 else lit(false))
      .collect().groupBy(_.getLong(0)).map { case (s, rows) =>
        val r = rows.sortBy(_.getLong(1))
        s -> ((r.map(_.getLong(1)), r.map(_.getDouble(2)),
          r.map(x => !x.isNullAt(3) && x.getBoolean(3))))
      }

  private case class Ref(filtered: Array[Double], eda: EdaDecompose.Result,
      corr: (Array[Correction.OrigRow], Array[Correction.CorrRow]))

  private def solve(idx: Array[Long], v: Array[Double], beat: Array[Boolean]): Ref = {
    val f = timed("filtfilt")(Iir.filtfilt(fb, fa, v))
    timed("pantompkins")(BeatDetectors.panTompkinsKernel(EcgFs)(f))
    val e = timed("cvxeda")(EdaDecompose.cvxEdaKernel(EdaFs)(v))
    val beats = idx.indices.filter(beat).map(i => idx(i).toDouble).toArray
    val c = timed("correct_interval")(Correction.correctInterval(EdaFs)(beats))
    Ref(f, e, c)
  }

  /** The kernel leg over the `events` recordings, one recording at a time. */
  private lazy val refs: Map[Long, Ref] =
    recordings(SignalFrame.fromEvents(spark, dir)).map { case (s, (i, v, b)) =>
      s -> solve(i, v, b)
    }

  def run(): Unit = refs

  private def close(a: Double, b: Double, tol: Double) = math.abs(a - b) <= tol

  /** Rounded-to-6-digit outputs may differ from the unrounded reference by
    * half a unit in the last place, plus the bucketed path's < 1e-9. */
  private val Tol6 = 5e-7 + 1e-9

  private def bySubject(out: DataFrame, cols: String*): Map[Long, Array[Row]] =
    out.select((col("subject").cast("long") +: cols.map(col)): _*).collect()
      .groupBy(_.getLong(0)).map { case (s, r) => s -> r.sortBy(_.getLong(1)) }

  /** Compares output columns with reference series, from one collect. */
  private def series(out: DataFrame, cols: (String, Ref => Array[Double])*): Option[String] = {
    val got = bySubject(out, "idx" +: cols.map(_._1): _*)
    if (got.keySet != refs.keySet) return Some("subjects differ")
    cols.zipWithIndex.iterator.flatMap { case ((c, ref), k) =>
      refs.iterator.flatMap { case (s, r) =>
        val want = ref(r); val g = got(s)
        if (g.length != want.length) Some(s"$c subject $s: ${g.length} rows vs ${want.length}")
        else g.indices.find(i => !close(g(i).getDouble(k + 2), want(i), Tol6))
          .map(i => s"$c subject $s sample $i: ${g(i).getDouble(k + 2)} vs ${want(i)}")
      }
    }.nextOption()
  }

  private def peaks(out: DataFrame, want: Map[Long, Set[Long]]): Option[String] = {
    val got = out.select(col("subject").cast("long"), col("idx").cast("long"))
      .collect().groupBy(_.getLong(0)).map { case (s, r) => s -> r.map(_.getLong(1)).toSet }
    (want.keySet ++ got.keySet).collectFirst(Function.unlift { s =>
      val (g, w) = (got.getOrElse(s, Set.empty), want.getOrElse(s, Set.empty))
      if (g == w) None
      else Some(s"subject $s: ${(g -- w).size} extra, ${(w -- g).size} missing beats")
    })
  }

  /** q98's recordings are the long concatenated frame the query builds. */
  private def longEcgPeaks(): Map[Long, Set[Long]] =
    recordings(graft.queries.KernelQueries.longEcgFrame(spark, dir)).map {
      case (s, (idx, v, _)) =>
        s -> BeatDetectors.panTompkinsKernel(EcgFs)(Iir.filtfilt(fb, fa, v))
          .map(i => idx(i)).toSet
    }

  private def corrections(out: DataFrame): Option[String] = {
    def key(side: Int, pos: Int, ibiMs: Option[Double], ibi: Option[Double],
        beat: Double, corr: Option[Int], flag: Option[String]) =
      (side, pos, ibiMs, ibi, beat, corr, flag).toString
    val got = out.collect().groupBy(_.getAs[Long]("subject")).map { case (s, rows) =>
      s -> rows.map { r =>
        def opt[T](c: String) = Option(r.getAs[Any](c)).map(_.asInstanceOf[T])
        key(r.getAs[Int]("side"), r.getAs[Int]("pos"), opt[Double]("ibi_ms"),
          opt[Double]("ibi"), r.getAs[Double]("beat"), opt[Int]("correction"),
          opt[String]("flag"))
      }.sorted.toSeq
    }
    val want = refs.map { case (s, r) =>
      val (o, c) = r.corr
      s -> (o.map(x => key(0, x.pos, x.ibiMs, x.ibi, x.beat, Some(x.correction), None)) ++
        c.map(x => key(1, x.pos, x.ibiMs, x.ibi, x.beat, None, x.flag))).sorted.toSeq
    }.filter(_._2.nonEmpty)
    if (got == want) None
    else Some(s"correction rows differ on subjects " +
      (got.keySet ++ want.keySet).filter(s => got.get(s) != want.get(s)).mkString(","))
  }

  /** Kernel ops this leg can check, by query name. */
  val checks: Map[String, DataFrame => Option[String]] = Map(
    "q35_filtfilt" -> (out => series(out, "filtered" -> (_.filtered))),
    "q98_pantompkins_split" -> (out => peaks(out, longEcgPeaks())),
    "q49_correct_interval" -> corrections,
    "q59_cvxeda" -> (out => series(out, "phasic" -> (_.eda.phasic),
      "driver" -> (_.eda.driver), "tonic" -> (_.eda.tonic))))
}

object KernelLeg {
  val Kernels = Seq("filtfilt", "pantompkins", "cvxeda", "correct_interval")
}
