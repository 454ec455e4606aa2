package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.KernelRunner
import graft.core.Pin.Syntax
import graft.io.{Edf, Readers}
import graft.io.Readers.FileSource
import graft.kernels.{BeatDetectors, Decimate, Iir, PpgDetectors}
import graft.sqa.{Cardio, Eda}

/** §3.1 lifecycle orchestrator — the reference's `run_pipeline` callback
  * (dashboard/callbacks.py:696-1120) as one public entry: take a file (or a
  * mixed directory), route it through the S7 dispatcher, run the matching
  * modality plan, and land the reference's output surface — preprocessed
  * signal, SQA metrics, IBI, ACC — through the existing S8 sinks, plus a
  * render-decimated signal (K16) under `render/<file>/`.
  *
  * Everything here COMPOSES already-oracle-tested operators; the
  * orchestrator adds routing and sink layout only. Dispatch stats one file
  * on the driver; each selected plan is a distributed DataFrame pipeline
  * (bucketed detectors, windowed metrics), so a multi-day recording or a
  * thousand-subject directory scales exactly as its constituent operators
  * do.
  */
object RunPipeline {

  /** Pipeline knobs (the dashboard's run controls). `renderFsMax` mirrors
    * the reference's 250 Hz render ceiling (callbacks.py:735-737). */
  case class Options(
      segSize: Int = 60,
      e4Dtype: String = "EDA", // "EDA" | "PPG" (callbacks.py:915-944)
      csvDtype: String = "ECG", // modality of mapped-CSV input
      csvFs: Int = 0, // required for CSV input
      csvMapping: Map[String, String] = Map.empty,
      renderFsMax: Int = 250)

  /** One routed file's outcome: the modality plan's metrics table plus
    * where each sink landed (keys: signal, sqa, ibi, acc, render). */
  case class Output(file: String, source: FileSource, dtype: String, fs: Int,
      metrics: DataFrame, outFiles: Map[String, String])

  private def stem(f: File): String = f.getName.replaceAll("\\.[^.]*$", "")

  /** Default cardiac preprocessing chain (ECG.py:140-189 + detector):
    * elliptic 1-15 Hz bandpass filtfilt, then Pan-Tompkins for ECG or
    * van Gent for PPG/BVP. Detection runs BUCKETED at the production
    * bucket/halo, so one long recording becomes many bounded tasks. */
  private def cardiacChain(signal: DataFrame, fs: Int, dtype: String,
      segSize: Int): (DataFrame, DataFrame, DataFrame) = {
    val nyq = fs / 2.0
    // Detected beats are pinned once (one small row per beat — per-doc
    // state, always safe to materialize): four sinks consume them below
    // (signal, SQA, IBI, render), and without the pin each sink re-runs
    // the whole detection chain.
    val beats = (
      if (dtype == "ECG") {
        val (b, a) = Iir.ellip(2, 0.15, 80.0, Seq(1.0 / nyq, 15.0 / nyq), "bandpass")
        KernelRunner.detectIndices(signal, "value",
          KernelRunner.DefaultBucketLen, KernelRunner.defaultHalo(fs)) { x =>
          BeatDetectors.panTompkinsKernel(fs)(Iir.filtfilt(b, a, x))
        }
      } else // PPG/BVP: van Gent adaptive-threshold detection (PPG.py)
        PpgDetectors.vanGent(signal, fs).select("subject", "idx")
      ).pin()
    val annotated = signal
      .join(beats.withColumn("beat", lit(1)), Seq("subject", "idx"), "left")
      .withColumn("artifact", lit(null).cast("int"))
    val metrics = Cardio.computeMetrics(annotated, fs, segSize)
    // IBI table (reference `<file>_IBI.csv`): ms between consecutive beats
    val w = Window.partitionBy("subject").orderBy("idx")
    val ibi = beats
      .withColumn("IBI",
        (col("idx") - lag(col("idx"), 1).over(w)) * (1000.0 / fs))
      .filter(col("IBI").isNotNull)
      .select(col("subject"), col("idx"), col("IBI"))
    (annotated, metrics, ibi)
  }

  /** EDA plan: per-segment quality metrics (SQA.py:2134-2160). */
  private def edaChain(signal: DataFrame, fs: Int, segSize: Int,
      tempCol: Option[String]): DataFrame =
    Eda.metrics(signal, fs, segSize, Eda.Params(), tempCol = tempCol)

  /** Render-decimation (K16): anti-aliased stride-decimate any signal whose
    * rate exceeds `renderFsMax`, the reference's `_render` folder contract. */
  private def renderFrame(signal: DataFrame, fs: Int, renderFsMax: Int): DataFrame =
    if (fs <= renderFsMax) signal
    else {
      val factor = math.ceil(fs.toDouble / renderFsMax).toInt
      Decimate.antiAliasStride(signal, factor)
    }

  /** Route ONE file through dispatch and its modality plan, landing the
    * reference's temp + render output surface under `tempDir`/`renderDir`.
    * Throws IllegalArgumentException for undispatchable input (the
    * reference surfaces the same as a dashboard error banner). */
  def run(spark: SparkSession, path: String, tempDir: String,
      renderDir: String, opts: Options = Options()): Output = {
    val f = new File(path)
    val name = stem(f)
    new File(tempDir).mkdirs()
    val renderSub = new File(renderDir, name); renderSub.mkdirs()

    def writable(df: DataFrame): DataFrame =
      // all-null columns (e.g. n_scrs with SCR detection off) type as VOID,
      // which the CSV datasource rejects; land them as empty double cells,
      // pandas' NaN-column rendering
      df.schema.fields.foldLeft(df) { (d, fld) =>
        if (fld.dataType == org.apache.spark.sql.types.NullType)
          d.withColumn(fld.name, col(fld.name).cast("double"))
        else d
      }
    // A routed file's sinks are INDEPENDENT outputs (signal / SQA / IBI /
    // render read disjoint destinations off the same eagerly-pinned beat
    // table) — write them concurrently (guide §2.6, Tables.parWrite)
    // instead of one serialized job + commit + driver gap per sink. The
    // only checkpoint in the chain (`beats`) is materialized before any
    // sink fires, so these are plain write jobs (the r17 discipline).
    def sinkAll(outs: (DataFrame, String, String)*): Map[String, String] = {
      graft.core.Tables.parWrite(outs.map { case (df, _, dest) =>
        () => Readers.writeCsvSingle(writable(df), dest) })
      outs.map { case (_, key, dest) => key -> dest }.toMap
    }

    Readers.dispatch(path) match {
      case FileSource.Actiwave =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val edf = Edf.parse(bytes)
        val ecgCh = edf.channels.indexWhere(_.label.contains("ECG0"))
        val fs = edf.fsOf(ecgCh).toInt
        val frame = Edf.read(spark, path)
          .filter(col("channel").contains("ECG0"))
          .withColumn("subject", lit(1L))
          .select("subject", "idx", "ts_us", "value")
        val (annotated, metrics, ibi) = cardiacChain(frame, fs, "ECG", opts.segSize)
        val outs = sinkAll(
          (annotated, "signal", s"$tempDir/${name}_ECG.csv"),
          (metrics, "sqa", s"$tempDir/${name}_SQA.csv"),
          (ibi, "ibi", s"$tempDir/${name}_IBI.csv"),
          (renderFrame(annotated, fs, opts.renderFsMax), "render",
            s"$renderSub/signal.csv"))
        Output(name, FileSource.Actiwave, "ECG", fs, metrics, outs)

      case FileSource.E4 =>
        val acc = Readers.e4Modality(spark, path, "ACC.csv")
        val accSink = (acc, "acc", s"$tempDir/${name}_ACC.csv")
        if (opts.e4Dtype == "EDA") {
          val eda = Readers.e4Modality(spark, path, "EDA.csv")
            .withColumn("subject", lit(1L))
            .withColumnRenamed("EDA", "value")
          val temp = Readers.e4Modality(spark, path, "TEMP.csv")
            .withColumn("subject", lit(1L))
          // E4 EDA and TEMP both sample at 4 Hz; align on idx
          val withTemp = eda.join(
            temp.select(col("subject"), col("idx"), col("TEMP")),
            Seq("subject", "idx"), "left")
          val fs = 4
          val metrics = edaChain(withTemp, fs, opts.segSize, Some("TEMP"))
          val outs = sinkAll(accSink,
            (withTemp, "signal", s"$tempDir/${name}_EDA.csv"),
            (metrics, "sqa", s"$tempDir/${name}_SQA.csv"),
            (renderFrame(withTemp, fs, opts.renderFsMax), "render",
              s"$renderSub/signal.csv"))
          Output(name, FileSource.E4, "EDA", fs, metrics, outs)
        } else {
          val bvp = Readers.e4Modality(spark, path, "BVP.csv")
            .withColumn("subject", lit(1L))
            .withColumnRenamed("BVP", "value")
          val fs = 64
          val (annotated, metrics, ibi) = cardiacChain(bvp, fs, "BVP", opts.segSize)
          val outs = sinkAll(accSink,
            (annotated, "signal", s"$tempDir/${name}_BVP.csv"),
            (metrics, "sqa", s"$tempDir/${name}_SQA.csv"),
            (ibi, "ibi", s"$tempDir/${name}_IBI.csv"),
            (renderFrame(annotated, fs, opts.renderFsMax), "render",
              s"$renderSub/signal.csv"))
          Output(name, FileSource.E4, "BVP", fs, metrics, outs)
        }

      case FileSource.Csv =>
        require(opts.csvFs > 0, "csvFs required for CSV input")
        require(opts.csvMapping.nonEmpty, "csvMapping required for CSV input")
        val fs = opts.csvFs
        val mapped = Readers.mappedCsv(spark, path, opts.csvMapping)
        val base = mapped
          .withColumn("subject", lit(1L))
          .withColumn("idx",
            (row_number().over(Window.partitionBy("subject")
              .orderBy(mapped.columns.head)) - 1).cast("long"))
          .withColumn("ts_us", (col("idx") * (1000000L / fs)).cast("long"))
        if (opts.csvDtype == "ECG" || opts.csvDtype == "PPG") {
          val frame = base.withColumnRenamed(opts.csvDtype, "value")
            .select("subject", "idx", "ts_us", "value")
          val (annotated, metrics, ibi) =
            cardiacChain(frame, fs, opts.csvDtype, opts.segSize)
          val outs = sinkAll(
            (annotated, "signal", s"$tempDir/${name}_${opts.csvDtype}.csv"),
            (metrics, "sqa", s"$tempDir/${name}_SQA.csv"),
            (ibi, "ibi", s"$tempDir/${name}_IBI.csv"),
            (renderFrame(annotated, fs, opts.renderFsMax), "render",
              s"$renderSub/signal.csv"))
          Output(name, FileSource.Csv, opts.csvDtype, fs, metrics, outs)
        } else { // EDA-mapped CSV routes to the EDA plan (callbacks.py:838-858)
          val tempCol = if (mapped.columns.contains("TEMP")) Some("TEMP") else None
          val frame = base.withColumnRenamed("EDA", "value")
            .select(Seq("subject", "idx", "ts_us", "value") ++ tempCol map col: _*)
          val metrics = edaChain(frame, fs, opts.segSize, tempCol)
          val outs = sinkAll(
            (frame, "signal", s"$tempDir/${name}_EDA.csv"),
            (metrics, "sqa", s"$tempDir/${name}_SQA.csv"),
            (renderFrame(frame, fs, opts.renderFsMax), "render",
              s"$renderSub/signal.csv"))
          Output(name, FileSource.Csv, "EDA", fs, metrics, outs)
        }

      case other =>
        throw new IllegalArgumentException(s"cannot route $path: dispatch=$other")
    }
  }

  /** Route every dispatchable file of a MIXED directory (the E2E lifecycle:
    * EDF + E4 zip + mapped CSV side by side), sorted for determinism.
    * Undispatchable files (Unknown/Invalid) are skipped, as the dashboard
    * rejects them at upload. */
  def runDirectory(spark: SparkSession, dir: String, tempDir: String,
      renderDir: String, opts: Options = Options()): Seq[Output] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .sortBy(_.getName)
    files.flatMap { f =>
      Readers.dispatch(f.getPath) match {
        case FileSource.Unknown | FileSource.Invalid => None
        // batch archives route through the S6 whole-directory scan
        // (Readers.batchCsvDir / q94), not the per-file lifecycle
        case FileSource.Batch => None
        case _ => Some(run(spark, f.getPath, tempDir, renderDir, opts))
      }
    }.toSeq
  }
}
