package graft.io

import java.util.zip.ZipFile

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Device-file sources (SURVEY §2.1).
  *
  *  - E4 ZIP (S2/S3): per-modality CSVs where row 0 = Unix start time and
  *    row 1 = sampling rate, remaining rows = samples
  *    (reference physioview.py:196-335, 860-907). ZIP expansion happens
  *    driver-side (archives are small device dumps); sample frames are
  *    plain Spark DataFrames with synthesized timestamps.
  *  - Column-mapped CSV (S4): arbitrary headers projected/renamed to the
  *    canonical roles with an optional synthetic 1-based Sample column
  *    (reference dashboard/utils.py:437-492).
  *  - Beat-editor JSON (S9/S10): records-oriented export with epoch-ms
  *    timestamps and the `_edited` edit-instruction format
  *    (reference physioview.py:1594-1737).
  */
object Readers {

  /** S7: source family a dropped file routes to (reference
    * `db_get_file_types`, dashboard/callbacks.py:43-157). */
  sealed abstract class FileSource(val name: String)
  object FileSource {
    /** Valid Actiwave EDF (has an ECG0 channel). */
    case object Actiwave extends FileSource("Actiwave")
    /** Empatica E4 session archive (full per-modality CSV set). */
    case object E4 extends FileSource("E4")
    /** ZIP of per-subject CSVs under a session folder. */
    case object Batch extends FileSource("batch")
    /** Single CSV, schema resolved by user column mapping (S4). */
    case object Csv extends FileSource("csv")
    /** Recognized extension, failed the content probe. */
    case object Invalid extends FileSource("invalid")
    /** Extension outside the dispatch table (reference: PreventUpdate). */
    case object Unknown extends FileSource("unknown")
  }

  /** The complete E4 session archive manifest the reference requires
    * before treating a ZIP as Empatica data (callbacks.py:82-90). */
  private val E4_MANIFEST = Seq("ACC.csv", "EDA.csv", "BVP.csv", "TEMP.csv",
    "IBI.csv", "HR.csv", "info.txt", "tags.csv")

  /** S7: file-type dispatcher. Routes by extension + content probe,
    * mirroring callbacks.py:60-147: `.edf` must parse as EDF and carry an
    * ECG0 channel (S13 probe); `.zip` is E4 when the full manifest is
    * present at the archive root, otherwise batch when every non-metadata
    * inner-folder entry is a CSV (vacuously true for an empty filtered
    * list, as in the reference's `all(...)`); `.csv` always routes to the
    * mapped-CSV reader. Driver-side by design — it stats ONE file; the
    * reader it selects does the distributed work. */
  def dispatch(path: String): FileSource = {
    // Extension comes from the BASENAME (the reference rsplits the
    // filename, callbacks.py:60-147): a dotless filename under a dotted
    // directory must not yield a path-fragment "extension".
    val ext = new java.io.File(path).getName.toLowerCase.split('.').last
    ext match {
      case "edf" =>
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
        if (Edf.isValidActiwave(bytes)) FileSource.Actiwave else FileSource.Invalid
      case "zip" =>
        val zf = new ZipFile(path)
        try {
          val names = zf.entries.asScala.map(_.getName).toVector
          if (E4_MANIFEST.forall(names.contains)) FileSource.E4
          else {
            val inner = names.filter(n => n.contains("/") &&
              !n.startsWith("__MACOSX/") && !n.endsWith(".DS_Store") &&
              !n.contains("/._") && !n.endsWith("/"))
              .map(_.split("/", 2)(1))
            if (inner.forall(_.endsWith(".csv"))) FileSource.Batch
            else FileSource.Invalid
          }
        } finally zf.close()
      case "csv" => FileSource.Csv
      case _ => FileSource.Unknown
    }
  }

  /** O3: most-recently-modified entry of a directory — the reference's
    * "the drop just finished, which file is it" probe
    * (callbacks.py:49-53). Ties break on name for determinism. */
  def latestFile(dir: String): Option[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).flatMap(_.sortBy(f => (-f.lastModified, f.getName))
      .headOption.map(_.getPath))
  }

  /** O6: sorted visible-CSV listing of a batch directory — the iteration
    * order the reference processes (and names) batch subjects in
    * (callbacks.py:747-750). */
  def sortedBatchCsvs(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        f.getName.endsWith(".csv"))
      .map(_.getPath).sorted.toSeq
  }

  /** E4 archive entry names -> (columns, canonical name). */
  private val E4_LAYOUT = Map(
    "ACC.csv" -> Seq("X", "Y", "Z"),
    "BVP.csv" -> Seq("BVP"),
    "EDA.csv" -> Seq("EDA"),
    "TEMP.csv" -> Seq("TEMP"),
    "HR.csv" -> Seq("HR"))

  /** Read one modality from an E4 ZIP: DataFrame with synthesized
    * `Timestamp` (µs epoch), `idx`, and the modality columns. E4 ACC is
    * additionally converted 1/64 g -> m/s² with a Magnitude column
    * (reference physioview.py:370-371; P1/P5). */
  def e4Modality(spark: SparkSession, zipPath: String, entry: String): DataFrame = {
    val cols = E4_LAYOUT(entry)
    val zf = new ZipFile(zipPath)
    try {
      val ze = zf.entries.asScala.find(_.getName.endsWith(entry))
        .getOrElse(throw new IllegalArgumentException(s"$entry not in $zipPath"))
      val lines = scala.io.Source.fromInputStream(zf.getInputStream(ze)).getLines().toArray
      val start = lines(0).split(",")(0).trim.toDouble // Unix seconds
      val fs = lines(1).split(",")(0).trim.toDouble
      val rows = lines.drop(2).zipWithIndex.map { case (l, i) =>
        val vs = l.split(",").map(_.trim.toDouble)
        Row.merge(Row(i.toLong, ((start + i / fs) * 1e6).toLong), Row(vs.toIndexedSeq: _*))
      }
      val schema = StructType(
        Seq(StructField("idx", LongType), StructField("ts_us", LongType)) ++
          cols.map(c => StructField(c, DoubleType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), schema)
      if (entry == "ACC.csv")
        df.withColumn("X", col("X") / 64 * 9.81)
          .withColumn("Y", col("Y") / 64 * 9.81)
          .withColumn("Z", col("Z") / 64 * 9.81)
          .withColumn("Magnitude",
            sqrt(col("X") * col("X") + col("Y") * col("Y") + col("Z") * col("Z")))
      else df
    } finally zf.close()
  }

  /** E4 IBI file: `Seconds,IBI` with the start time in the header row;
    * IBI seconds -> ms (reference physioview.py:487-523). */
  def e4Ibi(spark: SparkSession, zipPath: String): DataFrame = {
    val zf = new ZipFile(zipPath)
    try {
      val ze = zf.entries.asScala.find(_.getName.endsWith("IBI.csv"))
        .getOrElse(throw new IllegalArgumentException(s"IBI.csv not in $zipPath"))
      val lines = scala.io.Source.fromInputStream(zf.getInputStream(ze)).getLines().toArray
      val start = lines(0).split(",")(0).trim.toDouble
      val rows = lines.drop(1).map { l =>
        val p = l.split(",")
        val sec = p(0).trim.toDouble
        Row(((start + sec) * 1e6).toLong, p(1).trim.toDouble * 1000.0)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq),
        StructType(Seq(StructField("ts_us", LongType), StructField("IBI", DoubleType))))
    } finally zf.close()
  }

  /** Generic CSV with user column mapping: `mapping` renames source header
    * -> canonical role (Timestamp, ECG/PPG/BVP/EDA, X, Y, Z, TEMP). A
    * 1-based `Sample` column is synthesized when no Timestamp is mapped
    * (reference dashboard/utils.py:437-492). */
  /** CSV type-inference memo (r20, guide §1): `inferSchema=true` costs a
    * full extra pass over the file per READ CALL; the mapped-CSV fixtures
    * and pipeline inputs are schema-stable per path within a process, so
    * the inferred StructType is memoized (keyed by path + parse options)
    * and re-reads supply it explicitly. Types are still the INFERRED ones
    * — the oracle's DuckDB sniffing sees the same file — and the data
    * pass itself always reads the current bytes. */
  private val csvSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def inferredCsv(spark: SparkSession, path: String,
      opts: Map[String, String]): DataFrame = {
    val key = path + "|" + opts.toSeq.sorted.mkString(",")
    val schema = csvSchemaCache.computeIfAbsent(key, _ =>
      spark.read.options(opts).option("inferSchema", "true").csv(path).schema)
    spark.read.options(opts).schema(schema).csv(path)
  }

  def mappedCsv(spark: SparkSession, path: String,
      mapping: Map[String, String]): DataFrame = {
    val raw = inferredCsv(spark, path, Map("header" -> "true"))
    val projected = raw.select(mapping.keys.toSeq.map(c =>
      col(s"`$c`").as(mapping(c))): _*)
    if (mapping.values.exists(_ == "Timestamp")) projected
    else projected.withColumn("Sample",
      row_number().over(Window.orderBy(monotonically_increasing_id())).cast("long"))
  }

  /** Probe CSV headers (S5; reference dashboard/utils.py:422-428). */
  def csvHeaders(spark: SparkSession, path: String): Seq[String] =
    spark.read.option("header", "true").csv(path).columns.toSeq

  /** S6: batch-of-CSVs source (reference dashboard/callbacks.py:743-892).
    * The reference loops over extracted files serially; here the whole
    * directory is ONE partitioned `spark.read.csv` scan with the subject
    * derived from the file name via input_file_name() — at 100 TB this is
    * exactly where the engine should shine: per-subject pipelines become
    * one plan over all subjects. A per-subject 0-based `idx` sample clock
    * is materialized from within-file order.
    *
    * Ordering contract: within-file row order is only well-defined when
    * each file is read by ONE task start-to-end. Spark splits large CSVs
    * at maxPartitionBytes and packs the splits size-descending, so a
    * monotonic-id clock over a split file would scramble. When the
    * mapping carries a `Timestamp` role the clock orders by it and the
    * scan stays splittable (the scale path — require a timestamp for
    * multi-GB recordings); otherwise `multiLine` forces the non-splittable
    * whole-file read path, where batch parallelism = number of files,
    * which is exactly the S6 batch shape.
    *
    * Timestamp-path contract: timestamps must be UNIQUE per subject (the
    * sample-clock invariant every downstream operator assumes). Repeated
    * timestamps on a split scan have no recoverable file order; the
    * monotonic-id tie-break below keeps idx deterministic within one read
    * but tied rows may swap across runs. */
  def batchCsvDir(spark: SparkSession, dir: String,
      mapping: Map[String, String]): DataFrame = {
    val hasTs = mapping.values.exists(_ == "Timestamp")
    // Directory + pathGlobFilter, not "$dir/*.csv": a glob path makes
    // DataSource's FileStreamSink.hasMetadata probe stat the literal glob
    // string and log a WARN with a full FileNotFoundException stack trace
    // on every read (observed polluting the bench stderr tail).
    val raw = inferredCsv(spark, dir, Map("header" -> "true",
      "multiLine" -> (!hasTs).toString, "pathGlobFilter" -> "*.csv"))
    val w = Window.partitionBy("subject").orderBy(
      (if (hasTs) Seq(col("Timestamp"), monotonically_increasing_id())
       else Seq(monotonically_increasing_id())): _*)
    raw
      .withColumn("subject",
        regexp_extract(input_file_name(), "([^/]+)\\.csv", 1))
      .select(col("subject") +:
        mapping.keys.toSeq.map(c => col(s"`$c`").as(mapping(c))): _*)
      .withColumn("idx", row_number().over(w).cast("long") - 1)
  }

  /** S8: canonical sinks — Parquet for inter-stage checkpoints, exact
    * header CSV for the reference's export surface
    * (reference dashboard/callbacks.py:794-1101 temp-CSV materialization).
    */
  /** One file per export — the name IS the contract (r21, verdict item
    * 6): every caller writes a BOUNDED per-subject/per-recording table
    * (the reference's own layout is one CSV per subject), and the
    * ambient partitioning otherwise lands one near-empty part file per
    * shuffle partition — slower to commit and to read back at every
    * scale. A corpus-sized table must NOT come through here: the
    * coalesce(1) serializes the whole write into one task. The explicit
    * `Single` suffix makes that misuse visible at the call site (the
    * generic-sounding `writeCsv` name invited it silently). */
  def writeCsvSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  def writeParquet(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    graft.core.Tables.rememberWritten(df, path) // keep readStable's memo honest
  }

  /** Sharded JSONL training-data export: one `<shardCol>=K/` directory of
    * line-delimited JSON per deterministic shard — the layout tokenizer /
    * training-loader jobs consume (one worker streams one shard).
    * Repartitioned on the shard key first so each shard writes as a
    * contiguous file-set: at corpus scale the write parallelism is the
    * shard count, with no post-hoc file merge. */
  def writeJsonlShards(df: DataFrame, shardCol: String, path: String): Unit =
    df.repartition(col(shardCol))
      .write.mode("overwrite").partitionBy(shardCol).json(path)

  /** Beat-editor JSON export (S9): records-oriented, epoch-ms dates,
    * Signal/Beat/Artifact naming, injected Segment
    * (reference physioview.py:1594-1688). */
  def writeBeatEditorJson(signal: DataFrame, sigCol: String, outPath: String): Unit =
    signal.select(
      col("segment").as("Segment"),
      (col("ts_us") / 1000).cast("long").as("Timestamp"),
      col(sigCol).as("Signal"),
      col("beat").as("Beat"),
      col("artifact").as("Artifact"))
      .coalesce(1) // bounded per-recording export — one file (guide §6)
      .write.mode("overwrite").json(outPath)

  /** Beat-editor edit-instruction source (S10; `_edited.json`):
    * x/y/from/to/editType with epoch-ms values
    * (reference physioview.py:1690-1737, docs/beat-editor-json.rst). */
  def readBeatEdits(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("x", LongType), StructField("y", DoubleType),
      StructField("from", LongType), StructField("to", LongType),
      StructField("editType", StringType)))
    spark.read.schema(schema).json(path)
  }
}
