package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * The `events` table is written with parquet TIMESTAMP(NANOS), which Spark
  * rejects by default (PARQUET_TYPE_ILLEGAL). We read nanos as a long
  * (`spark.sql.legacy.parquet.nanosAsLong`) and derive a µs-precision
  * TimestampType column — the same ns→µs truncation DuckDB applies when it
  * reads the file, so oracle comparisons line up exactly.
  */
object Tables {

  /** Schema memo for the driver-provided INPUT tables (r20 guide §1/§6):
    * every bare `spark.read.parquet(path)` submits a footer-reading
    * schema-inference JOB — ~30-50 ms of fixed cost per read call, paid
    * again on every call even though the input tables are immutable for
    * the life of the process. Caching the inferred StructType per path
    * removes that job; the DATA is still scanned from parquet on every
    * action (this memoizes metadata only, never results — the same class
    * of caching a production deployment gets from a declared-schema
    * catalog table). Keyed by the full path, so distinct scale-factor
    * dirs never share an entry. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  /** Memoized-schema parquet read for SCHEMA-STABLE paths: the driver's
    * input tables and the engine's own persisted artifacts (index
    * tables, censuses, sketches, weight tables), whose writers are
    * deterministic so the schema at a path never changes within a
    * process. Only the StructType is memoized — every action still
    * scans the current files, so a re-written artifact is re-READ in
    * full; there is no data or result caching here. */
  def readStable(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Record the schema of `df` just written to `path` as the path's
    * memo. Every artifact writer calls this after an overwrite, so a
    * same-path rewrite with an EVOLVED schema is never served a stale
    * StructType by [[readStable]], and the read after a write submits no
    * schema-inference job. The read makes every field nullable, as a
    * footer read does, so the memo reads back the footer's schema. */
  def rememberWritten(df: DataFrame, path: String): Unit =
    schemaCache.put(path, df.schema)

  /** Overwrite-write a parquet artifact at its natural partitioning and
    * record its schema memo (see [[rememberWritten]]). The write path for
    * CORPUS-SIZED artifacts (censuses, assignments, codes); bounded tables
    * go through [[writeSmall]]. */
  def writeArtifact(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    rememberWritten(df, path)
  }

  /** Read a raw table by name from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    readStable(spark, s"$sfDir/$name.parquet")
  }

  /** Write a BOUNDED artifact table as ONE parquet file (guide §6 output
    * sizing): the callers' tables are nLists-/vocab-/numBuckets-bounded
    * (≤ tens of MB even at 1e9-vector / 100 TB scale), and the default
    * write otherwise lands one near-empty file per shuffle partition —
    * paying file-commit and read-back listing cost at every scale for
    * no parallelism anybody uses. Corpus-sized tables (assignments, PQ
    * codes, token censuses) must NOT go through this — they keep their
    * natural partitioning. */
  def writeSmall(df: DataFrame, path: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    rememberWritten(df, path)
  }

  /** Run INDEPENDENT write/output actions concurrently from a small
    * thread pool (guide §2.6 "overlap independent jobs"): a multi-table
    * artifact persist otherwise serializes one tiny job + commit +
    * driver gap per table while 31 cores idle. FIFO scheduling means
    * later jobs back-fill the earlier jobs' task tails — wall time
    * approaches the max, not the sum.
    *
    * Callers MUST have materialized any localCheckpoint state these
    * plans read BEFORE calling (every call site's state tables derive
    * from eagerly-pinned intermediates): concurrently materializing a
    * checkpoint off the main thread re-opens the r17 ABBA deadlock
    * window (see the PageRank loop comment) — plain write jobs over
    * pinned state do not touch RDDCheckpointData at all. */
  def parWrite(writes: Seq[() => Unit]): Unit =
    if (writes.size <= 1) writes.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(writes.size, 4))
      try {
        val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        val fs = writes.map(w => scala.concurrent.Future(w())(ec))
        fs.foreach(f => scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    }

  /** events with `ts` (µs timestamp), `ts_us` (epoch micros, BIGINT).
    *
    * The driver has shipped `events.parquet` with two physical `ts`
    * encodings across rounds — TIMESTAMP(NANOS) (arrives as BIGINT nanos
    * under `nanosAsLong`) and TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ
    * or TIMESTAMP depending on `inferTimestampNTZ`) — so the loader
    * branches on the arrived type instead of assuming one. All µs-epoch
    * math is integer-exact: epoch-ns (~1.7e18) exceeds double's 2^53
    * integer range, so nothing routes through double. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // oracle comparisons are defined in UTC; pin it so NTZ→LTZ is identity
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = table(spark, sfDir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsUs = raw.schema("ts").dataType match {
      case LongType         => expr("ts div 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case TimestampType    => unix_micros(col("ts"))
      case other => throw new IllegalStateException(
        s"unexpected events.ts type: $other")
    }
    raw
      .withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
