package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** Tables.events must accept EVERY physical `ts` encoding the driver has
  * shipped: TIMESTAMP(NANOS) (arriving as BIGINT nanos under
  * `nanosAsLong`), native TIMESTAMP(MICROS) adjusted-to-UTC
  * (TimestampType), and MICROS wall-time (TIMESTAMP_NTZ). The round-11
  * testdata regen silently flipped ns→µs and every events-based query
  * failed analysis until the loader branched on the arrived type
  * (round 12) — this spec keeps all three paths alive. */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val US = 1600000000123456L // epoch µs, survives ns round-trip

  private def writeEvents(ts: org.apache.spark.sql.Column): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evts").toFile.getPath
    Seq((1L, 7L, "click", 1.5, "p"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", ts)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def check(dir: String): Unit = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    val row = df.select("ts_us", "event_id").head
    assert(row.getLong(0) == US, s"ts_us=${row.getLong(0)}")
  }

  test("events loader: BIGINT-nanos encoding (nanosAsLong path)") {
    check(writeEvents(lit(US * 1000L))) // column named ts, LongType nanos
  }

  test("events loader: native TIMESTAMP (µs, adjusted to UTC)") {
    check(writeEvents(timestamp_micros(lit(US))))
  }

  test("events loader: TIMESTAMP_NTZ (µs wall time)") {
    check(writeEvents(timestamp_micros(lit(US)).cast(TimestampNTZType)))
  }

  test("readStable memo is evicted on artifact rewrite (schema evolution)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("art")
      .toFile.getPath + "/t"
    Tables.writeArtifact(Seq((1L, "a")).toDF("id", "v"), path)
    assert(Tables.readStable(spark, path).columns.toSeq == Seq("id", "v"))
    // rewrite the SAME path with an evolved schema: the memo must not
    // serve the stale StructType (writeSmall replaces the entry too)
    Tables.writeSmall(Seq((2L, "b", 3.0)).toDF("id", "v", "w"), path)
    val back = Tables.readStable(spark, path)
    assert(back.columns.toSeq == Seq("id", "v", "w"))
    assert(back.head.getDouble(2) == 3.0)
  }

  test("artifact writers memo the footer-read schema; a same-path rewrite reads back the new one") {
    import spark.implicits._
    type Writer = (org.apache.spark.sql.DataFrame, String) => Unit
    val dir = java.nio.file.Files.createTempDirectory("memo").toFile.getPath
    // non-nullable fields at every nesting level: a footer read returns
    // them all nullable, and so must the memoized read
    val nested = Seq((1L, Seq(2L, 3L), Map("k" -> 4L), (5L, "s")))
      .toDF("id", "xs", "m", "st")
      .select(col("id"), col("xs"), col("m"), col("st"),
        struct(col("id"), array(col("id"))).as("nn"))
    assert(!nested.schema("id").nullable)
    val small: Writer = Tables.writeSmall
    val artifact: Writer = Tables.writeArtifact
    for ((first, rewrite, name) <- Seq((small, artifact, "small"),
        (artifact, small, "artifact"))) {
      val path = s"$dir/$name"
      first(nested, path)
      assert(Tables.readStable(spark, path).schema ==
        spark.read.parquet(path).schema, name)
      // rewrite the SAME path with another schema: the memo must not
      // serve the stale StructType
      rewrite(Seq(("a", 1.5)).toDF("v", "w"), path)
      val back = Tables.readStable(spark, path)
      assert(back.schema == spark.read.parquet(path).schema, name)
      assert(back.columns.toSeq == Seq("v", "w"), name)
      assert(back.head.getString(0) == "a" && back.head.getDouble(1) == 1.5)
    }
  }

  test("writeCsvSingle lands exactly one CSV part file") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("csv1")
      .toFile.getPath + "/out"
    graft.io.Readers.writeCsvSingle(
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))
        .repartition(8), path)
    val parts = new java.io.File(path).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.length == 1, s"expected 1 part file, got ${parts.length}")
  }
}
