package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Readers
import graft.llm.Multimodal

class IoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def makeE4Zip(): String = {
    val f = File.createTempFile("e4_", ".zip")
    val zos = new ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("EDA.csv", "1700000000.0\n4.0\n0.5\n0.6\n0.7\n0.8\n")
    entry("ACC.csv", "1700000000.0,1700000000.0,1700000000.0\n32.0,32.0,32.0\n64,0,0\n0,64,0\n")
    entry("IBI.csv", "1700000000.0, IBI\n0.5,0.8\n1.3,0.8\n")
    zos.close()
    f.getAbsolutePath
  }

  test("E4 ZIP modality reader: start/fs header, timestamps, unit conversion") {
    val zip = makeE4Zip()
    val eda = Readers.e4Modality(spark, zip, "EDA.csv").collect().sortBy(_.getLong(0))
    assert(eda.length == 4)
    assert(eda(0).getLong(1) == 1700000000000000L)
    assert(eda(1).getLong(1) == 1700000000250000L) // +1/4 s at fs=4
    assert(eda(0).getDouble(2) == 0.5)
    val acc = Readers.e4Modality(spark, zip, "ACC.csv").collect().sortBy(_.getLong(0))
    assert(math.abs(acc(0).getDouble(2) - 9.81) < 1e-9) // 64/64*9.81
    assert(math.abs(acc(0).getAs[Double]("Magnitude") - 9.81) < 1e-9)
  }

  test("E4 IBI reader: seconds offset + s->ms") {
    val zip = makeE4Zip()
    val ibi = Readers.e4Ibi(spark, zip).collect().sortBy(_.getLong(0))
    assert(ibi.length == 2)
    assert(ibi(0).getLong(0) == 1700000000500000L)
    assert(ibi(0).getDouble(1) == 800.0)
  }

  test("mapped CSV reader: rename + synthetic Sample") {
    val dir = Files.createTempDirectory("csv_").toString
    Files.writeString(java.nio.file.Paths.get(dir, "d.csv"), "millivolts,junk\n1.0,x\n2.0,y\n")
    val df = Readers.mappedCsv(spark, dir, Map("millivolts" -> "ECG"))
    assert(df.columns.toSeq == Seq("ECG", "Sample"))
    val rows = df.collect().sortBy(_.getLong(1))
    assert(rows.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0))
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("mapped CSV reader: a split scan keeps file order in Sample") {
    // Spark orders a file's splits by length with a stable sort, and every
    // split but the last has the same length, so a monotonic-id clock over
    // a split single-file scan still follows file order.
    val dir = Files.createTempDirectory("csv_split_").toString
    val n = 20000
    Files.writeString(java.nio.file.Paths.get(dir, "d.csv"),
      (0 until n).map(i => s"${i * 0.5},$i").mkString("millivolts,row\n", "\n", "\n"))
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "16384")
    try {
      val splits = spark.read.option("header", "true").csv(dir).rdd.getNumPartitions
      assert(splits > 4, s"expected a split scan, got $splits partitions")
      val rows = Readers.mappedCsv(spark, dir, Map("millivolts" -> "ECG", "row" -> "Row"))
        .select("Row", "Sample").collect()
      assert(rows.length == n)
      assert(rows.forall(r => r.getAs[Number](1).longValue == r.getAs[Number](0).longValue + 1))
    } finally spark.conf.set(key, saved)
  }

  test("multimodal plumbing: deterministic stub features + checksum") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "abc")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(
      Multimodal.asMedia(docs, "doc_id", "text")).collect().sortBy(_.id)
    assert(feats.length == 2)
    assert(feats.forall(_.dim == Multimodal.FEATURE_DIM))
    assert(feats.forall(_.features.length == Multimodal.FEATURE_DIM))
    // determinism across runs
    val again = Multimodal.extractFeatures(
      Multimodal.asMedia(docs, "doc_id", "text")).collect().sortBy(_.id)
    assert(feats.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
  }
}
