package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Pin
import graft.core.Pin.Syntax

/** [[Pin]]: one eager fill job, exact Catalyst statistics, the placement
  * `Dataset.localCheckpoint()` gives, and released by `Harness.isolated`. */
class PinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def rows: DataFrame =
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"),
      col("id").cast("string").as("s"))

  private def stats(df: DataFrame) = df.queryExecution.optimizedPlan.stats

  private def jobsOf(body: => Any): Int = JobCount.of(spark)(body)

  test("statistics carry the exact row count") {
    val p = rows.filter(col("k") === 3).pin()
    assert(stats(p).rowCount.contains(BigInt(p.count())))
    assert(p.count() == 143)
  }

  test("statistics carry the summed UnsafeRow bytes") {
    val df = rows
    val bytes = df.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum().toLong
    assert(bytes > 0 && stats(Pin(df)).sizeInBytes == BigInt(bytes))
  }

  test("a pin runs exactly one job, as localCheckpoint does") {
    assert(jobsOf(Pin(rows)) == 1 && jobsOf(rows.localCheckpoint()) == 1)
    // an adaptive shuffle adds its map-stage job to both alike (a fresh
    // Dataset each: an executed one reuses its materialized stages)
    def agg = rows.groupBy("k").count()
    assert(jobsOf(Pin(agg)) == jobsOf(agg.localCheckpoint()))
    var p: DataFrame = null
    jobsOf { p = Pin(agg) }
    assert(jobsOf(p.collect()) == 1) // reads the blocks: no recompute
  }

  test("a pin keeps its placement: repartition(n, k) then groupBy(k) " +
      "plans no exchange") {
    // as in Dataset.localCheckpoint(), the placement is the executed
    // plan's; under adaptive execution that plan reports none
    def keyed(s2: SparkSession, pin: DataFrame => DataFrame) = {
      val p = pin(s2.range(200).select(col("id"), (col("id") % 5).as("k"))
        .repartition(3, col("k")))
      assert(p.groupBy("k").count().count() == 5)
      "Exchange".r.findAllIn(
        p.groupBy("k").count().queryExecution.executedPlan.toString).size
    }
    val plain = spark.newSession()
    plain.conf.set("spark.sql.adaptive.enabled", "false")
    assert(keyed(plain, Pin(_)) == 0)
    val adaptive = spark.newSession()
    adaptive.conf.set("spark.sql.adaptive.enabled", "true")
    assert(keyed(adaptive, Pin(_)) == keyed(adaptive, _.localCheckpoint()))
  }

  test("an empty input pins to 0 rows") {
    val p = rows.filter(col("id") < 0).pin()
    assert(stats(p).rowCount.contains(BigInt(0)) && p.count() == 0)
  }

  test("Harness.isolated releases a pin made inside it") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    // the persisted-RDD registry holds its RDDs weakly: keep the pin
    // reachable so only the unpersist can take it out
    val (p, made) = Harness.isolated(spark) {
      val p = rows.pin()
      (p, persisted -- before)
    }
    assert(p.columns.length == 3 && made.size == 1)
    assert((persisted & made).isEmpty)
  }
}
