package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Harness.isolated: the per-query persist cleanup every main runs. */
class HarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("an RDD persisted before isolated survives it") {
    val kept = spark.range(100).localCheckpoint()
    val cached = spark.sparkContext.parallelize(1 to 10).cache()
    cached.count()
    val before = persisted
    Harness.isolated(spark)(spark.range(50).localCheckpoint().count())
    assert(persisted == before)
    assert(kept.count() == 100 && cached.count() == 10)
    cached.unpersist(blocking = true)
  }

  test("every localCheckpoint made inside isolated is released") {
    val before = persisted
    // the persisted-RDD registry holds its RDDs weakly: keep the pins
    // reachable so only the unpersist can take them out of it
    val (pins, made) = Harness.isolated(spark) {
      val pins = (1 to 3).map(i => spark.range(10 * i).localCheckpoint())
      (pins, persisted -- before)
    }
    assert(pins.size == 3 && made.size == 3)
    assert((persisted & made).isEmpty)
    assert(spark.sparkContext.getRDDStorageInfo.forall(i => !made.contains(i.id)))
  }

  test("a body that throws still releases its RDDs") {
    val before = persisted
    var pin: Option[org.apache.spark.sql.DataFrame] = None
    var made = Set.empty[Int]
    val e = intercept[IllegalStateException] {
      Harness.isolated(spark) {
        pin = Some(spark.range(10).toDF().localCheckpoint())
        made = persisted -- before
        throw new IllegalStateException("query failed")
      }
    }
    assert(e.getMessage == "query failed")
    assert(pin.isDefined && made.nonEmpty && (persisted & made).isEmpty)
  }
}
