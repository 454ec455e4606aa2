package graft

import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts, for specs that pin job counts. */
object JobCount {

  /** The jobs `body` starts. The listener counts the jobs between two
    * marker jobs; events arrive in order, so once the second marker is
    * seen every job of `body` has been counted. */
  def of(spark: SparkSession)(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (marks, jobs) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger)
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.job.description") == "marker")) {
          if (marks.incrementAndGet() == 2) done.countDown()
        } else if (marks.get == 1) jobs.incrementAndGet()
    }
    def marker(): Unit = {
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(); body; marker()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
