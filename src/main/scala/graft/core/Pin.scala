package graft.core

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** The engine's one materialization. A pin is an eager local checkpoint:
  * one job on the calling thread, so no consumer fills it lazily (a lazy
  * fill on a broadcast-exchange thread deadlocks against the DAG
  * scheduler's lock order). Its blocks do not survive a lost executor.
  * Spark's own eager fill counts every partition and drops the count;
  * a pin keeps the rows and bytes as its Catalyst statistics. */
object Pin {

  /** `df.localCheckpoint()`: the same job under the same execution name,
    * and the output, placement, ordering and constraints
    * `LogicalRDD.fromDataset` gives, with the exact row count and summed
    * `UnsafeRow` bytes as statistics in place of the pre-pin estimate. */
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      val sizes = fill(rdd) { it =>
        var (n, b) = (0L, 0L)
        it.foreach { r => n += 1; b += r.asInstanceOf[UnsafeRow].getSizeInBytes }
        (n, b)
      }
      val (exec, opt, out) = (qe.executedPlan, qe.optimizedPlan, qe.analyzed.output)
      // fromDataset maps the optimized plan's constraints onto the output;
      // the optimizer keeps the output's ids, so they apply as they are
      val constraints = if (opt.output == out) Some(opt.constraints) else None
      relation(ds.sparkSession, LogicalRDD(out, rdd, firstLeaf(exec.outputPartitioning),
        exec.outputOrdering, ds.isStreaming)(ds.sparkSession, None, constraints),
        Some((sizes.map(_._1).sum, sizes.map(_._2).sum)))
    }
  }

  /** Marks `rdd` for local checkpointing and fills it with ONE job that
    * returns `summary` of each partition; the checkpoint completes at the
    * end of that job. */
  def fill[T, S: ClassTag](rdd: RDD[T])(summary: Iterator[T] => S): Array[S] = {
    rdd.localCheckpoint()
    rdd.sparkContext.runJob(rdd, summary)
  }

  /** `plan` as a DataFrame; `size`, (rows, bytes) when known, becomes its
    * Catalyst statistics (the default estimate otherwise). */
  def relation(spark: classic.SparkSession, plan: LogicalRDD,
      size: Option[(Long, Long)]): DataFrame = {
    val stats = size.map { case (rows, bytes) => Statistics(bytes, Some(rows)) }
    val sized = plan.copy()(spark, stats, Some(plan.constraints))
    new classic.Dataset[Row](spark, sized, ExpressionEncoder(sized.schema))
  }

  /** A deep join's collection grows exponentially: keep its first leaf. */
  @scala.annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case p => p
  }

  implicit final class Syntax(private val df: DataFrame) extends AnyVal {
    def pin(): DataFrame = Pin(df)
  }
}
