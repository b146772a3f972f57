package org.apache.spark.sql

import java.math.BigInteger

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.LongType

/**
 * An eager local checkpoint that keeps what its job counted. Spark's
 * `Dataset.localCheckpoint` counts every partition and discards the
 * counts, and gives the checkpoint scan the origin plan's statistics;
 * `Dataset.ofRows` and the `LogicalRDD` statistics argument are private
 * to this package, hence this bridge; it also releases checkpoint
 * blocks without `RDD.unpersist`'s warning. graft calls it only from
 * `graft.Caches`, so the job's call site reads
 * `localCheckpoint at Caches.scala`.
 */
object CountedCheckpoint {

  /**
   * Checkpoint `df` in ONE job. Returns the checkpoint frame with the
   * exact row count, the exact sum of the long column `sumOf` (nulls
   * skipped; 0 for no column, no rows or only nulls) and its RDD.
   * The frame's plan statistics are the true row count and rows × row
   * width; its partitioning, ordering and constraints are the origin
   * plan's. The job stores every block, so `LocalRDDCheckpointData`
   * finds nothing left to compute when it marks the RDD checkpointed.
   */
  def localCheckpoint(df: DataFrame, sumOf: Option[String]): graft.Caches.Counted = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val out = qe.executedPlan.output
      val ord = sumOf.fold(-1) { c =>
        val i = out.indexWhere(_.name == c)
        require(i >= 0 && out(i).dataType == LongType, s"no long column $c to sum")
        i
      }
      val rdd = qe.executedPlan.execute().map(_.copy()).localCheckpoint()
      val parts = session.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        var n = 0L
        var sum = BigInteger.ZERO // exact past Long.MaxValue
        it.foreach { r =>
          n += 1
          if (ord >= 0 && !r.isNullAt(ord)) sum = sum.add(BigInteger.valueOf(r.getLong(ord)))
        }
        (n, sum)
      })
      val rows = parts.map(_._1).sum
      val sum = BigInt(parts.map(_._2).foldLeft(BigInteger.ZERO)(_ add _))
      val origin = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
      val stats = Statistics(
        sizeInBytes = EstimationUtils.getSizePerRow(origin.output) * rows,
        rowCount = Some(BigInt(rows)))
      val counted = origin.copy()(session, Some(stats), Some(origin.constraints))
      graft.Caches.Counted(classic.Dataset.ofRows(session, counted), rows, sum)(rdd)
    }
  }

  /**
   * Release a persisted RDD's blocks, blocking until they are removed.
   * A local checkpoint's blocks go through `SparkContext.unpersistRDD`
   * (private to Spark), the block removal `RDD.unpersist` runs minus its
   * WARN that the lineage is truncated — true of every checkpoint graft
   * releases, and one log line per release. Other RDDs keep
   * `unpersist`.
   */
  def release(rdd: RDD[_]): Unit =
    if (rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty) // local: no file
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
    else rdd.unpersist(blocking = true)
}
