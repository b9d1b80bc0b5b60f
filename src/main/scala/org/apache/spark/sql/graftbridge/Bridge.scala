package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** The two `private[sql]` doors the engine needs: turning a hand-built
  * [[LogicalPlan]] into a DataFrame (`classic.Dataset.ofRows`), and
  * storing driver-built rows as a relation whose order Catalyst knows
  * ([[presorted]], the `LogicalRDD` that `Dataset.localCheckpoint` builds).
  * Lives in a subpackage of `org.apache.spark.sql` — the standard
  * extension-library technique for plan-level integration (same route
  * Delta/Sedona use); everything else in the engine goes through public
  * API or SparkSessionExtensions.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The rows of `localDf`, a local relation already sorted by `order`,
    * as a relation that is range-partitioned and sorted by `order` in the
    * plan: what `Dataset.localCheckpoint` builds for a sorted plan, with
    * no job and no Spark sort. A reader's own sort on a prefix of `order`
    * then plans with no exchange and no sort. `order` is resolved against
    * the local relation (analysis only), and the rows must be strictly
    * increasing under Spark's own ordering of it, or this fails and names
    * the first row out of order. The rows are split into
    * `spark.sql.shuffle.partitions` contiguous chunks, which reach the
    * tasks through one broadcast: a parallelized collection would
    * serialize its rows into every task. */
  def presorted(localDf: DataFrame, order: Column*): DataFrame = {
    val spark = localDf.sparkSession.asInstanceOf[classic.SparkSession]
    val local = localDf.queryExecution.optimizedPlan match {
      case l: LocalRelation => l
      case p => throw new IllegalArgumentException(
        s"presorted stores a local relation, not:\n$p")
    }
    val ordering = ofRows(spark, local).orderBy(order: _*).queryExecution.analyzed
      .collectFirst { case s: Sort => s.order }.get
    val toUnsafe = UnsafeProjection.create(local.schema)
    val rows = local.data.map(toUnsafe(_).copy()).toArray
    val cmp = new InterpretedOrdering(ordering, local.output)
    (1 until rows.length).find(i => cmp.compare(rows(i - 1), rows(i)) >= 0).foreach { i =>
      def show(k: Int) = rows(k).toSeq(local.schema).mkString("(", ", ", ")")
      throw new IllegalArgumentException(s"presorted rows are not strictly increasing " +
        s"by ${ordering.map(_.sql).mkString(", ")}: row $i ${show(i)} does not " +
        s"follow row ${i - 1} ${show(i - 1)}")
    }
    val n = spark.sessionState.conf.numShufflePartitions
    val chunks = Array.tabulate(n) { k =>
      rows.slice((k.toLong * rows.length / n).toInt, ((k + 1).toLong * rows.length / n).toInt)
    }
    val bc = spark.sparkContext.broadcast(chunks)
    val rdd = spark.sparkContext.parallelize(0 until n, n)
      .mapPartitionsWithIndex[InternalRow]((k, _) => bc.value(k).iterator)
    ofRows(spark, LogicalRDD(local.output, rdd, RangePartitioning(ordering, n), ordering)(
      spark, Some(local.stats)))
  }
}
