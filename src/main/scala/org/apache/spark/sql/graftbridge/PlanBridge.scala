package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Spark 4 keeps `Dataset.ofRows` (a DataFrame over a given logical
  * plan) `private[sql]`; the driver plan evaluator (graft.plan.DriverPlan)
  * needs it to hand its custom leaves to the Compiler as DataFrames. */
object PlanBridge {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `e` with -0.0 as 0.0 and every NaN as the one NaN, also inside
    * arrays and structs: the values Spark groups and joins on. */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)

  /** Every row of `df` as an UnsafeRow (copied off the executors'
    * reused buffers), in one job. */
  def collectInternal(df: DataFrame): Array[InternalRow] =
    unsafeRows(df).map(_.copy(): InternalRow).collect()

  /** The bytes [[collectInternal]] would fetch, summed on the executors
    * in one job that ships no row. */
  def internalBytes(df: DataFrame): Long =
    unsafeRows(df).map(_.getSizeInBytes.toLong).fold(0L)(_ + _)

  private def unsafeRows(df: DataFrame): RDD[UnsafeRow] = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      it.map {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }
    }
  }
}
