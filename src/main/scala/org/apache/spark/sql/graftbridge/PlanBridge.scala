package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** LogicalPlan (and RDD) ⇄ DataFrame bridge.
  *
  * Spark 4 split the public `Dataset` API from the `classic`
  * implementation and made `Dataset.ofRows` / `queryExecution`-based
  * plan access `private[sql]`. The lake's SQL surface (a resolution
  * rule that rewrites `MERGE INTO` / `DELETE FROM` / `VERSION AS OF`
  * over manifest tables into runnable commands) needs both directions:
  * wrap an analyzer-resolved source plan as a DataFrame for the lake
  * API, and splice a DataFrame's analyzed plan back into the tree being
  * resolved. The MERGE passes also need a plan's executed RDD (with or
  * without adaptive execution) and a frame over kept rows. Same
  * one-file-adapter pattern as [[ColumnBridge]]. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** The RDD of `df`'s executed plan, planned as one SQL execution
    * named `toRdd` (so listeners see its plan and its jobs). Under
    * adaptive execution this runs the plan's exchange stages
    * (broadcasts, shuffle maps) now; its rows are reused buffers, so
    * copy before holding one. */
  def internalRows(df: DataFrame): RDD[InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("toRdd"))(qe.toRdd)
  }

  /** The RDD of `df`'s plan prepared without adaptive execution, so
    * its shuffles stay stage boundaries inside the one job that reads
    * the RDD (adaptive execution runs each shuffle as a job of its
    * own). Its rows are reused buffers, as [[internalRows]]'. */
  def oneJobRows(df: DataFrame): RDD[InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    org.apache.spark.sql.execution.QueryExecution
      .prepareExecutedPlan(qe.sparkSession, qe.optimizedPlan).execute()
  }

  /** A frame over `rows` whose schema is `schema`. */
  def fromInternalRows(spark: SparkSession, rows: RDD[InternalRow],
                       schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)
}
