package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** `Dataset.ofRows` is `private[sql]`; this shim builds a DataFrame over an
  * RDD of internal rows with the plan `createDataFrame(RDD[Row], schema)`
  * builds — a `LogicalRDD`, so each reference (a self-join) gets fresh
  * attributes — but with the given statistics instead of an unknown size.
  */
object RowsBridge {
  def frame(spark: SparkSession, schema: StructType, rows: RDD[InternalRow],
            stats: Statistics): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(session, Some(stats)))
  }
}
