package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A DataFrame over an RDD of Catalyst rows. It plans as a leaf scan of
  * the RDD, so the optimizer never sees how the rows are computed and no
  * rule can evaluate that work on the driver. `internalCreateDataFrame`
  * is `private[sql]`, hence this shim (same rationale as [[ColumnBridge]]).
  */
object InternalRowsBridge {
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)
}
