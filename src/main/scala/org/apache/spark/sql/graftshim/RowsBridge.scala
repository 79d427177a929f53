package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Mounts an RDD of rows as a DataFrame whose plan root IS that RDD:
  * `SparkSession.createDataFrame` wraps its input in a conversion RDD,
  * so a pinned RDD would hide behind an unpinned one and
  * `IterPin.free` could not release it. `Dataset.ofRows` and the
  * `LogicalRDD` constructor are `private[sql]`; same narrowly-scoped
  * shim pattern as ColumnBridge.
  */
object RowsBridge {

  /** `rdd` as a frame of `schema`; `rows` (known to the caller) sizes
    * the plan statistics, so downstream joins can still broadcast it.
    */
  def frame(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
            rows: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val stats = Statistics(
      sizeInBytes = BigInt(math.max(rows, 1L)) * (8 + schema.defaultSize),
      rowCount = Some(BigInt(rows)))
    classic.Dataset.ofRows(s,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(s, Some(stats)))
  }
}
