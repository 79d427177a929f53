package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Releases a persisted RDD's blocks, non-blocking unless asked. A locally
  * checkpointed RDD goes through `SparkContext.unpersistRDD` rather
  * than `RDD.unpersist`, which logs a WARN for each one (its lineage
  * is truncated, so the blocks cannot be recomputed) — for a loop that
  * frees each superseded round on purpose, that is one WARN per round.
  * Such an RDD keeps reporting its storage level afterwards, so the
  * context's persistent-RDD map says whether it still holds blocks.
  * Every other RDD takes `RDD.unpersist`, which also resets its level.
  * `unpersistRDD`, `persistentRdds` and `checkpointData` are
  * `private[spark]`; same narrowly-scoped shim pattern as ListenerBridge.
  */
object BlocksBridge {
  def unpersist(rdd: RDD[_], blocking: Boolean = false): Unit = {
    val sc = rdd.sparkContext
    val local = rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
    if (!local) rdd.unpersist(blocking)
    else if (sc.persistentRdds.contains(rdd.id)) sc.unpersistRDD(rdd.id, blocking)
  }
}
