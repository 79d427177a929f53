package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.BlocksBridge
import org.apache.spark.storage.StorageLevel

/** Checkpoint discipline for iterative operators (the vertex-state
  * loops of [[VertexLoop]], path expansion and closure, and the pins
  * around them): every loop pins its per-round state with an EAGER
  * checkpoint so the plan stays linear, and frees the SUPERSEDED
  * round's blocks once the successor is materialized — without the
  * free, every round's full state stays pinned in the block manager
  * until GC-triggered cleanup gets around to it, and on a shared heap
  * (local mode; dense cluster executors) that retention was the
  * measured memory-pressure term of the sf10 scaling study (round 12:
  * gr02's residual 1.17 exponent isolated to one-JVM heap).
  *
  * `pin` is `localCheckpoint` by default (executor-local blocks, no
  * I/O beyond the memory/disk tier). Set `graft.iter.checkpointDir`
  * to a reliable location (HDFS/object store) to route the same call
  * sites through RELIABLE `checkpoint` instead — on a large cluster
  * localCheckpoint blocks die with their executor and a lost executor
  * kills the whole iteration (no lineage to recompute from); reliable
  * checkpoints trade per-round write I/O for fault tolerance, the
  * right side of the trade once rounds are minutes long.
  *
  * `free` is safe by construction: it only acts when the frame IS a
  * checkpoint result (its plan root is the materialized-RDD leaf) and
  * that RDD is still persisted — a derived/plain frame no-ops, so
  * callers never have to track which of first-round inputs were
  * checkpoints. Callers must free a frame only after its successor is
  * materialized AND the frame's last consumer (convergence probe,
  * delta check) has run: a freed localCheckpoint cannot be recomputed.
  */
private[graft] object IterPin {

  /** Eagerly materialize an iteration frame (see class doc). */
  def pin(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("graft.iter.checkpointDir") match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** [[pin]] for RDD state ([[VertexLoop]]): marks `rdd` for the same
    * route and returns it; the next job over it materializes it, so a
    * loop's per-round count job is also its pin. The reliable route
    * persists first, so the checkpoint write reads the blocks that job
    * cached instead of recomputing the round.
    */
  def pin[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    spark.conf.getOption("graft.iter.checkpointDir") match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      case None => rdd.localCheckpoint()
    }
    rdd
  }

  private val probeId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[pin]] plus the round's convergence probe IN THE SAME JOB: the
    * aggregate columns ride as a `Dataset.observe` node on the frame
    * being checkpointed, so the materialization action itself fills
    * them and the loop reads the row off the executed plan
    * ([[org.apache.spark.sql.graftshim.MetricsBridge]]) — one
    * scheduled job per round where pin-then-agg paid two. At the
    * bench's state sizes the probe job was pure scheduler floor; at
    * cluster scale it was a full extra pass over the round's state.
    *
    * Exactness: observed metrics are accumulator-backed, and callers
    * consume them as ABSOLUTE values (closeness's n/k scale factor,
    * PathExpand's row caps, the components regime gate) — not just as
    * stop signals — so an inflated probe corrupts results, it doesn't
    * merely delay a fixpoint. Two inflation hazards, both closed here
    * rather than left to a manual conf:
    *
    *  - Stage RETRY / speculation (cluster masters): Spark applies
    *    accumulator updates once per successful task per STAGE
    *    EXECUTION, so a retry after executor loss can double-apply a
    *    lost task's update. Local masters run no speculation and no
    *    stage retries, so the observe route defaults ON only under
    *    [[localMaster]]; other masters (`local-cluster[...]` too: it
    *    has real executors) take the exact pin-then-agg
    *    two-job probe unless `graft.iter.observeProbe=true` opts in
    *    explicitly.
    *  - RELIABLE checkpointing (`graft.iter.checkpointDir` set):
    *    `Dataset.checkpoint()` on an unpersisted plan executes it
    *    TWICE (the eager count job, then the checkpoint write in
    *    `rdd.doCheckpoint()`), so every observed metric merges two
    *    full passes and reads 2x. That route always uses the exact
    *    probe — even under an explicit observeProbe=true, because 2x
    *    is not a risk but a certainty.
    *
    * Both routes return bit-identical metric VALUES when exact (same
    * aggregate expressions over the same rows); the observe route just
    * rides the pin's own action instead of paying a second job.
    */
  def pinProbed(df: DataFrame, metrics: Seq[org.apache.spark.sql.Column])
  : (DataFrame, org.apache.spark.sql.Row) = {
    val conf = df.sparkSession.conf
    val local = localMaster(df.sparkSession.sparkContext.master)
    val reliable = conf.getOption("graft.iter.checkpointDir").isDefined
    val observe = !reliable &&
      conf.get("graft.iter.observeProbe", local.toString).toBoolean
    if (observe) {
      val name = s"__iterpin_probe_${probeId.incrementAndGet()}"
      val obs = df.observe(name, metrics.head, metrics.tail: _*)
      val pinned = pin(obs)
      val row = org.apache.spark.sql.graftshim.MetricsBridge
        .observed(obs, name)
        .getOrElse(throw new IllegalStateException(
          s"observed metrics '$name' missing after materialization"))
      (pinned, row)
    } else {
      val pinned = pin(df)
      (pinned, pinned.agg(metrics.head, metrics.tail: _*).head())
    }
  }

  /** Drop the storage behind a SUPERSEDED pinned frame — block-manager
    * blocks for localCheckpoint pins, the checkpoint DIRECTORY for
    * reliable pins (nothing else ever reclaims those files: without
    * this a long-running session leaves one directory per pinned round
    * on the checkpoint filesystem until SparkContext shutdown — the
    * block-retention problem one level down, on exactly the
    * deployments `graft.iter.checkpointDir` targets). No-op unless the
    * frame is exactly a checkpoint leaf. The caller contract is the
    * same either way: free only after the successor is materialized
    * and the frame's last consumer ran, because neither a freed
    * localCheckpoint nor a deleted checkpoint directory can be re-read.
    * Non-blocking on the block route; the file delete is a single
    * recursive FS call on the round's own directory.
    */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => free(df.sparkSession, lr.rdd)
    case _ => ()
  }

  /** [[free]] for an RDD pin (or any RDD: a plain one no-ops). The
    * blocks go through [[BlocksBridge]]: `RDD.unpersist` warns on every
    * local pin that its lineage cannot be recomputed, which is the
    * point of freeing it; the bridge releases those without the WARN.
    */
  def free(spark: SparkSession, rdd: RDD[_]): Unit =
    if (spark.conf.get("graft.iter.free", "true").toBoolean) {
      if (rdd.getStorageLevel != StorageLevel.NONE) BlocksBridge.unpersist(rdd)
      // reliable checkpoints live as files under
      // checkpointDir/<uuid>/rdd-<id>; getCheckpointFile is Some only
      // for the reliable kind, so the local route never enters here
      rdd.getCheckpointFile.foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }

  /** Release every persisted RDD's blocks and wait until they are
    * gone: the measurement mains' sweep between timed runs, so one run's
    * pins never bill the next run's memory or GC. Through
    * [[BlocksBridge]], like [[free]], so local pins free without the
    * "cannot be recomputed" WARN.
    */
  def freeAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(BlocksBridge.unpersist(_, blocking = true))

  /** Masters that run every task in-process: `local`, `local[N]`,
    * `local[*]` and `local[N,F]` (F task attempts, still no stage
    * retry). `local-cluster[...]` starts real executors and is not one.
    */
  private[graft] def localMaster(master: String): Boolean =
    master.matches("""local(\[(\d+|\*)(\s*,\s*\d+)?\])?""")
}
