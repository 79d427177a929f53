package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.operators.IterPin

/** Dev aid for the optimization rounds: run declared queries under a
  * SparkListener and report the SCHEDULED-JOB breakdown — job count,
  * stage count, task count, wall seconds — and the number of generated
  * classes Spark compiled (`compiles`: a class evicted from Spark's
  * codegen cache compiles again) per query. The iterative
  * operators execute their loops at query construction, so their
  * `.explain` dumps show only the final fragment; this probe is the
  * committed evidence for job-count claims (e.g. one job per round of
  * a vertex-state loop).
  *
  * Usage: runMain graft.JobProbe <q1,q2,...> [repeats]
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val repeats = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional session-conf overrides for A/B probes:
    // GRAFT_CONF="graft.components.driverMaxEdges=0,graft.x=y"
    sys.env.get("GRAFT_CONF").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    if (names.exists(n => n.startsWith("dd") || n.startsWith("ann") ||
        n.startsWith("bpe")))
      graft.queries.PipelineQueries.prepareIndexes(spark, sfDir)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to repeats).foreach { rep =>
        spark.sparkContext.setJobDescription(s"$name rep $rep")
        jobs.set(0); stages.set(0); tasks.set(0)
        val compiles0 = compiles.getCount
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events are async: drain the bus before reading
        if (!org.apache.spark.sql.graftshim.ListenerBridge.waitUntilEmpty(spark, 30000L))
          System.err.println(s"[jobprobe] $name rep=$rep: listener bus not drained")
        println(f"[jobprobe] $name rep=$rep sec=$dt%.3f jobs=${jobs.get}" +
          s" stages=${stages.get} tasks=${tasks.get}" +
          s" compiles=${compiles.getCount - compiles0}")
        IterPin.freeAll(spark)
        System.gc()
      }
    }
    spark.stop()
  }
}
