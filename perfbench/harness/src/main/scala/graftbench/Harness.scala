package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark harness for one workload, one client thread.
  *
  * Set-up (untimed): session, catalog, and one warm pass whose results
  * are written out for the oracle check. Then timed passes until
  * `--seconds` have elapsed and the workload's `minPasses` have run, so
  * that a run's pass count does not follow the machine's speed; each
  * pass runs every op once, in an order
  * drawn from the seed, and checks each result against the warm pass's
  * digest. With `--trace 1` the timed phase
  * alternates traced and untraced passes and reports per-layer metrics
  * of the traced ones.
  *
  * Usage: graftbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --cores N [--repeat-check OP]
  * Writes DIR/harness.json (read by perfbench/run.py) and DIR/ops.jsonl.
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String, cores: Int,
                        repeatCheck: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("out"),
      m.getOrElse("cores", "4").toInt, m.get("repeat-check"))
  }

  final case class Exec(pass: Int, traced: Boolean, op: String, latency: Double,
                        ok: Boolean, error: String)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps up to 1000 jobs and SQL executions by
      // default, so without a cap the heap left after a run grows with the
      // number of passes; capped, retained_heap_mb is what the program holds
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", Paths.get(a.out, "spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.out, "warehouse").toAbsolutePath.toString)
      .config("spark.hadoop.hadoop.tmp.dir", Paths.get(a.out, "hadoop-tmp").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Harness(spark, a).run()
    finally spark.stop()
  }
}

final class Harness(spark: SparkSession, a: Harness.Args) {
  import Harness._

  private val wl = Workloads(a.workload, spark, a.data, a.out, a.seed)
  private val tracer = new Tracer(spark)
  private val digests = mutable.HashMap.empty[String, String]
  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val report = mutable.LinkedHashMap.empty[String, Any]

  private def order(pass: Int): Seq[Op] =
    new scala.util.Random(a.seed * 1000003L + pass).shuffle(wl.ops)

  /** One pass: every op once, each result checked. The reference pass
    * records the digests later passes must match; only timed passes count
    * as attempted ops. Returns wall seconds and, per op, its op span
    * (traced passes) and what it produced.
    */
  private def pass(k: Int, t: Spans, reference: Boolean = false, timed: Boolean = true)
  : (Double, Seq[(Op, Option[Span], Option[Done])]) = {
    val t0 = System.nanoTime()
    val out = order(k).map { op =>
      val s0 = System.nanoTime()
      val before = tracer.spans.size
      val (done, err) =
        try (Some(t.span(op.name, "op", "op") { op.run(t, k) }), "")
        catch { case e: Throwable => (None, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val latency = (System.nanoTime() - s0) / 1e9
      val span = tracer.spans.drop(before).find(s => s.name == "op" && s.parent < 0)
      val ok = done.exists { d =>
        try t.span(op.name, "check", "check") {
          val ds = d.digests()
          if (reference) { ds.foreach(digests += _); true }
          else ds.forall { case (key, dg) => digests.get(key).contains(dg) }
        } catch { case _: Throwable => false }
      }
      if (timed) execs += Exec(k, t ne NoTrace, op.name, latency, ok,
        if (err.nonEmpty) err else if (!ok) "result differs from the warm pass" else "")
      (op, span, done)
    }
    ((System.nanoTime() - t0) / 1e9, out)
  }

  def run(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    a.repeatCheck match {
      case Some(op) => repeatCheck(op); return
      case None =>
    }
    def sinceStart(): Double = {
      val now = java.time.Instant.now()
      now.getEpochSecond + now.getNano / 1e9 - jvmStartMs / 1e3
    }
    val sessionS = sinceStart()
    if (a.trace) tracer.attach()
    wl.setup(if (a.trace) tracer else NoTrace)
    val catalogSetup = tracer.spans.filter(_.layer == "model").map(_.nanos).sum / 1e9
    val catalogS = sinceStart()
    val (warmS, dumped) = warmUp()
    val setupS = sinceStart()
    report("setup_parts_s") = Map("session" -> sessionS, "catalog" -> (catalogS - sessionS),
      "warm_pass" -> warmS, "dump" -> (setupS - catalogS - warmS))
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val layerRuns = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Double]]
    var k = 1
    if (!a.trace) {
      do { untraced += pass(k, NoTrace)._1; k += 1 }
      while (elapsed < a.seconds || untraced.size < wl.minPasses)
    } else {
      // traced first: the pass right after the warm pass is the slowest,
      // so the reported overhead errs high
      do {
        val (wall, layer) = tracedPass(k, catalogSetup, keepSpans = layerRuns.isEmpty)
        traced += wall
        layerRuns += layer
        untraced += pass(k + 1, NoTrace)._1
        k += 2
      } while (elapsed < a.seconds)
    }
    if (a.trace) {
      val first = layerRuns.head
      val merged = mutable.LinkedHashMap.empty[String, Double]
      first.keys.foreach(key => merged(key) = median(layerRuns.map(_(key)).toSeq))
      // pins the program still holds: Spark's cleaner frees unreachable
      // pins only after a GC finds them, so count after full GCs
      retainedHeap()
      val (pinRdds, pinMb) = pinned()
      merged("operators.pinned_rdds") = pinRdds
      merged("operators.pinned_mb") = pinMb
      merged("trace.overhead_s") = median(traced.toSeq) - median(untraced.toSeq)
      report("layer") = merged
    } else {
      report("retained_heap_mb") = retainedHeap() / 1e6
    }
    report("workload") = a.workload
    report("seed") = a.seed
    report("trace") = a.trace
    report("budget") = wl.budget
    report("setup_s") = setupS
    report("pass_s") = untraced.toSeq
    report("traced_pass_s") = traced.toSeq
    report("op_latency_s") = execs.filterNot(_.traced).groupBy(_.op)
      .map { case (op, es) => op -> es.map(_.latency).toSeq }
    report("attempted") = execs.size
    report("failed") = execs.count(!_.ok)
    report("errors") = execs.filterNot(_.ok).map(e => s"${e.op}: ${e.error}").distinct.take(20).toSeq
    report("data_dir") = Paths.get(wl.dir).toAbsolutePath.toString
    report("results") = dumped.map { case (op, d) => Map("op" -> op, "key" -> d.key,
      "path" -> d.path, "oracle" -> d.oracle, "columns" -> d.columns) }
    report("oracle_sql") = dumped.map(_._2.oracle).distinct.flatMap { o =>
      graft.SparkEntry.oracleSql.get(o).map(sql => o -> oracleFor(o, sql))
    }.toMap
    writeReport()
  }

  /** The untimed warm pass; it records the reference digests and its
    * results are written out for the oracle check. Only wall seconds and
    * the written paths leave this method, so no result of the warm pass
    * (nor the pins its frames reach) stays reachable from the harness
    * when heap and pins are measured.
    */
  private def warmUp(): (Double, Seq[(String, Dumped)]) = {
    val (wall, warm) = pass(0, NoTrace, reference = true, timed = false)
    val dir = Paths.get(a.out, "results").toAbsolutePath.toString
    (wall, warm.flatMap { case (op, _, d) => d.toSeq.flatMap(_.dump(dir)).map(op.name -> _) })
  }

  /** One traced pass and its per-layer metrics; like [[warmUp]] it lets
    * no result outlive the call. With `keepSpans` the pass's spans go to
    * the report.
    */
  private def tracedPass(k: Int, catalogSetup: Double, keepSpans: Boolean)
  : (Double, mutable.LinkedHashMap[String, Double]) = {
    tracer.attach()
    val (wall, ops) = pass(k, tracer)
    tracer.drain()
    val layer = layerMetrics(k, ops, catalogSetup)
    if (keepSpans) report("spans") = ops.flatMap(_._2).flatMap(tracer.subtree)
      .map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "seconds" -> s.seconds, "jobs" -> tracer.countersOf(s).jobs))
    tracer.detach()
    (wall, layer)
  }

  /** The cu01 oracle hard-codes cu01's budget; the workload's budget
    * comes from the seed.
    */
  private def oracleFor(name: String, sql: String): String =
    if (name != "cu01_curation_yaml") sql
    else {
      val fixed = "WHERE cum <= 8000"
      require(sql.contains(fixed), "cu01 oracle no longer ends in the 8000-token budget")
      sql.replace(fixed, s"WHERE cum <= ${wl.budget}")
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after full GCs, repeated until Spark's cleaner threads
    * (which free pins and shuffles only after a GC finds them unreachable)
    * have nothing left to release.
    */
  private def retainedHeap(): Long = {
    val mx = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(200); mx.getHeapMemoryUsage.getUsed }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (cur < prev * 0.99 && rounds < 8) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  private def pinned(): (Double, Double) = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (sc.getPersistentRDDs.size.toDouble, bytes / 1e6)
  }

  /** Per-layer metrics of one traced pass, from its op spans. */
  private def layerMetrics(k: Int, ops: Seq[(Op, Option[Span], Option[Done])],
                           catalogSetup: Double): mutable.LinkedHashMap[String, Double] = {
    val opSpans = ops.flatMap(_._2)
    val under = opSpans.flatMap(tracer.subtree)
    def pick(p: Span => Boolean): Seq[Span] = under.filter(p)
    def secs(ss: Seq[Span]): Double = ss.map(_.nanos).sum / 1e9
    def jobs(ss: Seq[Span]): Double = ss.map(s => tracer.countersOf(s).jobs).sum.toDouble
    def isConstruct(s: Span) = s.name == "construct" || s.name.startsWith("execute:") ||
      s.name.startsWith("curate:")
    val comp = pick(s => s.layer == "compiler" && isConstruct(s))
    val paths = pick(s => s.layer == "paths" && isConstruct(s))
    val oper = pick(s => s.layer == "operators" && isConstruct(s))
    val iterOps = ops.filter(_._1.iterations > 0)
    val iterJobs = iterOps.flatMap(_._2).flatMap(tracer.children)
      .filter(_.name == "construct").map(s => tracer.countersOf(s).jobs).sum
    val iters = iterOps.map(_._1.iterations).sum
    val sinks = ops.flatMap(_._3).collect { case s: SinkDone => s }
    val dedupOut = sinks.flatMap(s => s.dedupSinks.map(s.rows)).sum
    val dedupIn = sinks.flatMap(_.dedupInputs.map(_.count())).sum
    val ledgerBytes = wl.ops.collect { case e: EtlOp =>
      val d = new java.io.File(e.passDir(k))
      Option(d.listFiles()).toSeq.flatten.filter(_.getName.startsWith("ledger"))
        .map(f => Workloads.bytesUnder(f.getPath)).sum
    }.sum
    val c = new Counters
    opSpans.foreach(s => c.add(tracer.countersOf(s)))
    val opWall = secs(opSpans)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("parser.parse_s") = secs(pick(_.layer == "parser"))
    m("compiler.construct_s") = secs(comp)
    m("compiler.construct_jobs") = jobs(comp)
    m("compiler.plan_exchanges") = ops.collect {
      case (op, _, Some(d)) if op.layer != "operators" => d.exchanges()
    }.sum.toDouble
    m("compiler.mutation_s") = secs(pick(_.layer == "mutation"))
    m("paths.construct_s") = secs(paths)
    m("paths.construct_jobs") = jobs(paths)
    m("operators.construct_s") = secs(oper)
    m("operators.construct_jobs") = jobs(oper)
    m("operators.jobs_per_iteration") = if (iters == 0) 0.0 else iterJobs.toDouble / iters
    m("operators.dedup_s") = secs(pick(s => s.name.endsWith("dedup") &&
      (s.name.startsWith("curate:") || s.name.startsWith("sink:"))))
    m("operators.dedup_candidates") = dedupIn.toDouble
    m("operators.dedup_hit_ratio") =
      if (dedupIn == 0) 0.0 else (dedupIn - dedupOut).toDouble / dedupIn
    m("etl.config_parse_s") = secs(pick(s => s.layer == "etl" && s.name == "config_parse"))
    m("etl.source_s") = secs(pick(s => s.layer == "etl" && s.name == "source"))
    m("etl.sink_s") = secs(pick(s => s.layer == "etl" && s.name.startsWith("sink:")))
    m("etl.sink_mb") = sinks.flatMap(s => s.sinks.map(x => s.bytes(x._1))).sum / 1e6
    m("etl.ledger_mb") = ledgerBytes / 1e6
    m("model.catalog_build_s") = secs(pick(_.layer == "model")) + catalogSetup
    m("spark.jobs") = c.jobs.toDouble
    m("spark.stages") = c.stages.toDouble
    m("spark.tasks") = c.tasks.toDouble
    m("spark.failed_tasks") = c.failedTasks.toDouble
    m("spark.shuffle_read_mb") = c.shuffleRead / 1e6
    m("spark.shuffle_write_mb") = c.shuffleWrite / 1e6
    m("spark.spill_mb") = c.spill / 1e6
    m("spark.input_mb") = c.input / 1e6
    m("spark.output_mb") = c.output / 1e6
    m("spark.task_run_s") = c.runMs / 1e3
    m("spark.task_cpu_s") = c.cpuNs / 1e9
    m("spark.gc_s") = c.gcMs / 1e3
    m("spark.peak_exec_mem_mb") = c.peakExecMem / 1e6
    m("spark.slot_busy_ratio") = if (opWall == 0) 0.0 else c.runMs / 1e3 / (opWall * a.cores)
    m("spark.driver_only_s") = opSpans.map(tracer.driverOnlySeconds).sum
    m
  }

  /** Runs one op once untraced, then twice traced, and compares the
    * job, stage and task counts of the two traced runs. Each run's jobs
    * (submitting span, call site, declared stages) go to the report, so a
    * difference can be traced to the jobs that differ.
    */
  private def repeatCheck(name: String): Unit = {
    val op = wl.ops.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"$name is not an op of ${a.workload}"))
    wl.setup(NoTrace)
    op.run(NoTrace, 0)
    tracer.attach()
    val runs = (1 to 2).map { k =>
      tracer.span(name, "op", "op") { op.run(tracer, k) }
      tracer.drain()
      val s = tracer.spans.filter(s => s.name == "op" && s.parent < 0).last
      val c = tracer.countersOf(s)
      (Seq(c.jobs, c.stages, c.tasks),
        tracer.jobLog(s).map { case (span, j) => s"$span ${j.callSite} stages=${j.stages}" })
    }
    val counts = runs.map(_._1)
    report("repeat_check") = Map("op" -> name, "jobs_stages_tasks" -> counts,
      "equal" -> (counts(0) == counts(1)), "jobs" -> runs.map(_._2),
      "ungrouped_jobs" -> tracer.listener.counters("").jobs)
    writeReport()
  }

  private def writeReport(): Unit = {
    Files.write(Paths.get(a.out, "harness.json"), Json.value(report).getBytes("UTF-8"))
    val lines = execs.map(e => Json.value(Map("pass" -> e.pass, "traced" -> e.traced,
      "op" -> e.op, "latency_s" -> e.latency, "ok" -> e.ok, "error" -> e.error)))
    Files.write(Paths.get(a.out, "ops.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
