package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.IndexStore
import graft.streaming.Streams

/** Structured Streaming parity (SURVEY §2.9): windows, dedup, late
  * data, stream-static join, incremental view — driven by file sources
  * so the real micro-batch engine runs.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** A MinHash index's signature component, read through the store. */
  private def sigs(idx: String): DataFrame =
    IndexStore.read(spark, idx, IndexStore.open(spark, idx, "minhash").get, "sigs")

  /** Write rows as parquet and open as a stream. */
  private def fileStream(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft_stream").toFile.getAbsolutePath
    df.write.mode("overwrite").parquet(dir)
    spark.readStream.schema(df.schema).parquet(dir)
  }

  private lazy val events = Seq(
    ("e1", ts("2024-01-01 00:00:01"), "u1", "click", 1.0),
    ("e2", ts("2024-01-01 00:00:04"), "u1", "click", 2.0),
    ("e2", ts("2024-01-01 00:00:04"), "u1", "click", 2.0), // duplicate id
    ("e3", ts("2024-01-01 00:00:11"), "u2", "view", 3.0),
    ("e4", ts("2024-01-01 00:00:24"), "u2", "view", 4.0),
    ("e5", ts("2024-01-01 00:01:30"), "u1", "click", 5.0))
    .toDF("id", "ts", "user", "kind", "value")

  test("tumbling window aggregation fires per 10s bucket") {
    val out = Streams.runToMemory(
      Streams.tumbling(fileStream(events), "ts", "10 seconds",
        keys = Seq(col("kind")), aggs = Seq(count(lit(1)).as("n"), sum("value").as("v"))),
      "t_tumble", OutputMode.Complete())
    val rows = out.select(col("window.start").cast("string"), col("kind"), col("n"), col("v"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows.contains(("2024-01-01 00:00:00", "click", 3L, 5.0)))
    assert(rows.contains(("2024-01-01 00:00:10", "view", 1L, 3.0)))
    assert(rows.contains(("2024-01-01 00:00:20", "view", 1L, 4.0)))
    assert(rows.contains(("2024-01-01 00:01:30", "click", 1L, 5.0)))
  }

  test("sliding windows overlap") {
    val out = Streams.runToMemory(
      Streams.sliding(fileStream(events.filter(col("id") === "e1")), "ts",
        "10 seconds", "5 seconds", keys = Seq.empty, aggs = Seq(count(lit(1)).as("n"))),
      "t_slide", OutputMode.Complete())
    // an event at :01 lands in windows [23:59:55,00:00:05) and [00:00:00,00:00:10)
    assert(out.count() == 2)
  }

  test("session window merges activity within gap") {
    val out = Streams.runToMemory(
      Streams.session(fileStream(events), "ts", "15 seconds",
        keys = Seq(col("user")), aggs = Seq(count(lit(1)).as("n"))),
      "t_session", OutputMode.Complete())
    val byUser = out.select(col("user"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    // u1: events at :01,:04 merge into one session; :01:30 is separate
    assert(byUser("u1").map(_._2).sorted.toSeq == Seq(1L, 3L))
    // u2: :11 and :24 within 15s gap → one session of 2
    assert(byUser("u2").map(_._2).toSeq == Seq(2L))
  }

  test("dropDuplicatesWithinWatermark removes the duplicated event id") {
    val out = Streams.runToMemory(
      Streams.dedup(fileStream(events), "id", "ts"), "t_dedup")
    assert(out.count() == 5) // 6 rows, one duplicate id removed
  }

  test("stream-static enrichment join") {
    val users = Seq(("u1", "pro"), ("u2", "free")).toDF("user", "tier")
    val out = Streams.runToMemory(
      Streams.enrich(fileStream(events), users, Seq("user")), "t_enrich")
    assert(out.filter(col("tier") === "pro").count() == 4)
    assert(out.filter(col("tier") === "free").count() == 2)
  }

  test("stream-stream interval join pairs purchases with recent same-user clicks") {
    val clicks = Seq(
      ("c1", ts("2024-01-01 00:00:05"), "u1"),
      ("c2", ts("2024-01-01 00:00:20"), "u1"),
      ("c3", ts("2024-01-01 00:00:21"), "u2"))
      .toDF("click_id", "cts", "user")
    val purchases = Seq(
      ("p1", ts("2024-01-01 00:00:25"), "u1"), // c2 within 10s; c1 too old
      ("p2", ts("2024-01-01 00:00:50"), "u1"), // nothing within 10s
      ("p3", ts("2024-01-01 00:00:22"), "u2")) // c3 (cross-user c2 excluded)
      .toDF("purchase_id", "pts", "user")
    val out = Streams.runToMemory(
      Streams.intervalJoin(fileStream(purchases), fileStream(clicks),
        Seq("user"), "pts", "cts", lookback = "10 seconds"),
      "t_interval")
    val pairs = out.select(col("purchase_id"), col("click_id")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("p1", "c2"), ("p3", "c3")))
    // keys emitted once: exactly one `user` column survives
    assert(out.columns.count(_ == "user") == 1)
  }

  test("left-outer interval join emits unmatched rows once the watermark passes") {
    val pDir = Files.createTempDirectory("graft_loj_p").toFile.getAbsolutePath
    val cDir = Files.createTempDirectory("graft_loj_c").toFile.getAbsolutePath
    val p1 = Seq(("p1", ts("2024-01-01 00:00:25"), "u1"),   // matches c2
      ("p2", ts("2024-01-01 00:00:50"), "u1"))              // no click in window
      .toDF("purchase_id", "pts", "user")
    val c1 = Seq(("c2", ts("2024-01-01 00:00:20"), "u1"))
      .toDF("click_id", "cts", "user")
    p1.write.mode("append").parquet(pDir); c1.write.mode("append").parquet(cDir)
    val joined = Streams.intervalJoin(
      spark.readStream.schema(p1.schema).parquet(pDir),
      spark.readStream.schema(c1.schema).parquet(cDir),
      Seq("user"), "pts", "cts", lookback = "10 seconds",
      watermark = "5 seconds", joinType = "left_outer")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_loj").start()
    q.processAllAvailable()
    // outer results hold until the watermark clears the join window:
    // push both watermarks far past p2's window, then expect the null row
    Seq(("p9", ts("2024-01-01 00:10:00"), "u9")).toDF("purchase_id", "pts", "user")
      .write.mode("append").parquet(pDir)
    Seq(("c9", ts("2024-01-01 00:10:00"), "u9")).toDF("click_id", "cts", "user")
      .write.mode("append").parquet(cDir)
    q.processAllAvailable()
    // one more cycle so the state-store eviction from the advanced
    // watermark lands in an emitted batch
    Seq(("p10", ts("2024-01-01 00:12:00"), "u9")).toDF("purchase_id", "pts", "user")
      .write.mode("append").parquet(pDir)
    Seq(("c10", ts("2024-01-01 00:12:00"), "u9")).toDF("click_id", "cts", "user")
      .write.mode("append").parquet(cDir)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_loj")
      .select(col("purchase_id"), col("click_id")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(rows("p1") == Some("c2"))
    assert(rows.contains("p2") && rows("p2").isEmpty,
      s"unmatched purchase not emitted with null: $rows")
  }

  test("incremental view maintains latest aggregate per key") {
    val view = new Streams.IncrementalView(Seq("kind"))
    val agg = fileStream(events)
      .groupBy(col("kind")).agg(count(lit(1)).as("n"), sum("value").as("total"))
    val q = view.sink(agg).trigger(
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val snap = view.snapshot(spark).collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[Long]("n"))).toMap
    assert(snap("click") == 4L && snap("view") == 2L)
  }

  test("incremental view rewrites only touched buckets; old snapshot survives") {
    val view = new Streams.IncrementalView(Seq("k"), numBuckets = 16)
    def bucketOf(k: String): Int =
      spark.range(1).select(pmod(hash(lit(k)), lit(16))).head.getInt(0)
    // pick two keys landing in different buckets so batch 2 leaves one alone
    val ks = ('a' to 'z').map(_.toString)
    val kA = ks.head
    val kB = ks.find(k => bucketOf(k) != bucketOf(kA)).get

    view.absorb(Seq((kA, 1L), (kB, 10L)).toDF("k", "n"))
    val snapV0 = view.snapshot(spark)
    val dirB = new java.io.File(view.currentManifest(bucketOf(kB)))
    def bucketFiles(d: java.io.File): Map[String, (Long, Long)] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val filesB = bucketFiles(dirB)

    view.absorb(Seq((kA, 2L)).toDF("k", "n")) // touches only kA's bucket
    // untouched bucket: same manifest path, byte-identical files
    assert(view.currentManifest(bucketOf(kB)) == dirB.getAbsolutePath)
    assert(bucketFiles(dirB) == filesB)
    // touched bucket moved to the new delta directory
    assert(view.currentManifest(bucketOf(kA)).contains("delta_v1"))
    // upsert semantics
    val snap = view.snapshot(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap == Map(kA -> 2L, kB -> 10L))
    // a snapshot pinned before the batch still executes (version retention)
    val old = snapV0.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(old == Map(kA -> 1L, kB -> 10L))
  }

  test("streaming LSH candidates catch near-dups across micro-batches") {
    val dir = Files.createTempDirectory("graft_slsh").toFile.getAbsolutePath
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "completely different content about distributed query engines at scale"))
      .toDF("doc_id", "text")
    b1.write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(b1.schema).parquet(dir)
    val cand = Streams.lshCandidates(stream, "doc_id", "text", shingleSize = 2)
    val q = cand.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_slsh").start()
    q.processAllAvailable()
    assert(spark.table("t_slsh").isEmpty) // nothing similar within batch 1
    // batch 2: a near-duplicate of doc 1 arrives later — the stateful
    // band buckets must still pair it with the batch-1 original
    Seq((3L, "the quick brown fox jumps over the lazy dog and runs away quick"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("t_slsh").select("id1", "id2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L)), s"got $pairs")
  }

  test("streaming regression alerts match the batch detector on the same " +
    "history; recovery clears") {
    import graft.ops.QueryAnalytics
    val dir = Files.createTempDirectory("graft_sreg").toFile.getAbsolutePath
    def audit(rows: (Long, Double)*): DataFrame =
      rows.toDF("tsMillis", "durationMs")
        .select(lit("MATCH (n:Doc) RETURN n").as("label"),
          lit("").as("planHash"), col("tsMillis"), col("durationMs"),
          lit("success").as("status"))
    val fast = audit((1L to 20L).map(i => (i, 10.0)): _*)
    fast.write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(fast.schema).parquet(dir)
    val q = Streams.regressionAlerts(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_sreg").start()
    q.processAllAvailable()
    assert(spark.table("t_sreg").isEmpty) // baseline only: no alert
    // batch 2: 5 slow runs -> one critical alert, equal to the batch
    // detector over the concatenated history. coalesce(1): a multi-file
    // append is not atomic for the file-stream source's listing, and
    // the continuously-triggering query can pick up a PARTIAL file set
    // as its own batch (seen as a suite-load flake) — one file per
    // append appears atomically
    audit((21L to 25L).map(i => (i, 80.0)): _*)
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    val streamed = spark.table("t_sreg").collect()
    assert(streamed.length == 1, streamed.mkString("\n"))
    val full = audit((1L to 20L).map(i => (i, 10.0)) ++
      (21L to 25L).map(i => (i, 80.0)): _*)
    val batch = QueryAnalytics.regressions(full).collect()
    assert(batch.length == 1)
    val (s0, b0) = (streamed(0), batch(0))
    Seq("fingerprint", "sample_label", "severity").foreach(c =>
      assert(s0.getAs[String](c) == b0.getAs[String](c), c))
    Seq("baseline_ms", "current_ms", "ratio").foreach(c =>
      assert(s0.getAs[Double](c) == b0.getAs[Double](c), c))
    assert(s0.getAs[String]("severity") == "critical")
    assert(s0.getAs[Double]("ratio") == 8.0)
    // batch 3: recovery — no new alert appended, and the batch
    // detector over the full history agrees there is no regression
    audit((26L to 30L).map(i => (i, 10.0)): _*)
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t_sreg").count() == 1L) // still just the old row
    val full3 = audit((1L to 20L).map(i => (i, 10.0)) ++
      (21L to 25L).map(i => (i, 80.0)) ++
      (26L to 30L).map(i => (i, 10.0)): _*)
    assert(QueryAnalytics.regressions(full3).isEmpty)
  }

  test("regression alerts state TTL evicts a stale fingerprint; a return " +
    "re-fills a fresh window and re-alerts") {
    // ProcessingTimeTimeout makes the engine schedule batches
    // CONTINUOUSLY (FlatMapGroupsWithStateExec.shouldRunAnotherBatch
    // is unconditionally true under this timeout mode, so evictions
    // can fire without new data) — processAllAvailable never observes
    // noNewData and even Trigger.AvailableNow never terminates. The
    // only sound harness is a live query on a real trigger, observed
    // by polling its sink.
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_sttl").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_sttl_ck").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_sttl_out").toFile.getAbsolutePath
    def audit(label: String, rows: (Long, Double)*): DataFrame =
      rows.toDF("tsMillis", "durationMs")
        .select(lit(label).as("label"), lit("").as("planHash"),
          col("tsMillis"), col("durationMs"), lit("success").as("status"))
    val A = "MATCH (n:Doc) RETURN n"
    val sch = audit(A, (0L, 0.0)).schema
    // one file per append (coalesce(1)): the file source must never
    // see a half-visible multi-file write, which could split one
    // burst's fast/slow rows across batches in arbitrary order
    def feed(df: DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(dir)
    def alerts(): Array[org.apache.spark.sql.Row] =
      scala.util.Try(spark.read.parquet(out).orderBy("last_seen_ms").collect())
        .getOrElse(Array.empty)
    def awaitAlerts(n: Int): Unit = {
      val t0 = System.currentTimeMillis()
      while (alerts().length < n && System.currentTimeMillis() - t0 < 60000)
        Thread.sleep(100)
    }
    val q = Streams.regressionAlerts(
        spark.readStream.schema(sch).parquet(dir),
        stateTtl = Some("50 milliseconds"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) b.write.mode("append").parquet(out); ()
      }
      .start()
    try {
      // step 1: fingerprint A fills baseline+recent with a regression
      feed(audit(A, (1L to 20L).map(i => (i, 10.0)) ++
        (21L to 25L).map(i => (i, 80.0)): _*))
      awaitAlerts(1)
      assert(alerts().length == 1, alerts().mkString("\n"))
      // the engine keeps running empty batches; once 50 ms pass with
      // no new A data, A's window is evicted
      Thread.sleep(2000)
      // step 2: 5 slow A observations. Had A's window SURVIVED, the
      // deque would hold 15 fast + 10 slow (baseline mean 27.5,
      // recent 80.0, ratio ~2.9 >= 2) and alert; after eviction the
      // fresh window holds only 5 of 25 needed — no alert is the
      // eviction proof
      feed(audit(A, (26L to 30L).map(i => (i, 80.0)): _*))
      Thread.sleep(3000) // several trigger intervals to consume it
      assert(alerts().length == 1, alerts().mkString("\n"))
      // step 3: the returned fingerprint re-fills baseline+recent and
      // alerts again, exactly as a brand-new query would
      feed(audit(A, (31L to 50L).map(i => (i, 10.0)) ++
        (51L to 55L).map(i => (i, 80.0)): _*))
      awaitAlerts(2)
    } finally q.stop()
    val a = alerts()
    assert(a.length == 2, a.mkString("\n"))
    assert(a.forall(_.getAs[String]("severity") == "critical"))
    assert(a(1).getAs[Double]("ratio") == 8.0)
  }

  test("streaming funnel advances per-user stage state across micro-batches") {
    val dir = Files.createTempDirectory("graft_sfun").toFile.getAbsolutePath
    def ev(rows: (Long, String, Long)*) = rows.toDF("user_id", "event_type", "ts")
    // user 1 views then clicks in batch 1; user 2 clicks with no view;
    // user 3 lands out of ORDER within the batch (ts sort must fix it)
    ev((1L, "view", 100L), (1L, "click", 200L), (2L, "click", 100L),
      (3L, "purchase", 50L), (3L, "click", 30L), (3L, "view", 10L))
      .write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(ev((0L, "x", 0L)).schema).parquet(dir)
    val q = Streams.funnel(stream, Seq("view", "click", "purchase"),
        windowSec = 1000L)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_funnel").start()
    q.processAllAvailable()
    def got = spark.table("t_funnel")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, 1, "view", 100L), (1L, 2, "click", 200L),
      (3L, 1, "view", 10L), (3L, 2, "click", 30L), (3L, 3, "purchase", 50L)),
      s"batch-1 emissions: $got")
    // batch 2: user 1 purchases within window (cross-batch state),
    // user 2 finally views (stage 1 only — its old click is gone),
    // user 3 is already complete and emits nothing more
    ev((1L, "purchase", 900L), (2L, "view", 300L), (2L, "click", 5000L),
      (3L, "view", 60L))
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    assert(got == Set((1L, 1, "view", 100L), (1L, 2, "click", 200L),
      (1L, 3, "purchase", 900L),
      (2L, 1, "view", 300L),
      (3L, 1, "view", 10L), (3L, 2, "click", 30L), (3L, 3, "purchase", 50L)),
      s"batch-2 emissions: $got")
  }

  test("streaming funnel on complete history equals the batch first-touch chains") {
    // when every event arrives (in any in-batch order) in ONE batch,
    // the state machine must reach exactly the stage the batch
    // filter→join→min chains compute — the reconciliation contract
    val rnd = new scala.util.Random(17)
    val stages = Seq("view", "click", "purchase")
    val win = 100L
    val events = (0 until 120).map { i =>
      (rnd.nextInt(12).toLong, stages(rnd.nextInt(3)), rnd.nextInt(400).toLong)
    }
    // batch reference: t1 = min view; t_k = min stage-k event in
    // (t_{k-1}, t_{k-1} + win]
    val byUser = events.groupBy(_._1)
    val wantStage = byUser.map { case (u, evs) =>
      var last = Long.MinValue
      var stage = 0
      var advanced = true
      while (advanced && stage < stages.size) {
        val nxt = evs.filter(e => e._2 == stages(stage) &&
          (stage == 0 || (e._3 > last && e._3 <= last + win))).map(_._3)
        if (nxt.isEmpty) advanced = false
        else { last = nxt.min; stage += 1 }
      }
      u -> stage
    }.filter(_._2 > 0)
    val dir = Files.createTempDirectory("graft_sfun2").toFile.getAbsolutePath
    events.toDF("user_id", "event_type", "ts").write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(events.toDF("user_id", "event_type", "ts").schema).parquet(dir)
    val q = Streams.funnel(stream, stages, win)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_funnel_eq").start()
    q.processAllAvailable()
    q.stop()
    val gotStage = spark.table("t_funnel_eq")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("stage").as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotStage == wantStage, s"events=$events")
  }

  test("batch curation operators run unchanged on a stream; content dedup is " +
    "exactly-once across micro-batches") {
    import graft.operators.TextAnalysis
    val dir = Files.createTempDirectory("graft_scur").toFile.getAbsolutePath
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog reach me at a.user@mail.co"),
      (2L, "some other document that is long enough to be its own content"))
      .toDF("doc_id", "text")
    b1.write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(b1.schema).parquet(dir)
    // the SAME batch column operators compose on the stream — pure
    // projections need no streaming-specific code path; content
    // identity (whitespace-normalized fingerprint) feeds stateful
    // dropDuplicates for exactly-once survival across batches
    val dedup = TextAnalysis.fingerprint(stream).dropDuplicates("fp")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_cur_dedup").start()
    val red = TextAnalysis.redactPii(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_cur_red").start()
    dedup.processAllAvailable(); red.processAllAvailable()
    // batch 2: doc 3 is doc 1 reflowed (same fingerprint) — must be
    // dropped by cross-batch state; doc 4 is new content
    Seq(
      (3L, "the  quick brown fox jumps over the lazy  dog reach me at a.user@mail.co"),
      (4L, "a fourth document with genuinely new content arrives later"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    dedup.processAllAvailable(); red.processAllAvailable()
    dedup.stop(); red.stop()
    val survivors = spark.table("t_cur_dedup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 4L), s"got $survivors")
    // redaction ran per micro-batch with identical semantics to batch
    val emails = spark.table("t_cur_red")
      .select("doc_id", "n_emails").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(emails == Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L), s"got $emails")
  }

  test("re-batching differential: IncrementalView store and LSH candidate set " +
    "are invariant to micro-batch boundaries") {
    // the exactly-once story: replaying the SAME ordered rows under
    // DIFFERENT batch splits must converge to the identical view store
    // and the identical candidate-pair set
    val updates = Seq(
      Seq(("a", 1L)), Seq(("b", 5L)), Seq(("a", 2L), ("c", 9L)))
    val splits = Seq(
      updates,                                        // original boundaries
      Seq(updates(0) ++ updates(1), updates(2)),      // first two merged
      Seq(updates.flatten))                           // one big batch
    val snaps = splits.map { batches =>
      val view = new Streams.IncrementalView(Seq("k"), numBuckets = 8)
      batches.foreach(b => view.absorb(b.toDF("k", "n")))
      view.snapshot(spark).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(snaps.forall(_ == Map("a" -> 2L, "b" -> 5L, "c" -> 9L)), snaps.toString)

    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "completely different content about distributed query engines at scale"),
      (3L, "the quick brown fox jumps over the lazy dog and runs away quick"))
    def candidatePairs(batches: Seq[Seq[(Long, String)]]): Set[(Long, Long)] = {
      val dir = Files.createTempDirectory("graft_rebatch").toFile.getAbsolutePath
      val name = s"t_rb_${System.nanoTime()}"
      batches.head.toDF("doc_id", "text").write.mode("append").parquet(dir)
      val stream = spark.readStream
        .schema(batches.head.toDF("doc_id", "text").schema).parquet(dir)
      val q = Streams.lshCandidates(stream, "doc_id", "text", shingleSize = 2)
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      batches.tail.foreach { b =>
        b.toDF("doc_id", "text").write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).select("id1", "id2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val sets = Seq(
      Seq(docs),                                  // all at once
      Seq(docs.take(2), docs.drop(2)),            // near-dup arrives later
      Seq(docs.take(1), docs.slice(1, 2), docs.drop(2))) // one per batch
      .map(candidatePairs)
    assert(sets.forall(_ == Set((1L, 3L))), sets.toString)
  }

  test("streaming HLL register maintenance: estimate after N batches equals " +
    "one batch pass over the full stream") {
    import graft.operators.Sketches
    val dir = Files.createTempDirectory("graft_hllin").toFile.getAbsolutePath
    val regDir = Files.createTempDirectory("graft_hllreg").toFile.getAbsolutePath
    val batches = Seq((0L, 4000L), (3000L, 8000L), (7000L, 9000L))
    def write(b: (Long, Long)) = spark.range(b._1, b._2).toDF("v")
      .withColumn("g", lit("x")).write.mode("append").parquet(dir)
    write(batches.head)
    val stream = spark.readStream
      .schema(spark.range(1).toDF("v").withColumn("g", lit("x")).schema)
      .parquet(dir)
    // per micro-batch: merge the batch's registers into the at-rest
    // table — a sketch kept at rest across micro-batches
    val q = stream.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fresh = Sketches.hllRegisters(batch, Seq("g"), "v")
        val merged =
          if (new java.io.File(s"$regDir/t").exists())
            Sketches.hllMergeRegisters(
              batch.sparkSession.read.parquet(s"$regDir/t"), fresh)
          else fresh
        merged.localCheckpoint(true).write.mode("overwrite")
          .parquet(s"$regDir/t")
      }.start()
    q.processAllAvailable()
    batches.tail.foreach { b => write(b); q.processAllAvailable() }
    q.stop()
    val streamed = Sketches.hllFromRegisters(
      spark.read.parquet(s"$regDir/t"), Seq("g")).collect()(0).getDouble(1)
    val onePass = Sketches.hllDistinct(
      spark.read.parquet(dir), Seq("g"), "v").collect()(0).getDouble(1)
    assert(streamed == onePass)
  }

  test("late data beyond watermark is dropped from append output") {
    // two files: first advances the watermark far ahead, second is late
    val dir = Files.createTempDirectory("graft_late").toFile.getAbsolutePath
    val onTime = Seq(("a", ts("2024-01-01 00:10:00"), 1.0)).toDF("id", "ts", "v")
    val late = Seq(("b", ts("2024-01-01 00:00:01"), 2.0)).toDF("id", "ts", "v")
    onTime.write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(onTime.schema).parquet(dir)
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 seconds")).agg(sum("v").as("v"))
    val q = stream.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_late").start()
    q.processAllAvailable()
    late.write.mode("append").parquet(dir) // arrives after watermark passed
    q.processAllAvailable()
    // one more on-time batch to force emission
    Seq(("c", ts("2024-01-01 00:20:00"), 3.0)).toDF("id", "ts", "v")
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val windows = spark.table("t_late").select(col("window.start").cast("string"))
      .collect().map(_.getString(0)).toSet
    assert(!windows.contains("2024-01-01 00:00:00")) // late row never emitted
  }

  test("YAML streaming curation: gate + cross-batch minhash dedup; the " +
    "index-at-rest survives a query restart") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_crawl_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_crawl_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_crawl_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_crawl_idx")}/index"
    val yaml =
      s"""project: {name: crawl}
         |curation:
         |  - id: crawl_curate
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    stages:
         |      - {op: quality_gate, min_quality: "0.3"}
         |      - {op: minhash_dedup, index_dir: $idx, threshold: "0.5"}
         |""".stripMargin
    val config = PipelineConfig.parse(yaml)
    assert(config.curation.head.streaming)
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "ant bee cat dog elk fox").split(" ").toSeq
    def doc(replaceAt: Int, withTok: String): String =
      base.updated(replaceAt, withTok).mkString(" ")
    // batch 1: two originals, one near-dup of doc 1 (intra-batch), one
    // low-quality doc the gate drops
    Seq(
      (1L, base.mkString(" ")),
      (2L, base.map(_.reverse).mkString(" ")),         // disjoint tokens
      (3L, doc(29, "wolf")),                           // near-dup of 1
      (4L, "spam spam spam spam spam"))                // fails the gate
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "crawl_curate")
    q1.processAllAvailable(); q1.stop()
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors() == Set(1L, 2L), survivors())
    // RESTART, then batch 2: a near-dup of doc 1 must be dropped by
    // the index-at-rest (doc 1 itself is long gone from any state the
    // restart kept), a fresh doc must pass
    Seq(
      (5L, doc(28, "hawk")),                           // near-dup of 1
      (6L, base.map(t => t + t.take(1)).mkString(" "))) // fresh tokens
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q2 = PipelineRunner.startCuration(spark, config, "crawl_curate")
    q2.processAllAvailable(); q2.stop()
    assert(survivors() == Set(1L, 2L, 6L), survivors())
    // the index now holds exactly the survivors' signatures
    val indexed = sigs(idx)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 6L), indexed)
  }

  test("YAML streaming curation is batch-boundary invariant: one batch " +
    "vs three batches give the same survivors and index") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import graft.operators.Dedup
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "ant bee cat dog elk fox").split(" ").toSeq
    def doc(replaceAt: Int, withTok: String): String =
      base.updated(replaceAt, withTok).mkString(" ")
    // clique-shaped duplicate group {1, 3, 5} + two distinct docs —
    // the regime where greedy arrival-order dedup is batching-proof
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, base.map(_.reverse).mkString(" ")),
      (3L, doc(29, "wolf")),
      (4L, base.map(t => t + t.take(1)).mkString(" ")),
      (5L, doc(28, "hawk")))
    // survivors and index content of a one-stage crawl over `batches`
    // (a restart per batch); `seed` fills the index-at-rest first
    def run(stage: String => String, seed: String => Unit,
            indexed: String => Set[Any])(
        batches: Seq[Seq[(Long, String)]]): (Set[Long], Set[Any]) = {
      val src = Files.createTempDirectory("graft_inv_src").toFile.getAbsolutePath
      val out = Files.createTempDirectory("graft_inv_out").toFile.getAbsolutePath
      val ck = Files.createTempDirectory("graft_inv_ck").toFile.getAbsolutePath
      val idx = s"${Files.createTempDirectory("graft_inv_idx")}/index"
      seed(idx)
      val config = PipelineConfig.parse(
        s"""project: {name: inv}
           |curation:
           |  - id: inv
           |    input: $src
           |    streaming: true
           |    checkpoint: $ck
           |    output: $out
           |    stages:
           |      - ${stage(idx)}
           |""".stripMargin)
      batches.foreach { b =>
        b.toDF("doc_id", "text").write.mode("append").parquet(src)
        val q = PipelineRunner.startCuration(spark, config, "inv")
        q.processAllAvailable(); q.stop()
      }
      (spark.read.parquet(out).select("doc_id")
         .collect().map(_.getLong(0)).toSet, indexed(idx))
    }
    def minhash(idx: String) =
      s"""{op: minhash_dedup, index_dir: $idx, threshold: "0.5"}"""
    def sigIds(idx: String): Set[Any] = sigs(idx)
      .select("id").collect().map(_.getLong(0)).toSet
    val oneShot = run(minhash, _ => (), sigIds)(Seq(docs))
    val threeBatches = run(minhash, _ => (), sigIds)(
      Seq(docs.take(2), docs.slice(2, 4), docs.drop(4)))
    assert(oneShot == threeBatches, s"$oneShot vs $threeBatches")
    assert(oneShot._1 == Set(1L, 2L, 4L), oneShot)  // 3, 5 near-dup of 1
    assert(oneShot._1 == oneShot._2) // index holds exactly the survivors
    // against a SEEDED index: one big batch, the dup pair split across
    // batches, one doc per batch — the same survivors and final index
    def batchings[T](xs: Seq[T]): Seq[Seq[Seq[T]]] =
      Seq(Seq(xs), Seq(xs.take(2), xs.drop(2)), xs.map(Seq(_)))
    // a batch-path MinHash index (minHashIndexWrite) at threshold 0.5:
    // the build lands under batch=-1, which sorts before every batch
    val seed = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "an indexed corpus document about distributed engines and storage"))
    val arrivals = Seq(
      (10L, "the quick brown fox jumps over the lazy dog every single day"), // dup of seed 1
      (11L, "genuinely novel crawled content about streaming dedup loops"),
      (12L, "genuinely novel crawled content about streaming dedup loops"),  // dup of 11
      (13L, "another unrelated page with its own distinct words entirely"))
    val seeded = batchings(arrivals).map(run(minhash, { idx =>
      Dedup.minHashIndexWrite(seed.toDF("doc_id", "text"), "doc_id",
        "text", idx, shingleSize = 2, numHashes = 64, bands = 32)
      Seq("bands", "sigs").foreach(c =>
        assert(new java.io.File(s"$idx/$c/batch=-1").isDirectory, c))
    }, sigIds))
    assert(seeded.forall(_ == ((Set(11L, 13L), Set(1L, 2L, 11L, 13L)))),
      seeded.toString)
    // an exact key index seeded by the documented convention: keys
    // admitted as batch -1 read as "earlier than all"; intra-batch dups
    // keep the smallest id
    val keySeed = Seq((1L, "seeded document alpha"), (2L, "seeded document beta"))
    val keyArrivals = Seq(
      (10L, "seeded document alpha"),      // dup of at-rest index
      (11L, "novel gamma content"),
      (12L, "novel gamma content"),        // intra-stream dup of 11
      (13L, "novel delta content"))
    val exact = batchings(keyArrivals).map(run(
      idx => s"{op: exact_dedup, index_dir: $idx}",
      idx => IndexStore.admit(spark, idx, "exact", Map.empty, -1L,
        Seq(IndexStore.Part("keys",
          keySeed.toDF("doc_id", "text").select(col("text").as("k"))))),
      idx => spark.read.parquet(s"$idx/keys").select("k")
        .collect().map(_.getString(0)).toSet))
    val expectKeys: Set[Any] = Set("seeded document alpha",
      "seeded document beta", "novel gamma content", "novel delta content")
    assert(exact.forall(_ == ((Set(11L, 13L), expectKeys))), exact.toString)
  }

  test("YAML streaming curation: exact_dedup against a key index-at-rest " +
    "drops cross-batch exact dups across a restart") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_xd_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_xd_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_xd_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_xd_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: xcrawl}
         |curation:
         |  - id: xd
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    stages:
         |      - {op: exact_dedup, index_dir: $idx}
         |""".stripMargin)
    Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "xd")
    q1.processAllAvailable(); q1.stop()
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors() == Set(1L, 2L), survivors()) // 3 = intra-batch dup
    // restart; 4 repeats batch-1 text (dropped by the index), 5 is new
    Seq((4L, "gamma delta"), (5L, "epsilon zeta"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q2 = PipelineRunner.startCuration(spark, config, "xd")
    q2.processAllAvailable(); q2.stop()
    assert(survivors() == Set(1L, 2L, 5L), survivors())
    val keys = spark.read.parquet(s"$idx/keys")
      .select("k").collect().map(_.getString(0)).toSet
    assert(keys == Set("alpha beta", "gamma delta", "epsilon zeta"), keys)
  }

  test("YAML streaming curation: a first batch whose survivors are ALL " +
    "dropped must not bootstrap the dedup indexes — the stream survives " +
    "and the first real batch creates them (exact, minhash, semantic)") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_eb_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_eb_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_eb_ck").toFile.getAbsolutePath
    val ix = Files.createTempDirectory("graft_eb_idx").toFile.getAbsolutePath
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "ant bee cat dog elk fox").split(" ").toSeq
    val config = PipelineConfig.parse(
      s"""project: {name: eb}
         |curation:
         |  - id: eb
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING, emb ARRAY<DOUBLE>"
         |    stages:
         |      - {op: quality_gate, min_quality: "0.3"}
         |      - {op: exact_dedup, index_dir: $ix/x}
         |      - {op: minhash_dedup, index_dir: $ix/m, threshold: "0.5"}
         |      - {op: semantic_dedup, index_dir: $ix/s, vec_col: emb,
         |         tau: "0.9", nlist: "1", nprobe: "1"}
         |""".stripMargin)
    // batch 0: the gate drops EVERYTHING — each dedup stage sees an
    // empty frame and its admit must write NOTHING (an index
    // bootstrapped with data-less parquet dirs wedges every later
    // batch's probe on schema inference, permanently: replays repeat it)
    Seq((1L, "spam spam spam spam spam", Seq(1.0, 0.0, 0.0, 0.0)),
        (2L, "ham ham ham ham ham", Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("doc_id", "text", "emb").write.mode("append").parquet(src)
    val q0 = PipelineRunner.startCuration(spark, config, "eb")
    q0.processAllAvailable(); q0.stop()
    def exists(p: String) = new java.io.File(p).exists()
    assert(!exists(s"$ix/x/keys"), "empty admit bootstrapped the key index")
    assert(!exists(s"$ix/m/_meta"), "empty admit bootstrapped the minhash index")
    assert(!exists(s"$ix/s/_meta"), "empty admit bootstrapped the vector index")
    // batch 1: real docs — 11 exact-dups 10, 12 near-dups 10's text,
    // 13 has fresh text but a near-identical vector. Every stage must
    // work on the first NON-empty batch (the old behavior crashed here)
    Seq(
      (10L, base.mkString(" "), Seq(1.0, 0.0, 0.0, 0.0)),
      (11L, base.mkString(" "), Seq(0.0, 0.0, 1.0, 0.0)),
      (12L, base.updated(29, "wolf").mkString(" "), Seq(0.0, 0.0, 0.0, 1.0)),
      (13L, base.map(_.reverse).mkString(" "), Seq(0.999, 0.02, 0.0, 0.0)))
      .toDF("doc_id", "text", "emb").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "eb")
    q1.processAllAvailable(); q1.stop()
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors() == Set(10L), survivors())
    // batch 2 across a restart: cross-batch probes against the
    // indexes created by batch 1 (20 near-dups 10's text; 21 fresh)
    Seq(
      (20L, base.updated(28, "hawk").mkString(" "), Seq(0.0, 0.7, 0.7, 0.0)),
      (21L, base.map(t => t + t.take(1)).mkString(" "), Seq(0.0, 0.0, 0.7, 0.7)))
      .toDF("doc_id", "text", "emb").write.mode("append").parquet(src)
    val q2 = PipelineRunner.startCuration(spark, config, "eb")
    q2.processAllAvailable(); q2.stop()
    assert(survivors() == Set(10L, 21L), survivors())
  }

  test("YAML streaming curation: semantic_dedup stage runs the incremental " +
    "SemDeDup loop against the vector index-at-rest across a restart") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_ys_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_ys_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_ys_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_ys_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: ys}
         |curation:
         |  - id: ys
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING, emb ARRAY<DOUBLE>"
         |    stages:
         |      - {op: semantic_dedup, index_dir: $idx, vec_col: emb,
         |         tau: "0.95", nlist: "2", nprobe: "2"}
         |""".stripMargin)
    // ids picked for the md5-ranked centroid sample as in the Streams
    // spec: centroids = {6, 4}, so the near-dup pair {1, 4} co-buckets
    Seq(
      (1L, "near dup", Seq(0.999, 0.01)),
      (4L, "original", Seq(1.0, 0.0)),
      (6L, "orthogonal", Seq(0.0, 1.0)))
      .toDF("doc_id", "text", "emb").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "ys")
    q1.processAllAvailable(); q1.stop()
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors() == Set(1L, 6L), survivors())
    // crash-replay: wipe the checkpoint so the same files re-process as
    // batch 0 again — the as-of probe (batch < 0 sees nothing) and the
    // batch-tagged overwrites must land a BIT-IDENTICAL end state: no
    // survivor lost to a self-anti-join, no duplicated rows or vectors
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
    val q1r = PipelineRunner.startCuration(spark, config, "ys")
    q1r.processAllAvailable(); q1r.stop()
    def state(): (Seq[Long], Seq[Long]) =
      (spark.read.parquet(out).select("doc_id")
         .collect().map(_.getLong(0)).toSeq.sorted,
       spark.read.parquet(s"$idx/vecs").select("id")
         .collect().map(_.getLong(0)).toSeq.sorted)
    assert(state() == ((Seq(1L, 6L), Seq(1L, 6L))), state())
    // restart: 7 ~ vector 1 drops via the index-at-rest (vector 1 is
    // long gone from any state a restart kept), 8 is fresh
    Seq(
      (7L, "late near dup", Seq(0.998, -0.02)),
      (8L, "fresh", Seq(0.7, -0.7)))
      .toDF("doc_id", "text", "emb").write.mode("append").parquet(src)
    val q2 = PipelineRunner.startCuration(spark, config, "ys")
    q2.processAllAvailable(); q2.stop()
    assert(survivors() == Set(1L, 6L, 8L), survivors())
    // the index holds exactly the survivors' vectors, each once
    assert(state() == ((Seq(1L, 6L, 8L), Seq(1L, 6L, 8L))), state())
  }

  test("streaming micro-batch pins are RELEASED deterministically: a " +
    "10-batch exact-dedup stream holds the block manager flat — " +
    "sc.getPersistentRDDs never grows across batches — with dedup intact") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_pf_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_pf_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_pf_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_pf_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: pf}
         |curation:
         |  - id: pf
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: exact_dedup, index_dir: $idx}
         |""".stripMargin)
    val sc = spark.sparkContext
    def pinned(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    // each micro-batch takes 4 eager pins (batch, curated, survivors,
    // admit keys); before the explicit frees (VERDICT r14 #3) they all
    // waited on GC-triggered cleanup, growing the block manager by
    // 4/batch on exactly the long-lived crawl deployments that cannot
    // afford it. unpersist unregisters synchronously, so the flatness
    // check is deterministic.
    val base = pinned()
    (0 until 10).foreach { i =>
      Seq((i.toLong, s"text $i"), (i.toLong + 100L, "the constant dup"))
        .toDF("doc_id", "text").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "pf")
      q.processAllAvailable(); q.stop()
      val extra = pinned() -- base
      assert(extra.isEmpty,
        s"batch $i leaked ${extra.size} pinned RDDs: $extra")
    }
    // and the dedup semantics were untouched: one winner for the
    // constant dup, every unique text shipped
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == ((0L until 10L).toSet + 100L), got)
    // the MINHASH stage holds flat too — it takes MORE eager pins per
    // batch (probe sigNew + gated candidates, the put's signature
    // table, the component labels) and every one must release
    val src2 = Files.createTempDirectory("graft_pf2_src").toFile.getAbsolutePath
    val out2 = Files.createTempDirectory("graft_pf2_out").toFile.getAbsolutePath
    val ck2 = Files.createTempDirectory("graft_pf2_ck").toFile.getAbsolutePath
    val idx2 = s"${Files.createTempDirectory("graft_pf2_idx")}/index"
    val config2 = PipelineConfig.parse(
      s"""project: {name: pf2}
         |curation:
         |  - id: pf2
         |    input: $src2
         |    streaming: true
         |    checkpoint: $ck2
         |    output: $out2
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: minhash_dedup, index_dir: $idx2, shingle_size: "2",
         |         num_hashes: "16", bands: "8", threshold: "0.5"}
         |""".stripMargin)
    val base2 = pinned()
    (0 until 6).foreach { i =>
      // unique docs share NO 2-gram (every token carries the batch id);
      // the constant text re-sent each batch dedups via the index probe
      Seq((i.toLong,
          s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"),
          (i.toLong + 100L,
          "the constant duplicated document text repeated every batch"))
        .toDF("doc_id", "text").write.mode("append").parquet(src2)
      val q = PipelineRunner.startCuration(spark, config2, "pf2")
      q.processAllAvailable(); q.stop()
      val extra = pinned() -- base2
      assert(extra.isEmpty,
        s"minhash batch $i leaked ${extra.size} pinned RDDs: $extra")
    }
    val got2 = spark.read.parquet(out2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got2 == ((0L until 6L).toSet + 100L), got2)
  }

  test("streaming INDEX-LESS fall-throughs hold the block manager flat: " +
    "fuzzy_dedup and exact_dedup without index_dir run their batch form " +
    "per micro-batch and every routing-measurement pin is released — the " +
    "contract that makes the fall-through allowed where minhash_dedup's " +
    "is rejected") {
    // CurationStages' fuzzy_dedup doc argues the index-less streaming
    // fall-through is safe because its per-batch eager work (the
    // collision-density routing measurement + components) frees its
    // pins deterministically — unlike the minhash thin form's collapse
    // skeleton, whose index-less streaming form FAILS at stream build.
    // This arm turns that argument from prose into the same pin-
    // flatness contract the exact/minhash index forms carry.
    import graft.etl.{PipelineConfig, PipelineRunner}
    val sc = spark.sparkContext
    def pinned(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val src = Files.createTempDirectory("graft_pf3_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_pf3_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_pf3_ck").toFile.getAbsolutePath
    val config = PipelineConfig.parse(
      s"""project: {name: pf3}
         |curation:
         |  - id: pf3
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: fuzzy_dedup, max_dist: "1"}
         |""".stripMargin)
    val base = pinned()
    (0 until 6).foreach { i =>
      // two within-batch near-dups at lev=1 (the min-id survivor drops
      // the other) + one far key per batch; no cross-batch state — the
      // fall-through's documented per-batch semantics
      Seq((10L * i, s"alpha$i"), (10L * i + 1L, s"alpha${i}x"),
          (10L * i + 2L, s"zzz-unique-$i-key"))
        .toDF("doc_id", "text").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "pf3")
      q.processAllAvailable(); q.stop()
      val extra = pinned() -- base
      assert(extra.isEmpty,
        s"index-less fuzzy_dedup batch $i leaked ${extra.size} pinned " +
          s"RDDs: $extra — either free the measurement pins or fail " +
          "fast at stream build like minhash_dedup")
    }
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == (0 until 6).flatMap(i =>
      Seq(10L * i, 10L * i + 2L)).toSet, got)
    // exact_dedup's index-less fall-through: same contract
    val src2 = Files.createTempDirectory("graft_pf4_src").toFile.getAbsolutePath
    val out2 = Files.createTempDirectory("graft_pf4_out").toFile.getAbsolutePath
    val ck2 = Files.createTempDirectory("graft_pf4_ck").toFile.getAbsolutePath
    val config2 = PipelineConfig.parse(
      s"""project: {name: pf4}
         |curation:
         |  - id: pf4
         |    input: $src2
         |    streaming: true
         |    checkpoint: $ck2
         |    output: $out2
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: exact_dedup}
         |""".stripMargin)
    val base2 = pinned()
    (0 until 6).foreach { i =>
      Seq((10L * i, s"batch $i body"), (10L * i + 1L, s"batch $i body"))
        .toDF("doc_id", "text").write.mode("append").parquet(src2)
      val q = PipelineRunner.startCuration(spark, config2, "pf4")
      q.processAllAvailable(); q.stop()
      val extra = pinned() -- base2
      assert(extra.isEmpty,
        s"index-less exact_dedup batch $i leaked ${extra.size} pinned " +
          s"RDDs: $extra")
    }
    val got2 = spark.read.parquet(out2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got2 == (0 until 6).map(i => 10L * i).toSet, got2)
  }

  test("YAML streaming drift watchdog: semantic_dedup with drift_every " +
    "self-audits the index against its frozen centroids — a drifting " +
    "stream appends an ALERT row to the drift_dir ledger") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_dw_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_dw_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_dw_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_dw_idx")}/index"
    val drift = s"${Files.createTempDirectory("graft_dw_dr")}/drift"
    val config = PipelineConfig.parse(
      s"""project: {name: dw}
         |curation:
         |  - id: dw
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING, emb ARRAY<DOUBLE>"
         |    stages:
         |      - {op: semantic_dedup, index_dir: $idx, vec_col: emb,
         |         tau: "0.95", nlist: "2", nprobe: "2",
         |         drift_every: "1", drift_dir: $drift}
         |""".stripMargin)
    def run(rows: Seq[(Long, String, Seq[Double])]): Unit = {
      rows.toDF("doc_id", "text", "emb").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "dw")
      q.processAllAvailable(); q.stop()
    }
    // batch 0: both docs become the frozen centroids (nlist=2) — the
    // audit's baseline mean distance is exactly 0
    run(Seq((4L, "a", Seq(1.0, 0.0)), (6L, "b", Seq(0.0, 1.0))))
    val r0 = spark.read.parquet(drift).collect()
    assert(r0.length == 1 && !r0.head.getAs[Boolean]("alert"),
      r0.mkString(", "))
    // batch 1 DRIFTS: far from both centroids (cosine < tau everywhere,
    // so both admit) — nonzero mean against a zero baseline must alert
    run(Seq((9L, "c", Seq(5.0, 5.0)), (11L, "d", Seq(-3.0, 4.0))))
    val rows = spark.read.parquet(drift)
      .orderBy(col("audit_batch"))
      .select(col("audit_batch").cast("long"), col("batch").cast("long"),
        col("alert")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(rows == Seq((0L, 0L, false), (1L, 1L, true)), rows)
    // batch 2: the watchdog's INCREMENTAL audit (earliest + newest
    // partitions only — O(2 batches), not O(index)) must produce the
    // same row as the full-index audit for that batch
    run(Seq((15L, "e", Seq(-5.0, -5.0))))
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Number]("batch").longValue,
      r.getAs[Number]("n_vecs").longValue,
      r.getAs[Double]("mean_dist"),
      Option(r.get(r.fieldIndex("drift_ratio"))),
      r.getAs[Boolean]("alert"))
    val full = graft.operators.Similarity.streamIndexDrift(spark, idx)
      .filter(col("batch") === 2).collect().head
    val led = spark.read.parquet(drift)
      .filter(col("audit_batch") === 2).collect().head
    assert(key(led) == key(full), s"${key(led)} vs ${key(full)}")
    assert(key(led)._5, "batch 2 should still alert")
  }

  test("clone-flood crawl batch: per-batch candidate work is bounded by " +
    "the batch's DISTINCT signatures (probe-side collapse), dedup " +
    "semantics unchanged") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import graft.operators.Dedup
    // 1) the BOUND, asserted on the probe core's own pins: an index
    //    with 3 admitted docs probed by a 3000-clone boilerplate flood
    //    of one admitted text plus one fresh doc. Pre-collapse, every
    //    clone hit the hot band bucket individually (3000 × bands
    //    probe rows, 3000 candidate rows per colliding corpus doc,
    //    every micro-batch of a crawl); collapsed, the probe bands one
    //    representative per DISTINCT signature and the candidate set
    //    is rep-level. (The fuzzy arm is bounded the same way twice
    //    over: fuzzyCrawlBatch probes DISTINCT strings, and its
    //    minhash tier goes through this same lookup.)
    val idir = s"${Files.createTempDirectory("graft_cf_idx")}/index"
    val corpus = Seq(
      (1L, "the constant boilerplate page every mirror serves"),
      (2L, "a second admitted document about streaming state"),
      (3L, "a third admitted document about catalyst plans"))
      .toDF("doc_id", "text")
    Dedup.minHashIndexPut(spark, idir, corpus, "doc_id", "text",
      batch = 0L, shingleSize = 2, numHashes = 16, bands = 8)
    val flood = ((0 until 3000).map(k =>
        (1000L + k, "the constant boilerplate page every mirror serves")) :+
        (9999L, "a fresh never before seen document about lazy plans"))
      .toDF("doc_id", "text")
    val (lookup, pins) = Dedup.minHashIndexLookupPinned(
      spark, idir, Dedup.minHashIndexMeta(spark, idir).get, flood,
      "doc_id", "text", excludeBatchFrom = Some(1L))
    val hits = lookup.filter(col("est_jaccard") >= 0.9)
      .select("new_id").distinct().count()
    assert(hits == 3000L, s"every clone must match the admitted text: $hits")
    // pins = Seq(sigNew, repsNew, cand): 3001 batch docs → 2 distinct
    // signatures → candidate rows bounded by reps × colliding corpus
    // docs, never by the clone count
    assert(pins.length == 3, s"pin contract: ${pins.length}")
    assert(pins(1).count() == 2L, "distinct-signature representatives")
    assert(pins(2).count() <= 2L * 3L,
      s"rep-level candidate rows: ${pins(2).count()}")
    pins.foreach(graft.operators.IterPin.free)
    // 2) the STREAMING arm: a minhash_dedup crawl whose second
    //    micro-batch is a clone flood of an admitted doc — every clone
    //    drops via the index probe, the fresh doc survives, the stream
    //    completes (no hot-bucket straggler semantics change)
    val src = Files.createTempDirectory("graft_cf_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_cf_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_cf_ck").toFile.getAbsolutePath
    val idx2 = s"${Files.createTempDirectory("graft_cf_idx2")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: cf}
         |curation:
         |  - id: cf
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: minhash_dedup, index_dir: $idx2, shingle_size: "2",
         |         num_hashes: "16", bands: "8", threshold: "0.5"}
         |""".stripMargin)
    def run(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "cf")
      q.processAllAvailable(); q.stop()
    }
    run(Seq(
      (1L, "the constant boilerplate page every mirror serves"),
      (2L, "a second admitted document about streaming state")))
    run((0 until 500).map(k =>
        (1000L + k, "the constant boilerplate page every mirror serves")) :+
      (9999L, "a fresh never before seen document about lazy plans"))
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 9999L), got)
  }

  test("fuzzy clone-flood crawl: intra-batch survivor edges are LINEAR " +
    "in the batch (thin edges), dedup semantics unchanged") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import graft.operators.Dedup
    // operator-level bound: a 2000-clone key batch yields
    // |batch|-bounded thin edges — 1999 star edges for the clone group
    // plus one cross edge to the distance-1 neighbour — where the pair
    // expansion the intra-batch stage used to feed components was
    // C(2000, 2) ≈ 2M rows
    val keys = ((0 until 2000).map(k => (k.toLong, "Customer#000001234")) :+
      (8888L, "Customer#000001235") :+ (9999L, "Supplier#unrelated"))
      .toDF("id", "k")
    val edges = Dedup.editDistanceDedupEdges(keys, "id", "k", maxDist = 1)
    assert(edges.count() == 2000L, edges.count())
    // and the components still resolve the whole family to min-id
    val comps = graft.operators.Components
      .connectedComponents(edges, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(8888L) == 0L && comps(1999L) == 0L && !comps.contains(9999L))
    // streaming arm: a fuzzy_dedup crawl whose second micro-batch is a
    // 500-clone flood of an admitted key — every clone drops via the
    // index probe, the intra-batch fresh pair resolves to its min id,
    // and the stream completes
    val src = Files.createTempDirectory("graft_fcf_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_fcf_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_fcf_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_fcf_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: fcf}
         |curation:
         |  - id: fcf
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: fuzzy_dedup, index_dir: $idx, max_dist: "1"}
         |""".stripMargin)
    def run(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "fcf")
      q.processAllAvailable(); q.stop()
    }
    run(Seq(
      (1L, "Customer#000001234"),
      (2L, "Supplier#unrelated")))
    run((0 until 500).map(k => (1000L + k, "Customer#000001234")) :+
      (8887L, "Widget#fresh00001") :+ (8889L, "Widget#fresh00002"))
    // clones of the admitted key all drop; the two fresh distance-1
    // widgets resolve intra-batch to the min id
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 8887L), got)
  }

  test("drift baseline is PINNED across compaction: the batch=-1 fold " +
    "cannot blend post-drift batches into the reference, and a refit " +
    "opens a fresh drift epoch") {
    import graft.operators.{BatchCompaction, Similarity}
    val idx = s"${Files.createTempDirectory("graft_db_idx")}/index"
    // batch 0: both vectors ARE the frozen centroids → true baseline 0
    Similarity.vecIndexPut(spark, idx,
      Seq((4L, Seq(1.0, 0.0)), (6L, Seq(0.0, 1.0))).toDF("id", "v"),
      "id", "v", batch = 0L, nlist = 2)
    // batch 1 drifts hard off both centroids
    Similarity.vecIndexPut(spark, idx,
      Seq((9L, Seq(5.0, 5.0)), (11L, Seq(-3.0, 4.0))).toDF("id", "v"),
      "id", "v", batch = 1L, nlist = 2)
    val before = Similarity.streamIndexDrift(spark, idx).collect()
    val b0 = before.find(_.getAs[Number]("batch").longValue == 0L).get
    val b1 = before.find(_.getAs[Number]("batch").longValue == 1L).get
    assert(b0.getAs[Double]("baseline_dist") == 0.0, b0.toString)
    assert(b1.getAs[Boolean]("alert"), b1.toString)
    // fold EVERYTHING under batch=-1 (what compact_every does over a
    // long crawl): the earliest LIVE partition's mean is now the blend
    // over all folded batches — nonzero, drift included
    BatchCompaction.compactIndex(spark, idx, upTo = 1L)
    val after = Similarity.streamIndexDrift(spark, idx).collect()
    assert(after.length == 1, after.mkString(", "))
    val f = after.head
    assert(f.getAs[Number]("batch").longValue == -1L, f.toString)
    // the pinned baseline still reads the FIRST audit's 0.0 — the
    // pre-pin rule recomputed it from the earliest live partition and
    // would report the blended mean here (drift_ratio exactly 1.0, no
    // alert: the desensitization this sidecar exists to prevent)
    assert(f.getAs[Double]("baseline_dist") == 0.0, f.toString)
    assert(f.getAs[Boolean]("alert"), f.toString)
    // refit = new centroids = new drift epoch: the sidecar drops so
    // the next audit re-pins against distances to the refit centroids
    Similarity.refitStreamIndex(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_drift_baseline")),
      "refit must drop the pinned baseline")
  }

  test("drift-baseline sidecar under crash and race: an orphan tmp from " +
    "a crashed pin is cleaned and re-pinned; a rename loser adopts the " +
    "winner's baseline instead of reporting against its own candidate") {
    import graft.operators.Similarity
    val idx = s"${Files.createTempDirectory("graft_dbr_idx")}/index"
    Similarity.vecIndexPut(spark, idx,
      Seq((4L, Seq(1.0, 0.0)), (6L, Seq(0.0, 1.0))).toDF("id", "v"),
      "id", "v", batch = 0L, nlist = 2)
    Similarity.vecIndexPut(spark, idx,
      Seq((9L, Seq(5.0, 5.0))).toDF("id", "v"),
      "id", "v", batch = 1L, nlist = 2)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(s"$idx/_drift_baseline")
    val tmp = new org.apache.hadoop.fs.Path(s"$idx/.drift_baseline_tmp")
    def tmpOrphans(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(idx)).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith(".drift_baseline_tmp"))
    // CRASH window: tmps written (with garbage — worse than a valid
    // candidate), rename never ran. Each writer uses its OWN
    // uuid-suffixed tmp (no shared tmp path = no racer can rename
    // another's half-written parquet), so the sweep is a PREFIX glob —
    // both the bare legacy name and a uuid-suffixed orphan must go —
    // and it is AGE-GATED (a young tmp may be a live racer's in-flight
    // write), so the crash orphans are aged past the gate here; a
    // fresh one must SURVIVE the sweep (asserted below).
    fs.mkdirs(tmp)
    val o = fs.create(new org.apache.hadoop.fs.Path(tmp, "junk"))
    o.write(Array[Byte](1, 2, 3)); o.close()
    val uuidOrphan = new org.apache.hadoop.fs.Path(
      s"$idx/.drift_baseline_tmp-0000-dead-beef")
    fs.mkdirs(uuidOrphan)
    val old = System.currentTimeMillis() - 11L * 60L * 1000L
    fs.setTimes(tmp, old, old)
    fs.setTimes(uuidOrphan, old, old)
    val fresh = new org.apache.hadoop.fs.Path(
      s"$idx/.drift_baseline_tmp-1111-live-racer")
    fs.mkdirs(fresh) // a live racer's seconds-old tmp: NOT swept
    val rows = Similarity.streamIndexDrift(spark, idx).collect()
    assert(rows.exists(_.getAs[Boolean]("alert")), rows.mkString(", "))
    assert(rows.forall(_.getAs[Double]("baseline_dist") == 0.0))
    assert(fs.exists(base))
    assert(tmpOrphans() == Seq(".drift_baseline_tmp-1111-live-racer"),
      tmpOrphans().mkString(", ")) // aged orphans swept, live tmp kept
    fs.delete(fresh, true)
    // RACE, loser at the pre-check: the baseline already exists with
    // the winner's value — a pin with a DIFFERENT candidate (a racing
    // audit given another onlyBatches window) must adopt the stored
    // 0.0, not its own 42.0, and must not disturb the sidecar. The
    // pre-check runs BEFORE the tmp write, so the loser pays no write
    // job and leaves no tmp entry at all.
    val adopted = Similarity.pinDriftBaseline(spark, fs, idx,
      batch = 1L, nVecs = 1L, mean = 42.0)
    assert(adopted == 0.0, adopted.toString)
    assert(IndexStore.side(spark, idx, "_drift_baseline").head()
      .getAs[Double]("baseline_dist") == 0.0)
    assert(tmpOrphans().isEmpty) // the pre-check loser never wrote one
    // POST-PIN orphan: a crash AFTER the baseline already exists (a
    // loser that died between its tmp write and its lost rename) must
    // still be swept by the NEXT pin — the sweep runs before the
    // adopt-winner early return, not behind it, or leftover tmps
    // accumulate in indexDir forever
    val postPin = new org.apache.hadoop.fs.Path(
      s"$idx/.drift_baseline_tmp-2222-post-pin-crash")
    fs.mkdirs(postPin)
    fs.setTimes(postPin, old, old)
    assert(Similarity.pinDriftBaseline(spark, fs, idx, 2L, 3L, 13.0) == 0.0)
    assert(tmpOrphans().isEmpty,
      "an aged orphan must be swept even when the adopt-winner " +
        s"fast path returns early: ${tmpOrphans().mkString(", ")}")
    // graft.drift.orphanAgeMs (conf, default 10 min): at a tiny
    // configured age even a seconds-old tmp is sweepable — the
    // operator control for unusual filesystems; the DEFAULT arm (a
    // fresh tmp surviving the sweep) is asserted above
    val freshCfg = new org.apache.hadoop.fs.Path(
      s"$idx/.drift_baseline_tmp-3333-tiny-age")
    fs.mkdirs(freshCfg)
    val oneSecAgo = System.currentTimeMillis() - 1000L
    fs.setTimes(freshCfg, oneSecAgo, oneSecAgo)
    try {
      spark.conf.set("graft.drift.orphanAgeMs", "1")
      Similarity.pinDriftBaseline(spark, fs, idx, 2L, 3L, 13.0)
    } finally spark.conf.unset("graft.drift.orphanAgeMs")
    assert(tmpOrphans().isEmpty,
      "orphanAgeMs=1 must sweep a seconds-old tmp: " +
        tmpOrphans().mkString(", "))
    // RACE, loser at the rename itself (both passed the pre-check).
    // Why claimRename exists: FileSystem.rename onto an existing
    // directory destination does NOT fail — POSIX semantics move the
    // source INTO it, which would nest the loser's tmp inside the
    // winner's sidecar undetectably. Pin that hazard, then prove the
    // claim primitive loses loudly and leaves the winner intact.
    val idx2 = s"${Files.createTempDirectory("graft_dbr_idx2")}/index"
    fs.mkdirs(new org.apache.hadoop.fs.Path(idx2))
    assert(Similarity.pinDriftBaseline(spark, fs, idx2, 0L, 2L, 7.5) == 7.5)
    val base2 = new org.apache.hadoop.fs.Path(s"$idx2/_drift_baseline")
    val loserTmp = new org.apache.hadoop.fs.Path(s"$idx2/.loser_tmp")
    fs.mkdirs(loserTmp)
    assert(fs.rename(loserTmp, base2)) // the hazard: "succeeds" by nesting
    assert(fs.exists(new org.apache.hadoop.fs.Path(base2, ".loser_tmp")))
    fs.delete(new org.apache.hadoop.fs.Path(base2, ".loser_tmp"), true)
    // the claim primitive: renaming onto the existing sidecar LOSES
    fs.mkdirs(loserTmp)
    assert(!Similarity.claimRename(fs, loserTmp, base2))
    fs.delete(loserTmp, true)
    assert(IndexStore.side(spark, idx2, "_drift_baseline").head()
      .getAs[Double]("baseline_dist") == 7.5) // winner undisturbed
    // end-to-end: a losing pin returns the winner's value
    assert(Similarity.pinDriftBaseline(spark, fs, idx2, 3L, 9L, 99.9) == 7.5)
  }

  test("YAML streaming curation: token_budget with a spend ledger is " +
    "GLOBAL across batches, refunds gate-dropped survivors, and replays " +
    "idempotently") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_tb_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_tb_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_tb_ck").toFile.getAbsolutePath
    val led = s"${Files.createTempDirectory("graft_tb_led")}/ledger"
    // budget 10 tokens across the WHOLE stream; the gate runs AFTER the
    // budget, so a budget-admitted doc the gate drops must refund its
    // tokens (the ledger records only shipped rows)
    val config = PipelineConfig.parse(
      s"""project: {name: tb}
         |curation:
         |  - id: tb
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    stages:
         |      - {op: token_budget, budget: "10", ledger_dir: $led}
         |      - {op: quality_gate, min_quality: "0.3"}
         |""".stripMargin)
    def run(): Unit = {
      val q = PipelineRunner.startCuration(spark, config, "tb")
      q.processAllAvailable(); q.stop()
    }
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def ledger(): Long = spark.read.parquet(led)
      .agg(sum(col("tokens"))).head().getLong(0)
    // batch 1: both fit the budget (8 <= 10); doc 2 fails the gate and
    // refunds its 4 tokens — ledger must say 4, not 8
    Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "spam spam spam spam"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(survivors() == Set(1L), survivors())
    assert(ledger() == 4L, ledger())
    // crash-replay: wiped checkpoint re-processes the same rows as
    // batch 0 — the as-of spend read and the batch-partition overwrite
    // land the identical output and ledger (no double-spend)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
    run()
    assert(survivors() == Set(1L), survivors())
    assert(ledger() == 4L, ledger())
    // batch 2 after a restart: remaining = 10 - 4 = 6. md5-hash order
    // puts id 6 before id 9 (the batch stage's fill order), so 6's four
    // tokens fit (cum 4 <= 6) and 9's are cut off (cum 8 > 6)
    Seq(
      (6L, "epsilon zeta eta theta"),
      (9L, "iota kappa lambda mu"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(survivors() == Set(1L, 6L), survivors())
    assert(ledger() == 8L, ledger())
  }

  test("YAML streaming curation schema: explicit DDL starts against an " +
    "EMPTY input dir; inference against a missing dir fails with a " +
    "message naming the fix") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_sc_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_sc_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_sc_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_sc_idx")}/index"
    def yaml(schemaLine: String, input: String): String =
      s"""project: {name: sc}
         |curation:
         |  - id: sc
         |    input: $input
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out$schemaLine
         |    stages:
         |      - {op: exact_dedup, index_dir: $idx}
         |""".stripMargin
    // empty dir + declared schema: the stream starts before any file
    // lands (the production crawl posture), and picks up the first
    // arrivals
    val cfg = PipelineConfig.parse(
      yaml("\n    schema: \"doc_id LONG, text STRING\"", src))
    assert(cfg.curation.head.schemaDdl.contains("doc_id LONG, text STRING"))
    val q = PipelineRunner.startCuration(spark, cfg, "sc")
    q.processAllAvailable()
    // one file, so both rows land in one micro-batch: the running
    // stream can list a multi-file append between two file commits,
    // and id 2 alone in an earlier batch would be admitted first
    Seq((1L, "alpha"), (2L, "alpha")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // no schema + missing dir: a clear error, not a stack of
    // AnalysisException internals
    val missing = s"$src/never_created"
    val err = intercept[IllegalArgumentException] {
      PipelineRunner.startCuration(spark,
        PipelineConfig.parse(yaml("", missing)), "sc")
    }
    assert(err.getMessage.contains("schema:"), err.getMessage)
  }

  test("YAML streaming curation replay is idempotent: a re-processed " +
    "micro-batch overwrites its own output/index partitions instead of " +
    "duplicating them or anti-joining against itself") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import org.apache.commons.io.FileUtils
    val src = Files.createTempDirectory("graft_rp_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_rp_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_rp_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_rp_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: rp}
         |curation:
         |  - id: rp
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    stages:
         |      - {op: minhash_dedup, index_dir: $idx, threshold: "0.5"}
         |""".stripMargin)
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega ant bee cat dog elk fox").split(" ").toSeq
    Seq(
      (1L, base.mkString(" ")),
      (2L, base.map(_.reverse).mkString(" ")),
      (3L, base.updated(29, "wolf").mkString(" "))) // near-dup of 1
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "rp")
    q1.processAllAvailable(); q1.stop()
    def state(): (Seq[Long], Seq[Long]) =
      (spark.read.parquet(out).select("doc_id")
         .collect().map(_.getLong(0)).toSeq.sorted,
       sigs(idx).select("id")
         .collect().map(_.getLong(0)).toSeq.sorted)
    val first = state()
    assert(first == ((Seq(1L, 2L), Seq(1L, 2L))), first)
    // wipe the checkpoint: the restart re-reads every file as batch 0
    // again — the crash-replay shape. The as-of probe (batch <
    // batchId) must blind the replay to its own first-attempt index
    // rows, and both writes must OVERWRITE the batch's partitions, so
    // the end state is bit-identical: no survivor lost to a
    // self-anti-join, no duplicated output rows or signatures.
    FileUtils.deleteDirectory(new java.io.File(ck))
    val q2 = PipelineRunner.startCuration(spark, config, "rp")
    q2.processAllAvailable(); q2.stop()
    assert(state() == first, s"${state()} vs $first")
    // the exact_dedup arm over the same replay: each survivor shipped
    // once, each key indexed once
    val xsrc = Files.createTempDirectory("graft_rpx_src").toFile.getAbsolutePath
    val xout = Files.createTempDirectory("graft_rpx_out").toFile.getAbsolutePath
    val xck = Files.createTempDirectory("graft_rpx_ck").toFile.getAbsolutePath
    val xidx = s"${Files.createTempDirectory("graft_rpx_idx")}/index"
    val xconfig = PipelineConfig.parse(
      s"""project: {name: rpx}
         |curation:
         |  - id: rpx
         |    input: $xsrc
         |    streaming: true
         |    checkpoint: $xck
         |    output: $xout
         |    stages:
         |      - {op: exact_dedup, index_dir: $xidx}
         |""".stripMargin)
    Seq(
      (10L, "seeded document alpha"),
      (11L, "novel gamma content"),
      (12L, "novel gamma content"),        // intra-batch dup of 11
      (13L, "novel delta content"))
      .toDF("doc_id", "text").write.mode("append").parquet(xsrc)
    def xrun(): Unit = {
      val q = PipelineRunner.startCuration(spark, xconfig, "rpx")
      q.processAllAvailable(); q.stop()
    }
    xrun()
    FileUtils.deleteDirectory(new java.io.File(xck))
    xrun()
    val outRows = spark.read.parquet(xout).select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(outRows == Seq(10L, 11L, 13L), outRows) // each once, no dups
    val keyRows = spark.read.parquet(s"$xidx/keys").select("k")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(keyRows.distinct == keyRows && keyRows.size == 3, keyRows)
  }

  test("streaming minhash_dedup reads the index _meta once per micro-batch: " +
    "two steady micro-batches schedule the same jobs") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftshim.ListenerBridge
    val src = Files.createTempDirectory("graft_mo_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_mo_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_mo_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_mo_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: mo}
         |curation:
         |  - id: mo
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: minhash_dedup, index_dir: $idx, threshold: "0.5"}
         |""".stripMargin)
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega ant bee cat dog elk fox").split(" ").toSeq
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, _ + _))
    }
    // one query run per micro-batch: a run's jobs carry its runId as
    // their job group
    def batch(rows: Seq[(Long, String)]): Int = {
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "mo")
      try q.processAllAvailable() finally q.stop()
      assert(ListenerBridge.waitUntilEmpty(spark, 10000L))
      jobs.getOrDefault(q.runId.toString, 0)
    }
    sc.addSparkListener(listener)
    val steady = try {
      batch(Seq((1L, base.mkString(" ")), (2L, base.map(_.reverse).mkString(" "))))
      // each steady batch: a near-dup of doc 1 (dropped by the probe)
      // and a fresh doc (admitted)
      Seq(
        batch(Seq((3L, base.updated(29, "wolf").mkString(" ")),
          (4L, base.map(t => t + t.take(1)).mkString(" ")))),
        batch(Seq((5L, base.updated(28, "hawk").mkString(" ")),
          (6L, base.map(_ + "s").mkString(" ")))))
    } finally sc.removeSparkListener(listener)
    assert(steady.distinct.size == 1, s"steady batches differ: $steady")
    // the probe and the put take the values of the batch's one _meta
    // record read, which runs no job, and the probe reads bands and
    // sigs with the recorded schemas (no inference job); each parquet
    // read of either would add a job
    info(s"steady batch ran ${steady.head} jobs")
    assert(steady.head <= 43, s"steady batch ran ${steady.head} jobs")
    assert(spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0))
      .toSet == Set(1L, 2L, 4L, 6L))
  }

  test("streaming routing-ledger rows are exactly-once: a replayed " +
    "micro-batch overwrites its own batch=<id> audit partition instead " +
    "of appending duplicate ledger rows; distinct batches keep their own") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import org.apache.commons.io.FileUtils
    val src = Files.createTempDirectory("graft_lx_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_lx_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_lx_ck").toFile.getAbsolutePath
    val led = s"${Files.createTempDirectory("graft_lx_led")}/ledger"
    // the index-less fuzzy_dedup fall-through writes ONE routing-ledger
    // row per micro-batch — in r17 a plain append, so a wiped-checkpoint
    // replay duplicated the audit trail (documented then; gated now)
    val config = PipelineConfig.parse(
      s"""project: {name: lx}
         |curation:
         |  - id: lx
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: fuzzy_dedup, max_dist: "1", ledger_dir: $led}
         |""".stripMargin)
    Seq((1L, "alpha"), (2L, "alphax"), (3L, "zzz-far-key"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "lx")
    q1.processAllAvailable(); q1.stop()
    def ledgerState(): (Long, Seq[Long]) = {
      val l = spark.read.parquet(led)
      (l.count(), l.select(col("batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted)
    }
    val first = ledgerState()
    assert(first == ((1L, Seq(0L))), first)
    // crash-replay: wiped checkpoint re-processes the same file as
    // batch 0 again — the audit partition must overwrite, not append
    FileUtils.deleteDirectory(new java.io.File(ck))
    val q2 = PipelineRunner.startCuration(spark, config, "lx")
    q2.processAllAvailable(); q2.stop()
    assert(ledgerState() == first,
      s"replayed batch duplicated ledger rows: ${ledgerState()} vs $first")
    // a GENUINE second batch appends its own partition
    Seq((11L, "beta"), (12L, "betax")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q3 = PipelineRunner.startCuration(spark, config, "lx")
    q3.processAllAvailable(); q3.stop()
    assert(ledgerState() == ((2L, Seq(0L, 1L))), ledgerState())
    // and the dedup semantics were untouched throughout
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 11L), got)
  }

  test("streaming bucket-cap audit rows are exactly-once end to end: the " +
    "per-batch tag reaches the stage plans through the per-stream session " +
    "CLONE, two stages of the SAME op keep distinct (batch, op, stage) " +
    "partitions, a replayed batch overwrites its own, and a genuine " +
    "second batch appends its own") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import org.apache.commons.io.FileUtils
    val src = Files.createTempDirectory("graft_cb_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_cb_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_cb_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_cb_idx")}/index"
    val idxB = s"${Files.createTempDirectory("graft_cb_idxb")}/index"
    val led = s"${Files.createTempDirectory("graft_cb_led")}/capledger"
    // TWO minhash_dedup stages — the same operator twice in one
    // pipeline, both engaging the cap through opName=lshRepPairs in
    // the SAME micro-batch: without the stage discriminator in the
    // partition key the second stage's dynamic overwrite of
    // (batch, op) silently deletes the first stage's audit rows
    val config = PipelineConfig.parse(
      s"""project: {name: cb}
         |curation:
         |  - id: cb
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: minhash_dedup, index_dir: $idx, shingle_size: "2",
         |         num_hashes: "16", bands: "8", threshold: "0.5"}
         |      - {op: minhash_dedup, index_dir: $idxB, shingle_size: "2",
         |         num_hashes: "16", bands: "8", threshold: "0.9"}
         |""".stripMargin)
    // cap 0 = every nonempty candidate bucket overflows, so the
    // intra-batch thin-edge banding (minHashLshDedupEdges →
    // capHotBuckets) writes ledger rows on EVERY batch. Cap + ledger
    // dir are set on the MAIN session BEFORE stream start — the
    // per-stream clone copies conf at start, which is also why the
    // loop must set the per-batch TAG on the clone itself (a
    // mid-stream set on this outer session never reaches the stage
    // plans; this spec fails with duplicate untagged appends if the
    // tag misses).
    spark.conf.set("graft.lsh.bucketCap", "0")
    spark.conf.set("graft.lsh.bucketCapLedgerDir", led)
    try {
      Seq((1L, "alpha beta gamma delta"), (2L, "wholly different text rows"))
        .toDF("doc_id", "text").write.mode("append").parquet(src)
      val q1 = PipelineRunner.startCuration(spark, config, "cb")
      q1.processAllAvailable(); q1.stop()
      def state(): (Long, Seq[Long]) = {
        val l = spark.read.parquet(led)
        (l.count(), l.select(col("batch").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted)
      }
      def stagesOf(batch: Long): Set[Int] = spark.read.parquet(led)
        .filter(col("batch").cast("long") === batch)
        .select(col("stage").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSet
      val first = state()
      assert(first._1 > 0L && first._2 == Seq(0L), first)
      // both same-op stages kept their audit partitions in batch 0 —
      // the second stage's overwrite must not delete the first's rows
      assert(stagesOf(0L) == Set(0, 1), stagesOf(0L))
      // crash-replay: wiped checkpoint re-processes the file as batch 0
      FileUtils.deleteDirectory(new java.io.File(ck))
      val q2 = PipelineRunner.startCuration(spark, config, "cb")
      q2.processAllAvailable(); q2.stop()
      assert(state() == first,
        s"replayed batch duplicated cap-ledger rows: ${state()} vs $first")
      // a genuine batch 1 appends its own partition
      Seq((11L, "epsilon zeta eta theta")).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      val q3 = PipelineRunner.startCuration(spark, config, "cb")
      q3.processAllAvailable(); q3.stop()
      val after = state()
      assert(after._1 > first._1 && after._2 == Seq(0L, 1L), after)
    } finally {
      spark.conf.unset("graft.lsh.bucketCap")
      spark.conf.unset("graft.lsh.bucketCapLedgerDir")
    }
  }

  test("streaming fuzzy_dedup sticky tier: a micro-batch whose density " +
    "dips just inside the hysteresis band HOLDS the previous batch's " +
    "tier (ledger records the suppressed flip), and a confidently-sparse " +
    "batch flips; a replayed batch reads the same prior as its first run") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import graft.operators.Dedup
    val src = Files.createTempDirectory("graft_st_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_st_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_st_ck").toFile.getAbsolutePath
    val led = s"${Files.createTempDirectory("graft_st_led")}/ledger"
    // batch corpora, engineered by MEASURED density (the thresholds
    // derive from the mild batch's own ledger measurement, so the spec
    // places it inside the band exactly, not by guesswork):
    //   b0 dense — one shared deletion bucket, density far above any
    //   derived threshold; b1 mild — template keys, nonzero density;
    //   b2 sparse — high-entropy keys, density ~0
    val dense = (0L until 150L).map(i =>
      (i, "prefix-" + (0x4E00 + i).toChar))
    val mild = (1000L until 1200L).map(i =>
      (i, f"rec-${i - 1000}%03d-${(i * 7) % 10}"))
    val sparse = (2000L until 2100L).map(i =>
      (i, java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)))
    // the stage's own measurement of the mild corpus (same defaults:
    // maxDist 1, sampleSixteenths 4)
    val dMild = Dedup.editDistanceAuto(
        mild.toDF("doc_id", "text"), "doc_id", "text", maxDist = 1)
      .ledger.collect().head.getAs[Double]("density")
    assert(dMild > 0.5, s"mild corpus density $dMild too low to band")
    val dDense = Dedup.editDistanceAuto(
        dense.toDF("doc_id", "text"), "doc_id", "text", maxDist = 1)
      .ledger.collect().head.getAs[Double]("density")
    val thr = dMild * 1.05 // mild sits at thr/1.05 ≈ 0.95·thr: in band
    assert(dDense > thr * 1.1, s"dense $dDense not confidently over $thr")
    val config = PipelineConfig.parse(
      s"""project: {name: st}
         |curation:
         |  - id: st
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: fuzzy_dedup, max_dist: "1", ledger_dir: $led,
         |         sticky_tier: "true", density_threshold: "$thr"}
         |""".stripMargin)
    def runBatch(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "st")
      q.processAllAvailable(); q.stop()
    }
    def ledgerRow(batch: Long) = spark.read.parquet(led)
      .filter(col("batch").cast("long") === batch).collect().head
    runBatch(dense)
    val r0 = ledgerRow(0L)
    assert(r0.getAs[String]("tier") == "minhash" &&
      r0.getAs[String]("previous_tier") == "" &&
      !r0.getAs[Boolean]("suppressed_flip"), r0)
    runBatch(mild)
    val r1 = ledgerRow(1L)
    assert(r1.getAs[String]("tier") == "minhash" &&
      r1.getAs[String]("raw_tier") == "exact" &&
      r1.getAs[String]("previous_tier") == "minhash" &&
      r1.getAs[Boolean]("suppressed_flip"),
      s"mild batch must HOLD the dense batch's tier inside the band: $r1")
    runBatch(sparse)
    val r2 = ledgerRow(2L)
    assert(r2.getAs[String]("tier") == "exact" &&
      !r2.getAs[Boolean]("suppressed_flip"), r2)
    // REPLAY determinism: the sticky read filters batch < id, so a
    // replayed batch 2 sees batch 1's row (minhash) as its prior — not
    // its own batch-2 "exact" row — and decides identically
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(ck))
    val qAll = PipelineRunner.startCuration(spark, config, "st")
    qAll.processAllAvailable(); qAll.stop()
    // the wiped checkpoint replays ALL files as one batch 0 — its
    // prior set (batch < 0) is empty, the raw rule runs, and earlier
    // partitions for batches 1/2 stay untouched (exactly-once)
    val rAll = ledgerRow(0L)
    assert(rAll.getAs[String]("previous_tier") == "", rAll)
    assert(spark.read.parquet(led).count() == 3L,
      "replay must overwrite its own batch partition only")
  }

  test("sticky-tier prior probe is O(1): batch b reads ONLY the " +
    "batch=b-1 partition on the happy path; the fallback scan ignores " +
    "compacted batch=-1 rows (compaction resets stickiness) and read " +
    "failures are not swallowed") {
    import graft.etl.CurationStages
    val led = s"${Files.createTempDirectory("graft_sp_led")}/ledger"
    def put(batch: Long, tier: String): Unit =
      Seq((tier, batch)).toDF("tier", "batch")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(led)
    // missing dir: first batch, no ledger yet → raw rule
    assert(CurationStages.stickyPriorTier(spark, led + "_absent", 1L).isEmpty)
    put(0L, "minhash"); put(1L, "exact"); put(2L, "minhash")
    assert(CurationStages.stickyPriorTier(spark, led, 3L) == Some("minhash"))
    assert(CurationStages.stickyPriorTier(spark, led, 2L) == Some("exact"))
    assert(CurationStages.stickyPriorTier(spark, led, 0L).isEmpty,
      "batch 0 has no prior (and must not read a compacted batch=-1 dir)")
    // PROOF the happy path lists exactly one partition: poison an OLD
    // partition with a corrupt file — a full-directory scan would
    // throw reading it, the direct batch=b-1 probe never touches it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$led/batch=0/corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    assert(CurationStages.stickyPriorTier(spark, led, 3L) == Some("minhash"),
      "direct probe of batch=2 must not list the poisoned batch=0")
    // …and the poisoned partition makes the FALLBACK scan fail LOUDLY
    // (batch=3 absent → full scan → hits the corrupt file): a broken
    // ledger is a real failure, not a silent raw-rule downgrade
    intercept[Exception] {
      CurationStages.stickyPriorTier(spark, led, 4L)
    }
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$led/batch=0/corrupt.parquet"))
    // compaction fold: batches 0-1 under batch=-1 (content preserved,
    // batch identity lost) — live batch=2 still wins for b=3, and a
    // replay whose prior was folded (b=2 after batch=1 was compacted)
    // sees NO live prior → raw rule, the documented stickiness reset
    graft.operators.BatchCompaction.compactDir(spark, led, "batch", upTo = 1L)
    assert(CurationStages.stickyPriorTier(spark, led, 3L) == Some("minhash"))
    assert(CurationStages.stickyPriorTier(spark, led, 2L).isEmpty,
      "a compacted prior must reset to the raw rule, not surface an " +
        "arbitrary batch=-1 row")
  }

  test("YAML streaming curation indexes only rows that reach the output: " +
    "a dedup survivor filtered by a LATER stage is not admitted, so its " +
    "future near-duplicates still compete") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_ls_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_ls_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_ls_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_ls_idx")}/index"
    // gate AFTER dedup: doc 2 survives dedup but fails the gate — the
    // r12 advice's exact hazard window (admitted to the index, never
    // shipped → its future near-dups silently dropped forever)
    val config = PipelineConfig.parse(
      s"""project: {name: ls}
         |curation:
         |  - id: ls
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    stages:
         |      - {op: minhash_dedup, index_dir: $idx, threshold: "0.5"}
         |      - {op: quality_gate, min_quality: "0.3"}
         |""".stripMargin)
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega ant bee cat dog elk fox").split(" ").toSeq
    Seq(
      (1L, base.mkString(" ")),
      (2L, "spam spam spam spam spam")) // passes dedup, fails the gate
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "ls")
    q1.processAllAvailable(); q1.stop()
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors() == Set(1L), survivors())
    // doc 2 must NOT be in the index — it never reached the output
    val indexed = sigs(idx)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L), indexed)
    // a later near-dup of the unshipped doc 2 competes afresh: it is
    // dropped by the GATE (its own quality), not by a ghost index row;
    // a high-quality fresh doc passes
    Seq(
      (3L, "spam spam spam spam spam ham"),
      (4L, base.map(t => t + t.take(1)).mkString(" ")))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q2 = PipelineRunner.startCuration(spark, config, "ls")
    q2.processAllAvailable(); q2.stop()
    assert(survivors() == Set(1L, 4L), survivors())
    assert(sigs(idx).select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
  }

  test("curation.compact: batch partitions at/below K consolidate under " +
    "batch=-1 — probe results bit-identical across a restart, file count " +
    "reduced, and a batch replayed ABOVE the compaction point stays " +
    "exactly-once") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    import graft.operators.{BatchCompaction, Dedup}
    val src = Files.createTempDirectory("graft_cm_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_cm_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_cm_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_cm_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: cm}
         |curation:
         |  - id: cm
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    stages:
         |      - {op: minhash_dedup, index_dir: $idx, threshold: "0.5"}
         |""".stripMargin)
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega ant bee cat dog elk fox").split(" ").toSeq
    def doc(at: Int, tok: String): String = base.updated(at, tok).mkString(" ")
    def run(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "cm")
      q.processAllAvailable(); q.stop()
    }
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batches 0, 1, 2 (restart between each): three index partitions,
    // one admit file per band partition per batch
    run(Seq((1L, base.mkString(" ")),
            (2L, base.map(_.reverse).mkString(" ")),
            (3L, doc(29, "wolf"))))                 // near-dup of 1
    run(Seq((4L, doc(28, "hawk")),                  // near-dup of 1
            (5L, base.map(t => t + t.take(1)).mkString(" "))))
    run(Seq((8L, doc(25, "swan")),                  // near-dup of 1
            (9L, "nine entirely novel tokens composed for the third batch")))
    assert(survivors() == Set(1L, 2L, 5L, 9L), survivors())
    // a FIXED probe frame: its results must be bit-identical across
    // the compaction (the as-of contract: batch=-1 sorts before all)
    val probe = Seq((100L, doc(27, "newt")),
      (101L, "entirely different words here")).toDF("doc_id", "text")
    def probeRows(): Seq[(Long, Long, Double)] =
      Dedup.minHashIndexLookup(spark, idx, probe, "doc_id", "text")
        .orderBy("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val beforeProbe = probeRows()
    assert(beforeProbe.exists(_._2 == 1L), beforeProbe) // 100 collides with 1
    // compact batches <= 1 through the CALL surface (the maintenance
    // entry a YAML pipeline or LSP client would use): batches 0 and 1
    // consolidate under batch=-1, batch 2 stays live
    val eng = new CypherEngine(spark, new graft.model.GraphCatalog())
    val stats = eng.query(
      s"""CALL curation.compactIndex('$idx', 1)
          YIELD component, files_before, files_after
          RETURN component, files_before, files_after""").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats.keySet == Set("bands", "sigs"), stats)
    assert(stats("bands")._2 < stats("bands")._1, stats) // files reduced
    assert(stats("sigs")._2 < stats("sigs")._1, stats)
    eng.query(s"CALL curation.compact('$out', 1) YIELD dir RETURN dir")
      .collect()
    // batches 0/1 are gone, their rows live under batch=-1, batch 2
    // untouched
    assert(new java.io.File(s"$idx/bands/batch=-1").isDirectory)
    assert(!new java.io.File(s"$idx/bands/batch=0").exists())
    assert(!new java.io.File(s"$idx/bands/batch=1").exists())
    assert(new java.io.File(s"$idx/sigs/batch=2").isDirectory)
    assert(new java.io.File(s"$out/batch_id=-1").isDirectory)
    assert(!new java.io.File(s"$out/batch_id=0").exists())
    // bit-identical probe and unchanged survivors
    assert(probeRows() == beforeProbe)
    assert(survivors() == Set(1L, 2L, 5L, 9L), survivors())
    // REPLAY a batch above the compaction point: drop batch 2's commit
    // marker (the crash window between the epoch's writes and its
    // commit) — the restart re-runs batch 2 with the same files; its
    // probe reads batch < 2 (now the consolidated batch=-1) and its
    // overwrites target its own live partitions. End state identical.
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.map(_.getName).toSeq == Seq("0", "1", "2"), commits.toSeq)
    assert(commits.last.delete())
    // the local ChecksumFileSystem's CRC sidecar must go with it, or
    // the re-commit reads as a concurrent writer
    new java.io.File(s"$ck/commits/.2.crc").delete()
    val qr = PipelineRunner.startCuration(spark, config, "cm")
    qr.processAllAvailable(); qr.stop()
    assert(survivors() == Set(1L, 2L, 5L, 9L), survivors())
    assert(probeRows() == beforeProbe)
    assert(sigs(idx).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 5L, 9L))
    // and a genuinely NEW batch still dedups against compacted history
    run(Seq((6L, doc(26, "ibis")),                  // near-dup of 1
            (7L, "completely novel content for the final batch")))
    assert(survivors() == Set(1L, 2L, 5L, 7L, 9L), survivors())
  }

  test("YAML streaming compact_every: the index-at-rest self-maintains — " +
    "old batch partitions fold under batch=-1 every N batches, dedup " +
    "stays correct, and a replayed compacting batch is exactly-once") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_ce_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_ce_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_ce_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_ce_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: ce}
         |curation:
         |  - id: ce
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: exact_dedup, index_dir: $idx, compact_every: "2"}
         |""".stripMargin)
    def run(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "ce")
      q.processAllAvailable(); q.stop()
    }
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def keySet(): Set[String] = spark.read.parquet(s"$idx/keys")
      .select("k").collect().map(_.getString(0)).toSet
    run(Seq((1L, "alpha"), (2L, "beta")))              // batch 0
    run(Seq((3L, "alpha"), (4L, "gamma")))             // batch 1
    run(Seq((5L, "beta"), (6L, "delta")))              // batch 2 → compacts <=1
    assert(survivors() == Set(1L, 2L, 4L, 6L), survivors())
    assert(new java.io.File(s"$idx/keys/batch=-1").isDirectory)
    assert(!new java.io.File(s"$idx/keys/batch=0").exists())
    assert(!new java.io.File(s"$idx/keys/batch=1").exists())
    assert(new java.io.File(s"$idx/keys/batch=2").isDirectory)
    assert(keySet() == Set("alpha", "beta", "gamma", "delta"), keySet())
    // REPLAY the compacting batch (commit marker + crc dropped): its
    // admit overwrites its own batch=2 partition and its compaction
    // re-folds the already-folded history idempotently
    assert(new java.io.File(s"$ck/commits/2").delete())
    new java.io.File(s"$ck/commits/.2.crc").delete()
    val qr = PipelineRunner.startCuration(spark, config, "ce")
    qr.processAllAvailable(); qr.stop()
    assert(survivors() == Set(1L, 2L, 4L, 6L), survivors())
    assert(keySet() == Set("alpha", "beta", "gamma", "delta"), keySet())
    assert(!new java.io.File(s"$idx/keys/batch=0").exists())
    // and the NEXT batch still dedups against the compacted history
    run(Seq((7L, "gamma"), (8L, "epsilon")))           // batch 3
    assert(survivors() == Set(1L, 2L, 4L, 6L, 8L), survivors())
  }

  test("YAML streaming: an interrupted index compaction is repaired at " +
    "the START of the next micro-batch — before its probes read the " +
    "index — so no admitted key is ever re-admitted (r14 advisor hole)") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_cr_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_cr_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_cr_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_cr_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: cr}
         |curation:
         |  - id: cr
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: exact_dedup, index_dir: $idx}
         |""".stripMargin)
    def run(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "cr")
      q.processAllAvailable(); q.stop()
    }
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    run(Seq((1L, "alpha"), (2L, "beta")))   // batch 0
    run(Seq((3L, "alpha"), (4L, "gamma")))  // batch 1
    assert(survivors() == Set(1L, 2L, 4L), survivors())
    // SIMULATE an admin `CALL curation.compactIndex` crashing in the
    // lethal window: consolidated keys in .compact_tmp, marker
    // committed, batch partitions deleted, rename never ran — and the
    // admin never re-ran it. The index is now missing EVERY key.
    val keys = s"$idx/keys"
    spark.read.parquet(keys).filter(col("batch") <= 1).drop("batch")
      .coalesce(1).write.parquet(s"$keys/.compact_tmp")
    val fs = new org.apache.hadoop.fs.Path(keys)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mk = fs.create(
      new org.apache.hadoop.fs.Path(s"$keys/_compact_commit"), true)
    try mk.write("1".getBytes("UTF-8")) finally mk.close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$keys/batch=0"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$keys/batch=1"), true)
    // the next micro-batch re-sends two already-admitted texts: the
    // start-of-batch recovery pass must restore the consolidated keys
    // BEFORE the probe anti-join, or both dups ship to the output
    run(Seq((5L, "beta"), (6L, "gamma"), (7L, "delta")))  // batch 2
    assert(survivors() == Set(1L, 2L, 4L, 7L),
      s"duplicates re-admitted through the broken index: ${survivors()}")
    assert(new java.io.File(s"$keys/batch=-1").isDirectory)
    assert(!new java.io.File(s"$keys/_compact_commit").exists())
  }

  test("YAML streaming fuzzy_dedup against an index-at-rest (exact tier): " +
    "cross-batch edit-distance dups drop across restarts, batching is " +
    "boundary-invariant and differential vs the batch stage, and a " +
    "wiped-checkpoint replay is idempotent") {
    import graft.etl.{CurationStages, PipelineConfig, PipelineRunner}
    import org.apache.commons.io.FileUtils
    // clique-shaped fuzzy group (all pairwise lev <= 1) — the regime
    // where greedy arrival-order dedup is batching-proof, as in the
    // minhash invariance spec
    val docs = Seq(
      (1L, "martha stewart"),
      (2L, "david bowie"),
      (3L, "martha stewar"),    // del last char of 1
      (4L, "martha stewarx"),   // sub last char of 1
      (5L, "someone else"))
    def run(batches: Seq[Seq[(Long, String)]])
    : (Set[Long], String, String, String) = {
      val src = Files.createTempDirectory("graft_fz_src").toFile.getAbsolutePath
      val out = Files.createTempDirectory("graft_fz_out").toFile.getAbsolutePath
      val ck = Files.createTempDirectory("graft_fz_ck").toFile.getAbsolutePath
      val idx = s"${Files.createTempDirectory("graft_fz_idx")}/index"
      val config = PipelineConfig.parse(
        s"""project: {name: fz}
           |curation:
           |  - id: fz
           |    input: $src
           |    streaming: true
           |    checkpoint: $ck
           |    output: $out
           |    schema: "doc_id LONG, text STRING"
           |    stages:
           |      - {op: fuzzy_dedup, index_dir: $idx, max_dist: "1"}
           |""".stripMargin)
      batches.foreach { b =>
        b.toDF("doc_id", "text").write.mode("append").parquet(src)
        val q = PipelineRunner.startCuration(spark, config, "fz")
        q.processAllAvailable(); q.stop()
      }
      val tier = IndexStore.open(spark, idx, "fuzzy").get.params("tier")
      (spark.read.parquet(out).select("doc_id")
         .collect().map(_.getLong(0)).toSet, tier, ck, idx)
    }
    // one batch vs three: identical survivors, exact tier both ways
    val (oneShot, t1, _, _) = run(Seq(docs))
    val (threeWay, t3, ck3, _) =
      run(Seq(docs.take(2), docs.slice(2, 3) ++ docs.drop(4), docs.slice(3, 4)))
    assert(t1 == "exact" && t3 == "exact", (t1, t3))
    assert(oneShot == threeWay, s"$oneShot vs $threeWay")
    assert(oneShot == Set(1L, 2L, 5L), oneShot)
    // differential vs the BATCH fuzzy_dedup stage on the same data
    val batchPick = CurationStages.apply(spark, docs.toDF("doc_id", "text"),
        "doc_id", "text",
        graft.etl.CurationStageDef("fuzzy_dedup", Map("max_dist" -> "1")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchPick == oneShot, s"$batchPick vs $oneShot")
    // wiped-checkpoint replay: a single-batch stream re-processed from
    // scratch must land bit-identical — the as-of probe (batch <
    // batchId) blinds the replay to its own first-attempt hood rows,
    // and output/index writes overwrite their own partitions
    val src = Files.createTempDirectory("graft_fzr_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_fzr_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_fzr_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_fzr_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: fzr}
         |curation:
         |  - id: fzr
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: fuzzy_dedup, index_dir: $idx, max_dist: "1"}
         |""".stripMargin)
    docs.take(3).toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "fzr")
    q1.processAllAvailable(); q1.stop()
    def state(): (Seq[Long], Seq[String]) =
      (spark.read.parquet(out).select("doc_id")
         .collect().map(_.getLong(0)).toSeq.sorted,
       spark.read.parquet(s"$idx/hood").select("k").distinct()
         .collect().map(_.getString(0)).toSeq.sorted)
    val first = state()
    assert(first == ((Seq(1L, 2L),
      Seq("david bowie", "martha stewart"))), first)
    FileUtils.deleteDirectory(new java.io.File(ck))
    val q2 = PipelineRunner.startCuration(spark, config, "fzr")
    q2.processAllAvailable(); q2.stop()
    assert(state() == first, s"${state()} vs $first")
  }

  test("YAML streaming fuzzy_dedup routes LONG keys to the minhash tier " +
    "at index creation and keeps the choice pinned in _meta across " +
    "restarts; cross-batch near-keys still drop, verified at the exact " +
    "edit distance") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_fm_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_fm_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_fm_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_fm_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: fm}
         |curation:
         |  - id: fm
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING"
         |    stages:
         |      - {op: fuzzy_dedup, index_dir: $idx, max_dist: "1"}
         |""".stripMargin)
    // 80-char keys: mean key length beats the 64-codepoint ceiling, so
    // the router must take the char-bigram minhash tier (the deletion
    // hoods of long keys are what the exact tier must not explode)
    val longA = "abcdefghij" * 8
    val longB = "qrstuvwxyz" * 8
    Seq((1L, longA), (2L, longB),
        (3L, longA.updated(5, 'Q')))        // near-dup of 1, intra-batch
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = PipelineRunner.startCuration(spark, config, "fm")
    q1.processAllAvailable(); q1.stop()
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors() == Set(1L, 2L), survivors())
    val meta = IndexStore.open(spark, idx, "fuzzy").get
    assert(meta.params("tier") == "minhash", meta)
    assert(new java.io.File(s"$idx/sketch/_meta").exists())
    // restart: a near-key of 1 drops via the sketch probe (band
    // collision, then EXACT <=1 verification); a disjoint key ships
    Seq((4L, longA.updated(20, 'R')),       // near-dup of 1, cross-batch
        (5L, "zz" * 40))                     // bigram-disjoint, fresh
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q2 = PipelineRunner.startCuration(spark, config, "fm")
    q2.processAllAvailable(); q2.stop()
    assert(survivors() == Set(1L, 2L, 5L), survivors())
  }

  test("similarity.indexDrift + refitIndex: a drifted crawl alerts against " +
    "the frozen batch-0 centroids, and the offline refit restores probe " +
    "recall batch-preserving") {
    import graft.etl.{PipelineConfig, PipelineRunner}
    val src = Files.createTempDirectory("graft_dr_src").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_dr_out").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_dr_ck").toFile.getAbsolutePath
    val idx = s"${Files.createTempDirectory("graft_dr_idx")}/index"
    val config = PipelineConfig.parse(
      s"""project: {name: dr}
         |curation:
         |  - id: dr
         |    input: $src
         |    streaming: true
         |    checkpoint: $ck
         |    output: $out
         |    schema: "doc_id LONG, text STRING, emb ARRAY<DOUBLE>"
         |    stages:
         |      - {op: semantic_dedup, index_dir: $idx, vec_col: emb,
         |         tau: "0.999", nlist: "2", nprobe: "1"}
         |""".stripMargin)
    def run(rows: Seq[(Long, String, Seq[Double])]): Unit = {
      rows.toDF("doc_id", "text", "emb").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "dr")
      q.processAllAvailable(); q.stop()
    }
    def survivors(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch 0: ids picked for the md5-ranked sample (6 < 19 < 9): the
    // FROZEN centroids are the two orthogonal anchors [1,0] and [0,1];
    // doc 9 rides near anchor 6 so the batch-0 baseline distance is
    // small but nonzero
    run(Seq((6L, "a", Seq(1.0, 0.0)), (19L, "b", Seq(0.0, 1.0)),
            (9L, "c", Seq(0.99, 0.14))))
    // batches 1-2: the crawl DRIFTS to the diagonal — a near-dup pair
    // straddling the frozen Voronoi boundary. 33 homes to bucket 19;
    // its near-dup 40 (cos ≈ 0.99997) probes nprobe=1 into bucket 6
    // and MISSES it: the frozen-centroid recall loss this watchdog
    // exists to catch. Both ship.
    run(Seq((33L, "d", Seq(0.705, 0.71))))
    run(Seq((40L, "e", Seq(0.71, 0.705))))
    assert(survivors() == Set(6L, 19L, 9L, 33L, 40L), survivors())
    // the drift audit fires on the drifted batches, not the baseline
    val eng = new CypherEngine(spark, new graft.model.GraphCatalog())
    def drift(): Map[Int, (Boolean, Option[Double])] = eng.query(
      s"""CALL similarity.indexDrift('$idx', 4.0)
          YIELD batch, drift_ratio, alert
          RETURN batch, drift_ratio, alert""").collect()
      .map(r => r.getAs[Number](0).intValue -> (r.getBoolean(2),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val d0 = drift()
    assert(!d0(0)._1 && d0(1)._1 && d0(2)._1, d0)
    assert(d0(1)._2.exists(_ > 50), d0) // ~88x the batch-0 baseline
    // offline refit: new centroids over ALL stored vectors (md5 sample
    // now picks {6, 33} — an anchor and the drifted cluster), every
    // vector reassigned, batch tags preserved
    val n = eng.query(
      s"CALL similarity.refitIndex('$idx') YIELD n_vecs RETURN n_vecs")
      .collect().head.getLong(0)
    assert(n == 5L)
    assert(IndexStore.side(spark, idx, "_centroids").select("cid")
      .collect().map(_.getLong(0)).toSet == Set(6L, 33L))
    val vecs = spark.read.parquet(s"$idx/vecs")
    assert(vecs.select("batch").distinct().collect()
      .map(_.getInt(0)).toSet == Set(0, 1, 2))
    assert(vecs.filter(col("id") === 19L).select("__bucket")
      .collect().map(_.getInt(0)).toSeq == Seq(33)) // reassigned home
    // post-refit the audit is quiet (nothing beats the new baseline 4x)
    assert(drift().values.forall(!_._1), drift())
    // and recall is RESTORED: a fresh near-dup of the drifted pair now
    // probes into the refit bucket holding 33/40 and is dropped; an
    // unrelated doc still ships
    run(Seq((50L, "f", Seq(0.708, 0.707)), (51L, "g", Seq(-0.7, 0.7))))
    assert(survivors() == Set(6L, 19L, 9L, 33L, 40L, 51L), survivors())
    // refit crash recovery: simulate a crash AFTER the commit marker
    // (tmp dirs written, swap not run) — the next refit call must
    // complete the interrupted swap instead of refitting again
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(s"$idx/$n")
    val preVecs = spark.read.parquet(s"$idx/vecs")
      .select("id", "batch", "__bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(fs.rename(p("vecs"), p(".vecs_refit")))
    assert(fs.rename(p("_centroids"), p(".centroids_refit")))
    val mk = fs.create(p("_refit_commit"), true)
    mk.write("refit".getBytes("UTF-8")); mk.close()
    graft.operators.Similarity.refitStreamIndex(spark, idx)
    assert(!fs.exists(p("_refit_commit")) && !fs.exists(p(".vecs_refit")))
    assert(spark.read.parquet(s"$idx/vecs")
      .select("id", "batch", "__bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet == preVecs)
  }

  test("YAML streaming curation rank_by quality: the intra-batch minhash " +
    "survivor is the batch stage's highest-quality pick, not min-id") {
    import graft.etl.{CurationStages, PipelineConfig, PipelineRunner}
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega ant bee cat dog elk fox").split(" ").toSeq
    // doc 1 = low lexical diversity (repeated token), doc 2 = clean
    // near-dup with HIGHER id: min-id keeps 1, quality keeps 2
    val docs = Seq(
      (1L, base.updated(29, "alpha").mkString(" ")),
      (2L, base.mkString(" ")),
      (3L, base.map(_.reverse).mkString(" ")))
    def run(rankBy: String): Set[Long] = {
      val src = Files.createTempDirectory("graft_rq_src").toFile.getAbsolutePath
      val out = Files.createTempDirectory("graft_rq_out").toFile.getAbsolutePath
      val ck = Files.createTempDirectory("graft_rq_ck").toFile.getAbsolutePath
      val idx = s"${Files.createTempDirectory("graft_rq_idx")}/index"
      val config = PipelineConfig.parse(
        s"""project: {name: rq}
           |curation:
           |  - id: rq
           |    input: $src
           |    streaming: true
           |    checkpoint: $ck
           |    output: $out
           |    stages:
           |      - {op: minhash_dedup, index_dir: $idx, threshold: "0.5",
           |         rank_by: $rankBy}
           |""".stripMargin)
      docs.toDF("doc_id", "text").write.mode("append").parquet(src)
      val q = PipelineRunner.startCuration(spark, config, "rq")
      q.processAllAvailable(); q.stop()
      spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    assert(run("id") == Set(1L, 3L))      // arrival-order default
    val quality = run("quality")
    assert(quality == Set(2L, 3L), quality)
    // and it IS the batch stage's pick on the same data
    val batchPick = CurationStages.apply(spark, docs.toDF("doc_id", "text"),
        "doc_id", "text",
        graft.etl.CurationStageDef("minhash_dedup", Map("threshold" -> "0.5")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchPick == quality, s"$batchPick vs $quality")
  }

  test("streaming minhash_dedup without index_dir fails at stream " +
    "build: the index-less batch operator is batch-only (its eager " +
    "routing sample + lineage pins would run every micro-batch)") {
    import graft.etl.{CurationStages, CurationPipelineDef, CurationStageDef}
    val stream = spark.readStream.format("rate").load()
      .selectExpr("value AS doc_id", "CAST(value AS STRING) AS text")
    val e = intercept[IllegalArgumentException] {
      CurationStages.runStreaming(spark, stream,
        CurationPipelineDef("noidx", "unused", "doc_id", "text",
          Seq(CurationStageDef("minhash_dedup", Map("threshold" -> "0.5"))),
          outputUri = Some("/tmp/graft_noidx_out"), format = None,
          streaming = true))
    }
    assert(e.getMessage.contains("index_dir"), e.getMessage)
    // with index_dir the same stage list builds fine (not started)
    CurationStages.runStreaming(spark, stream,
      CurationPipelineDef("okidx", "unused", "doc_id", "text",
        Seq(CurationStageDef("minhash_dedup",
          Map("threshold" -> "0.5", "index_dir" -> "/tmp/graft_okidx"))),
        outputUri = Some("/tmp/graft_okidx_out"), format = None,
        streaming = true))
  }
}
