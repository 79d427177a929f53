package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Streaming parity layer (SURVEY.md §2.9) — the reference's
  * fastopendata.streaming mini-engine re-expressed on Structured
  * Streaming, where most of its hand-built machinery is a built-in:
  *
  *  - WatermarkTracker (core.py:162-204)      → withWatermark
  *  - StreamBuffer ring buffer (core.py:83)   → micro-batch engine internals
  *  - DeduplicationStore (core.py:205-230)    → dropDuplicatesWithinWatermark
  *  - Tumbling/sliding windows (windows.py:63-136) → window()
  *  - Session windows + merge (windows.py:137-177) → session_window()
  *  - WindowManager.fire on watermark (windows.py:178-251) → Append mode
  *  - StreamTableJoin (joins.py:19-160)       → stream-static join
  *  - IncrementalView (views.py:21-185)       → foreachBatch upsert into an
  *    in-memory/Delta table + queryable snapshot
  *
  * All helpers take/return DataFrames so batch DataFrames drive the same
  * code in tests (memory sink + processAllAvailable).
  */
object Streams {

  /** Event-time watermark (allowed lateness), default mirroring the
    * reference's 5 s (core.py:178).
    */
  def withLateness(df: DataFrame, tsCol: String,
                   lateness: String = "5 seconds"): DataFrame =
    df.withWatermark(tsCol, lateness)

  /** Exactly-once by record id within the watermark horizon. */
  def dedup(df: DataFrame, idCol: String, tsCol: String,
            lateness: String = "5 seconds"): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(idCol)

  /** Tumbling-window aggregation. */
  def tumbling(df: DataFrame, tsCol: String, size: String,
               keys: Seq[Column], aggs: Seq[Column],
               lateness: String = "5 seconds"): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(Seq(window(col(tsCol), size)) ++ keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding-window aggregation. */
  def sliding(df: DataFrame, tsCol: String, size: String, slide: String,
              keys: Seq[Column], aggs: Seq[Column],
              lateness: String = "5 seconds"): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(Seq(window(col(tsCol), size, slide)) ++ keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session-window aggregation with gap timeout (merging built in). */
  def session(df: DataFrame, tsCol: String, gap: String,
              keys: Seq[Column], aggs: Seq[Column],
              lateness: String = "5 seconds"): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(Seq(session_window(col(tsCol), gap)) ++ keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Stream-static enrichment join (the reference's StreamTableJoin /
    * TableSnapshot: the static side is re-read per micro-batch, so a
    * swapped-in snapshot is picked up automatically).
    */
  def enrich(stream: DataFrame, table: DataFrame, keys: Seq[String],
             joinType: String = "left_outer"): DataFrame =
    stream.join(table, keys, joinType)

  /** Watermarked stream-stream event-time interval join — the
    * STREAMING counterpart of `operators.AsOfJoin`: each left event
    * pairs with the right events of the same key whose timestamp falls
    * in `[leftTs - lookback, leftTs]`. True as-of (most-recent-ONLY)
    * needs an unbounded argmax the streaming engine cannot retract;
    * the bounded-lookback interval join is the standard streaming
    * form, and Spark's native stream-stream join executes it with
    * watermark-bounded state eviction on both sides — state is
    * O(lookback + watermark) per key, not O(stream).
    *
    * `joinType` inner or left_outer (outer emission waits for the
    * watermark to close the match window, per engine semantics).
    * Left/right timestamp columns must be distinctly named (the join
    * output carries both sides' columns).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, lookback: String,
                   watermark: String = "30 seconds",
                   joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "interval join needs at least one equi-key")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTs) <= l(leftTs) &&
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $lookback")
    val joined = l.join(r, cond, joinType)
    // keys are emitted once (left side); the right copies are dropped
    keys.foldLeft(joined)((df, k) => df.drop(r(k)))
  }

  /** Incremental materialized view: each micro-batch is upserted by key
    * into a hash-bucketed parquet store, queryable via `snapshot`. The
    * changelog semantics of the reference's IncrementalView
    * (views.py:21-185) map to Update output mode + per-batch keyed merge.
    *
    * State lives entirely in executor-written parquet — never on the
    * driver heap — and the per-batch write cost is O(delta), not O(state):
    * rows are bucketed by `pmod(hash(key), numBuckets)` and a micro-batch
    * rewrites ONLY the buckets its keys hash into. A tiny driver-side
    * manifest (bucket → directory, at most `numBuckets` entries) plays
    * the role of Delta's transaction log: committing a batch atomically
    * swaps the touched buckets' entries to the freshly-written delta
    * directory while untouched buckets keep pointing at their existing
    * files, which are never re-read or re-written. This is the same
    * file-pruning shape Delta's MERGE INTO produces, without requiring
    * Delta on the classpath.
    *
    * Reader safety: a `snapshot` is a lazy DataFrame pinned to the file
    * paths of the manifest current at call time. Retention keeps every
    * file referenced by the current OR the immediately-previous manifest,
    * so a snapshot taken before a batch remains executable after it; only
    * files last referenced two versions ago are pruned.
    */
  final class IncrementalView(keyCols: Seq[String],
                              numBuckets: Int = 64,
                              storeDir: String =
                                java.nio.file.Files.createTempDirectory("graft_iv")
                                  .toFile.getAbsolutePath) {
    @volatile private var version = -1
    // version -> (bucket -> leaf directory holding that bucket's rows)
    private var manifests = Map.empty[Int, Map[Int, String]]
    private def deltaDir(v: Int) = s"$storeDir/delta_v$v"
    private def bucketExpr: Column =
      pmod(hash(keyCols.map(col): _*), lit(numBuckets))

    private[graft] def currentManifest: Map[Int, String] = synchronized {
      if (version < 0) Map.empty else manifests(version)
    }

    def absorb(batch0: DataFrame): Unit = synchronized {
      val spark = batch0.sparkSession
      val batch = batch0.withColumn("__bucket", bucketExpr).persist()
      try {
        // ≤ numBuckets ints — bounded driver action, independent of data size
        val touched =
          batch.select("__bucket").distinct().collect().map(_.getInt(0)).toSet
        if (touched.nonEmpty) {
          val current =
            if (version < 0) Map.empty[Int, String] else manifests(version)
          val existingPaths = touched.toSeq.sorted.flatMap(current.get)
          val merged =
            if (existingPaths.isEmpty) batch
            else spark.read.parquet(existingPaths: _*)
              // partitionBy strips __bucket from the files; re-derive it
              .withColumn("__bucket", bucketExpr)
              .join(batch.select(keyCols.map(col): _*).distinct(),
                    keyCols, "left_anti")
              .unionByName(batch)
          // only partitions present in `merged` — i.e. touched buckets —
          // materialize under the new delta directory
          merged.write.mode("overwrite").partitionBy("__bucket")
            .parquet(deltaDir(version + 1))
          val next = current ++
            touched.map(b => b -> s"${deltaDir(version + 1)}/__bucket=$b")
          version += 1
          manifests += version -> next
          prune(spark)
        }
      } finally { batch.unpersist(); () }
    }

    /** Delete files last referenced two manifests ago (ADVICE: snapshots
      * pinned to the previous version must stay readable).
      */
    private def prune(spark: org.apache.spark.sql.SparkSession): Unit = {
      val live = manifests(version).values.toSet ++
        manifests.getOrElse(version - 1, Map.empty).values.toSet
      val obsolete = manifests.collect {
        case (v, m) if v < version - 1 => m.values
      }.flatten.toSet -- live
      if (obsolete.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(storeDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        obsolete.foreach(p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), true))
      }
      manifests = manifests.filter { case (v, _) => v >= version - 1 }
    }

    /** Attach as a foreachBatch sink on an Update-mode aggregation. */
    def sink(ds: DataFrame): DataStreamWriter[Row] =
      ds.writeStream.outputMode(OutputMode.Update())
        .foreachBatch((batch: DataFrame, _: Long) => absorb(batch))

    def snapshot(spark: org.apache.spark.sql.SparkSession): DataFrame = synchronized {
      require(version >= 0, "IncrementalView: no batch absorbed yet")
      spark.read.parquet(manifests(version).values.toSeq.distinct.sorted: _*)
    }
  }

  /** Cross-batch streaming near-duplicate candidates: the batch
    * MinHash-LSH sketch (Dedup.minHashLshPairs) recast as a stateful
    * stream — band buckets live in keyed executor state
    * (`flatMapGroupsWithState`), so a document is checked against every
    * previously-seen occupant of its LSH buckets no matter how many
    * micro-batches ago they arrived. Emits one `(id1, id2, band)` row
    * per bucket collision with id1 < id2; a pair colliding in several
    * bands repeats with distinct `band` values (at-least-once by
    * design — downstream dedup is one `dropDuplicates(id1, id2)`).
    *
    * Scale: state is partitioned by (band, bucket-key) — the same short
    * 64-bit key the batch join shuffles on — and each bucket's occupant
    * list is capped at `maxBucket` ids (an overflowing bucket means a
    * degenerate pile of near-identical documents; the cap bounds state
    * while keeping every pair against the first `maxBucket`
    * representatives). Signatures here use the per-row interpreted
    * expression, fine at streaming rates; a bulk backfill should run
    * the batch operator instead.
    */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 3, numHashes: Int = 16,
                    bands: Int = 8, maxBucket: Int = 64,
                    stateTtl: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val rowsPerBand = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.Dedup
    val sig = docs
      .select(col(idCol).cast("long").as("id"), Dedup.tokens(col(textCol)).as("toks"))
      .select(col("id"), Dedup.shinglesFromTokens(col("toks"), shingleSize).as("sh"))
      .select(col("id"), Dedup.minHashSignature(col("sh"), numHashes).as("sig"))
    val banded = sig.select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bkey"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .as[(Long, Int, Long)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded.groupByKey { case (_, band, bkey) => (band, bkey) }
      .flatMapGroupsWithState[Seq[Long], (Long, Long, Int)](
        OutputMode.Append(), timeoutConf) {
        case (_, _, state: GroupState[Seq[Long]]) if state.hasTimedOut =>
          // TTL eviction: bucket went cold — docs arriving after the
          // window can no longer pair with it (bounded-state trade)
          state.remove()
          Iterator.empty
        case ((band, _), rows, state: GroupState[Seq[Long]]) =>
          val seen = state.getOption.getOrElse(Seq.empty)
          // admit only up to the cap — ids beyond it are neither stored
          // NOR paired, so one degenerate batch of near-identical docs
          // emits at most maxBucket² pairs instead of O(batch²) (the cap
          // bounds the emission, not just the retained state)
          val fresh = rows.map(_._1).toSeq.distinct.sorted
            .filterNot(seen.contains)
            .take(math.max(0, maxBucket - seen.size))
          // each unordered pair once: a new id pairs with every EARLIER
          // occupant (all of `seen`, plus smaller ids of this batch)
          val pairs = fresh.flatMap { n =>
            (seen ++ fresh.filter(_ < n)).filter(_ != n)
              .map(p => (math.min(p, n), math.max(p, n), band))
          }
          if (fresh.nonEmpty) state.update(seen ++ fresh)
          if (state.exists) stateTtl.foreach(state.setTimeoutDuration)
          pairs.iterator
      }
      .toDF("id1", "id2", "band")
  }

  /** Streaming first-touch funnel — the per-user STATE-MACHINE
    * counterpart of the batch `q27_funnel` chains: state per user is
    * (stage reached, timestamp of the event that reached it); each
    * micro-batch replays the user's new events in timestamp order and
    * advances while the next stage's event falls strictly after the
    * current stage's event and within `windowSec` of it. Emits one
    * (user_id, stage, step, tsl) row per ADVANCEMENT — append-mode
    * monotone, never retracted.
    *
    * Semantics note (the documented streaming trade): events are
    * processed AT ARRIVAL — an out-of-order earlier occurrence
    * arriving after an advancement cannot retract it (first-touch at
    * arrival). The batch operator over the full history is the
    * reconciliation form. State is one (int, long) per user —
    * partitioned on the user key, bounded by the live-user count; set
    * `stateTtl` (processing-time eviction after that long of user
    * inactivity) when the key space is unbounded — an evicted user who
    * returns restarts the funnel from stage 0.
    */
  def funnel(events: DataFrame, stages: Seq[String],
             windowSec: Long,
             stateTtl: Option[String] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val stageList = stages.toIndexedSeq
    events.select(col("user_id").cast("long").as("uid"),
        col("event_type").as("et"), col("ts").cast("long").as("tsl"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), (Long, Int, String, Long)](
        OutputMode.Append(),
        if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout()) {
        case (_, _, state: GroupState[(Int, Long)]) if state.hasTimedOut =>
          state.remove() // inactive user evicted; a return restarts
          Iterator.empty
        case (uid, rows, state: GroupState[(Int, Long)]) =>
          var (stage, lastTs) = state.getOption.getOrElse((0, Long.MinValue))
          val out = scala.collection.mutable.Buffer.empty[(Long, Int, String, Long)]
          rows.toSeq.sortBy(_._3).foreach { case (_, et, tsl) =>
            if (stage < stageList.size && et == stageList(stage) &&
                (stage == 0 || (tsl > lastTs && tsl <= lastTs + windowSec))) {
              stage += 1
              lastTs = tsl
              out += ((uid, stage, et, tsl))
            }
          }
          if (out.nonEmpty) state.update((stage, lastTs))
          if (state.exists) stateTtl.foreach(state.setTimeoutDuration)
          out.iterator
      }
      .toDF("user_id", "stage", "step", "tsl")
  }

  /** Streaming query-performance regression alerts — the stateful
    * stream counterpart of [[graft.ops.QueryAnalytics.regressions]]
    * (reference regression.py `RegressionDetector.ingest`, which pulls
    * the collector incrementally — exactly a stream): audit records
    * arrive as a stream of (label, planHash, tsMillis, durationMs,
    * status); per-fingerprint state is the reference's
    * deque(maxlen = baseline+recent) of latencies, and a batch that
    * leaves a fingerprint in regression (recent-window mean ≥
    * threshold × baseline-window mean) emits ONE alert row with the
    * same fields and rounding as the batch operator — spec-asserted
    * EQUAL to running the batch `regressions` over the concatenated
    * history.
    *
    * Scale shape: state is (baseline+recent) doubles per live
    * fingerprint, partitioned on the fingerprint key — the natural
    * mapGroupsWithState profile; a service with unbounded one-off
    * query texts should fingerprint by plan hash (the default when
    * present) AND set `stateTtl` (e.g. "30 days"): a processing-time
    * timeout that evicts a fingerprint's window after that long with
    * no new observations, so one-off queries cannot leak state on a
    * years-long stream. An evicted fingerprint that returns starts a
    * fresh window — it must re-fill baseline+recent before it can
    * alert again, exactly as a brand-new query would.
    *
    * Engine note for all three TTL'd detectors here: with
    * ProcessingTimeTimeout enabled Structured Streaming schedules
    * batches CONTINUOUSLY (timeouts must be able to fire without new
    * data — shouldRunAnotherBatch is unconditionally true), so pair
    * `stateTtl` with a real trigger interval
    * (`Trigger.ProcessingTime(...)`). Neither `processAllAvailable`
    * nor `Trigger.AvailableNow` ever observes such a stream as done —
    * drive it live and watch the sink.
    */
  def regressionAlerts(audit: DataFrame,
                       baselineWindow: Int = 20, recentWindow: Int = 5,
                       thresholdRatio: Double = 2.0,
                       criticalRatio: Double = 5.0,
                       stateTtl: Option[String] = None): DataFrame = {
    require(baselineWindow >= 1 && recentWindow >= 1,
      "windows must be >= 1 observation")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = audit.sparkSession
    import spark.implicits._
    val keep = baselineWindow + recentWindow
    def r2(x: Double): Double = math.round((x + 1e-11) * 100).toDouble / 100
    val keyed = audit.filter(col("status") === "success")
      .select(
        graft.ops.QueryAnalytics.fingerprintCol(col("label"), col("planHash"))
          .as("fp"),
        col("label"), col("tsMillis").cast("long").as("ts"),
        col("durationMs").cast("double").as("ms"))
      .as[(String, String, Long, Double)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Vector[(Long, Double)],
        (String, String, Double, Double, Double, String, Long)](
        OutputMode.Append(), timeoutConf) {
        case (_, _, state: GroupState[Vector[(Long, Double)]])
            if state.hasTimedOut =>
          // TTL eviction: the fingerprint went stale — drop its window
          state.remove()
          Iterator.empty
        case (fp, rows, state: GroupState[Vector[(Long, Double)]]) =>
          var hist = state.getOption.getOrElse(Vector.empty)
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          var alert: Option[(String, String, Double, Double, Double, String, Long)] = None
          sorted.foreach { case (_, label, ts, ms) =>
            hist = (hist :+ ((ts, ms))).takeRight(keep) // deque(maxlen)
            if (hist.size == keep) {
              val base = hist.take(baselineWindow).map(_._2).sum / baselineWindow
              val recent = hist.takeRight(recentWindow).map(_._2).sum / recentWindow
              if (base > 0 && recent / base >= thresholdRatio)
                alert = Some((fp, label, r2(base), r2(recent),
                  r2(recent / base),
                  if (recent / base >= criticalRatio) "critical" else "warning",
                  ts))
              else alert = None // recovered within the batch — cleared
            }
          }
          state.update(hist)
          stateTtl.foreach(state.setTimeoutDuration)
          alert.iterator
      }
      .toDF("fingerprint", "sample_label", "baseline_ms", "current_ms",
        "ratio", "severity", "last_seen_ms")
  }

  /** Convenience: run a streaming DataFrame to completion against the
    * currently-available input (memory sink) and return the result —
    * the test harness pattern for batch-driving streaming plans.
    */
  def runToMemory(ds: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = ds.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    ds.sparkSession.table(name)
  }
}
