package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.ListenerBridge

import graft.operators.{Dedup, IndexStore}

/** The index-at-rest store: the `_meta` record read with no Spark job, the
  * crash window of its write, the loud failure on layouts from before
  * the record, and reads that never hand Spark an `_`-prefixed root.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "an indexed corpus document about distributed engines"))

  private def tmpIndex(name: String): String =
    s"${Files.createTempDirectory(name)}/index"

  private def put(idx: String, rows: Seq[(Long, String)], batch: Long): Unit =
    Dedup.minHashIndexPut(spark, idx, rows.toDF("doc_id", "text"), "doc_id",
      "text", batch, shingleSize = 2, numHashes = 32, bands = 16)

  private def hits(idx: String, text: String): Set[Long] =
    Dedup.minHashIndexLookup(spark, idx, Seq((99L, text)).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(_.getLong(1)).toSet

  test("reading an index record runs no Spark job") {
    val idx = tmpIndex("graft_is_jobs")
    put(idx, docs, batch = 0L)
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    }
    assert(ListenerBridge.waitUntilEmpty(spark, 10000L))
    spark.sparkContext.addSparkListener(listener)
    val rec = try {
      val r = IndexStore.open(spark, idx, "minhash")
      assert(ListenerBridge.waitUntilEmpty(spark, 10000L))
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs == 0, s"opening the record ran $jobs jobs")
    val r = rec.getOrElse(fail("no record after a landed put"))
    assert(r.kind == "minhash")
    assert((r.int("shingle_size"), r.int("num_hashes"), r.int("bands")) == (2, 32, 16))
    assert(r.schemas.keySet == Set("bands", "sigs"), r.schemas)
    assert(r.schemas("sigs").fieldNames.toSeq == Seq("id", "sig", "batch"))
  }

  test("a record write cut before its rename reads as absent, and the next " +
    "put completes it") {
    val idx = tmpIndex("graft_is_cut")
    put(idx, docs.take(1), batch = 0L)
    // the cut: batch 0's components landed, the record's temp file was
    // written (partially) but never renamed into place
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_meta"), false))
    val tmp = fs.create(new org.apache.hadoop.fs.Path(s"$idx/.meta_tmp"), true)
    try tmp.write("kind=minh".getBytes("UTF-8")) finally tmp.close()
    assert(IndexStore.open(spark, idx, "minhash").isEmpty)
    assert(Dedup.minHashIndexMeta(spark, idx).isEmpty)
    // the next put writes its batch and the record; batch 0's rows
    // become visible with it
    put(idx, docs.drop(1), batch = 1L)
    assert(IndexStore.open(spark, idx, "minhash").isDefined)
    assert(hits(idx, docs.head._2) == Set(1L))
    assert(hits(idx, docs(1)._2) == Set(2L))
  }

  test("opening an index written before the record fails and names the " +
    "path: a parquet _meta, or batch-less component files") {
    // a parquet _meta beside flat band=* dirs (the old minHashIndexWrite)
    val old = tmpIndex("graft_is_old")
    Seq((2, 32, 16, 1L)).toDF("shingle_size", "num_hashes", "bands", "epoch")
      .write.parquet(s"$old/_meta")
    Seq((0, 7L, 1L)).toDF("band", "bkey", "id")
      .write.partitionBy("band").parquet(s"$old/bands")
    val e1 = intercept[IllegalArgumentException](
      hits(old, "the quick brown fox"))
    assert(e1.getMessage.contains(old) && e1.getMessage.contains("rebuild"),
      e1.getMessage)
    // flat band=* dirs with no _meta at all
    val flat = tmpIndex("graft_is_flat")
    Seq((0, 7L, 1L)).toDF("band", "bkey", "id")
      .write.partitionBy("band").parquet(s"$flat/bands")
    val e2 = intercept[IllegalArgumentException](
      IndexStore.open(spark, flat, "minhash"))
    assert(e2.getMessage.contains(flat) && e2.getMessage.contains("band="),
      e2.getMessage)
    // a batch-less exact key index (plain key parquet)
    val keys = tmpIndex("graft_is_keys")
    Seq("a", "b").toDF("k").write.parquet(s"$keys/keys")
    val e3 = intercept[IllegalArgumentException](
      IndexStore.open(spark, keys, "exact"))
    assert(e3.getMessage.contains(keys), e3.getMessage)
  }

  // the WARN Spark logs for an `_`-prefixed root path starts "All paths
  // were ignored"; the test name avoids the phrase so a grep of a test
  // log counts only real WARNs
  test("a MinHash probe and a side-table read log no ignored-paths WARN") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val idx = tmpIndex("graft_is_warn")
    put(idx, docs, batch = -1L)
    put(idx, Seq((3L, "a later crawled page about something else")), batch = 0L)
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(s"$idx/_side")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-index-store-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    def ignored(): Int = lines.toArray.count(_.toString.contains("All paths were ignored"))
    try {
      assert(hits(idx, docs.head._2) == Set(1L))
      assert(Dedup.minHashIndexLookup(spark, idx,
        Seq((9L, "a later crawled page about something else")).toDF("doc_id", "text"),
        "doc_id", "text", excludeBatchFrom = Some(1L)).count() == 1L)
      // a side table under an `_`-prefixed name reads from its leaf files
      assert(IndexStore.side(spark, idx, "_side").count() == 3L)
      assert(ignored() == 0, lines)
      // the capture itself works: it sees a WARN logged meanwhile
      LogManager.getLogger("graft.IndexStoreSpec").warn("appender control line")
      assert(lines.toArray.exists(_.toString.contains("appender control line")),
        "the appender saw no WARN")
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }
}
