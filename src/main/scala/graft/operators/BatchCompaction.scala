package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance compaction for the batch-partitioned directories the
  * streaming curation loop leaves at rest — curated output, key /
  * MinHash / vector indexes, spend ledgers. Exactly-once writes are
  * one `batch=N` partition per micro-batch by construction
  * ([[graft.etl.CurationStages.runStreaming]]), so a months-long
  * crawl accrues one partition — often one small file — per batch,
  * and every probe's `batch < batchId` scan pays file listing + open
  * costs LINEAR in the batch count. Compaction rewrites all
  * partitions with `batch <= upTo` into the single consolidated
  * partition `batch=-1`, which sorts BEFORE every real micro-batch
  * id: the as-of contract (`batch < batchId`) still sees exactly the
  * same rows, and the consolidated tag merges with the seed
  * convention (the whole corpus of a `Dedup.minHashIndexWrite` build
  * lands under `batch=-1`). Only batch-partitioned directories are
  * rewritten: an index's `_meta` record and its side tables
  * (`_centroids`, `_codebook`, `_drift_baseline`) are never touched,
  * and the record's component schemas stay valid because compaction
  * keeps every column and partition column ([[IndexStore]]).
  *
  * Crash safety: the consolidated rows are fully written to a hidden
  * `.compact_tmp` (invisible to parquet discovery) BEFORE the
  * `_compact_commit` marker appears; the old partitions are deleted
  * and the tmp renamed to `batch=-1` only after. A crash anywhere is
  * repaired by the recovery pass every later compaction and every
  * index read ([[IndexStore.read]]) runs first: marker + tmp → redo the
  * delete/rename; marker alone → the rename already happened, drop
  * the marker; tmp alone → a pre-commit crash, drop the tmp. Readers
  * between the commit marker and the rename see missing data, so —
  * like catalog `prune` — compaction assumes a single administrative
  * caller running while the owning stream is STOPPED.
  *
  * Replay contract: compact only batches whose checkpoint commits are
  * durable (they can never replay). A replayed batch ABOVE `upTo`
  * stays exactly-once: its probe reads `batch < batchId`, which
  * includes the consolidated `batch=-1` rows and still excludes its
  * own partition; its dynamic partition overwrite targets its own
  * live `batch=N` directory, never the consolidated one.
  *
  * Scale shape: one distributed read of the `<= upTo` slice and one
  * distributed write (`targetFiles` output tasks; residual partition
  * columns — `band`, `__bucket` — are preserved so partition pruning
  * survives compaction). Nothing collects to the driver.
  */
object BatchCompaction {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Count non-hidden data files under `d` (the before/after stat).
    * Hidden = underscore/dot prefix WITHOUT an `=` — Spark's own
    * discovery rule (PartitioningAwareFileIndex): a partition
    * directory like `__bucket=4` is DATA, and treating it as hidden
    * here made `compactDir` see `before == 0` and early-return — vec
    * indexes (the one component partitioned on an underscore-named
    * column) were silently never compacted (round-16 find; the drift
    * baseline spec caught it).
    */
  private def dataFileCount(fs: FileSystem, d: Path): Long = {
    def hidden(n: String) =
      (n.startsWith("_") || n.startsWith(".")) && !n.contains("=")
    def walk(p: Path): Long = fs.listStatus(p).map { st =>
      val n = st.getPath.getName
      if (hidden(n)) 0L
      else if (st.isDirectory) walk(st.getPath)
      else 1L
    }.sum
    if (fs.exists(d)) walk(d) else 0L
  }

  private def deleteBatches(fs: FileSystem, d: Path, batchCol: String,
                            upTo: Long): Unit =
    fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(batchCol + "=") &&
          n.substring(batchCol.length + 1).toLongOption.exists(_ <= upTo))
        fs.delete(st.getPath, true)
    }

  /** Rename `src` to `dst` and VERIFY it took: `FileSystem.rename`
    * reports failure as a `false` return (object-store semantics, dst
    * oddities), and an unchecked false here is how the swap protocol
    * loses data — a later recovery that sees the commit marker gone
    * (or, worse, a tmp with no marker) classifies the still-unrenamed
    * tmp as garbage and deletes the only copy of the consolidated
    * rows. Failing loudly keeps the marker in place, so recovery can
    * redo the swap.
    */
  private[graft] def renameOrThrow(fs: FileSystem, src: Path,
                                   dst: Path): Unit = {
    if (!fs.rename(src, dst) || !fs.exists(dst))
      throw new java.io.IOException(
        s"rename $src -> $dst failed (filesystem returned false or the " +
          "destination is missing); the commit marker is left in place " +
          "so a recovery pass can redo the swap")
  }

  /** Repair an interrupted compaction of `dir` (idempotent; no-op on a
    * healthy directory). Run automatically at the start of every
    * [[compactDir]].
    */
  def recoverDir(spark: SparkSession, dir: String, batchCol: String): Unit = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return
    val marker = new Path(d, "_compact_commit")
    val tmp = new Path(d, ".compact_tmp")
    if (fs.exists(marker)) {
      val upTo = {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
      if (fs.exists(tmp)) {
        deleteBatches(fs, d, batchCol, upTo)
        renameOrThrow(fs, tmp, new Path(d, s"$batchCol=-1"))
      }
      // the marker falls only after the consolidated partition is
      // verifiably in place — a false rename above throws with the
      // marker intact, so the next recovery retries the swap instead
      // of classifying the tmp as pre-commit garbage
      fs.delete(marker, false)
      ()
    } else if (fs.exists(tmp)) {
      fs.delete(tmp, true) // pre-commit crash: the tmp is garbage
      ()
    }
  }

  /** Compact one batch-partitioned directory (see the class doc).
    * Returns (data files before, data files after). A directory with
    * no `batchCol` partitions — or nothing at/below `upTo` — is left
    * untouched.
    */
  def compactDir(spark: SparkSession, dir: String, batchCol: String,
                 upTo: Long, residualPartitions: Seq[String] = Nil,
                 targetFiles: Int = 1): (Long, Long) = {
    require(upTo >= -1L, s"upTo must be >= -1, got $upTo")
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return (0L, 0L)
    recoverDir(spark, dir, batchCol)
    val before = dataFileCount(fs, d)
    if (before == 0L) return (0L, 0L)
    val all = spark.read.parquet(dir)
    if (!all.columns.contains(batchCol)) return (before, before)
    val oldRows = all.filter(col(batchCol) <= upTo)
      .select(all.columns.filterNot(_ == batchCol).map(col).toSeq: _*)
    if (oldRows.isEmpty) return (before, before)
    val shaped =
      if (residualPartitions.isEmpty) oldRows.coalesce(targetFiles)
      else oldRows.repartition(targetFiles,
        residualPartitions.map(col): _*)
    val tmp = new Path(d, ".compact_tmp")
    val w = shaped.write.mode("overwrite")
    (if (residualPartitions.nonEmpty) w.partitionBy(residualPartitions: _*)
     else w).parquet(tmp.toString)
    // the commit point: from here recovery completes the swap
    val marker = new Path(d, "_compact_commit")
    val out = fs.create(marker, true)
    try out.write(upTo.toString.getBytes("UTF-8")) finally out.close()
    deleteBatches(fs, d, batchCol, upTo)
    renameOrThrow(fs, tmp, new Path(d, s"$batchCol=-1"))
    fs.delete(marker, false)
    (before, dataFileCount(fs, d))
  }

  /** Every batch-partitioned component a streaming dedup index can
    * have, with its residual partition columns: exact-stage `keys`,
    * minhash `bands`/`sigs`, vector `vecs`, and the fuzzy arm's
    * deletion-hood keys plus its nested char-bigram sketch (a full
    * minHashIndexPut layout).
    */
  private val indexComponents: Seq[(String, Seq[String])] = Seq(
    ("keys", Seq.empty[String]),
    ("bands", Seq("band")),
    ("sigs", Seq.empty[String]),
    ("vecs", Seq("__bucket")),
    ("hood", Seq.empty[String]),
    ("sketch/bands", Seq("band")),
    ("sketch/sigs", Seq.empty[String]))

  /** Compact every batch-partitioned component of a streaming dedup
    * index-at-rest up to and including batch `upTo`. Returns one stats
    * row per component present.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   upTo: Long, targetFiles: Int = 1): DataFrame = {
    import spark.implicits._
    val rows = indexComponents.flatMap { case (name, residual) =>
      val p = new Path(s"$indexDir/$name")
      if (fsOf(spark, p).exists(p)) {
        val (b, a) = compactDir(spark, s"$indexDir/$name", "batch",
          upTo, residual, targetFiles)
        Some((name, b, a))
      } else None
    }
    rows.toDF("component", "files_before", "files_after")
  }

  /** Compact a streaming curation OUTPUT directory (partitioned by
    * `batch_id`) or a spend LEDGER (partitioned by `batch` — pass
    * `batchCol = "batch"`). Row content is preserved exactly; only
    * the partition tag consolidates to -1, so `batch < batchId`
    * as-of reads and ledger sums are unchanged.
    */
  def compactOutput(spark: SparkSession, outDir: String, upTo: Long,
                    batchCol: String = "batch_id",
                    targetFiles: Int = 1): DataFrame = {
    import spark.implicits._
    val (b, a) = compactDir(spark, outDir, batchCol, upTo,
      targetFiles = targetFiles)
    Seq((outDir, b, a)).toDF("dir", "files_before", "files_after")
  }
}
