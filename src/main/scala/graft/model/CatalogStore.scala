package graft.model

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Durable catalog snapshots: save/load a [[GraphCatalog]] to a
  * versioned parquet directory with an atomic `_current` pointer —
  * the durable arm of the mutation story (SURVEY §1.3). In-memory
  * commits stay what they are (immutable-DataFrame reference swaps,
  * the reference's shadow-write transaction shape,
  * relational_models.py:589-708); `save` is the explicit durability
  * point, the public-parts equivalent of a table-format commit
  * (Delta/Iceberg are out of reach offline — a versioned-directory
  * swap gives the same crash story for a catalog-sized graph).
  *
  * Layout under `dir`:
  * {{{
  *   _claim_v00001                    (exclusive writer claim, created first)
  *   v00001/entity_<label>/...parquet
  *   v00001/rel_<type>/...parquet
  *   v00001/_manifest/...parquet      (registration metadata + bucket specs)
  *   _current                         (one line: the live version)
  * }}}
  *
  * Crash safety: a new version is fully written BEFORE the pointer
  * moves, and the pointer move is a FileContext rename with OVERWRITE
  * (atomic on HDFS and local filesystems) — a reader never observes a
  * half-written version, and a crash mid-save leaves the previous
  * `_current` intact (the orphaned version directory is garbage, not
  * corruption). Old versions are retained for time-travel/debugging;
  * `prune` drops all but the live one.
  *
  * Concurrent writers: the FIRST thing `save` does is claim its
  * version number exclusively — a sibling `_claim_v0000N` marker
  * created WITHOUT the OVERWRITE flag, which is an atomic
  * create-or-fail on HDFS and local filesystems. Two savers that race
  * to the same `max+1` cannot both win: the loser throws
  * `ConcurrentModificationException` before writing a single data
  * file, instead of silently interleaving parquet overwrites inside
  * one version directory. A saver that starts AFTER another's claim
  * sees the claim in the listing (version numbering takes the max
  * over version directories AND claim markers) and takes the next
  * number — both succeed, last pointer move wins (the other snapshot
  * stays retained). A crashed claimer therefore blocks nothing: later
  * savers number past its claim, `load` refuses the unfinished
  * version with a clear error, and `prune` collects it. `prune`
  * itself assumes a single administrative caller — it deletes every
  * non-current version, including one a concurrent saver is
  * mid-writing.
  *
  * Pruned readers: a time-travel `load(dir, Some("v00001"))` of a
  * version that `prune` removed fails with an error naming the
  * retained versions — never a bare FileNotFoundException from deep
  * inside a scan.
  *
  * OPEN readers vs prune: a loaded catalog holds LAZY parquet plans
  * into its version directory — pruning that version would fail those
  * plans mid-query with a raw task-level FileNotFoundException. So
  * `load` takes a READ LEASE (an empty `_lease_<version>_<uuid>`
  * marker) and `prune` REFUSES to delete a leased version; call
  * [[GraphCatalog.close]] when done querying to release it. The
  * escape hatches, in order of preference: `retainLast` (keep the k
  * newest finished versions regardless), `graft.catalog.lease.ttl.ms`
  * (leases older than the TTL are treated as crashed readers;
  * 0 = never expire, the default), and `prune(force = true)` (ignore
  * leases — an overridden reader dies on deleted files mid-scan, the
  * documented trade). A reader on a read-only filesystem that cannot
  * create the marker proceeds UNLEASED and gets no protection.
  *
  * Bucket layout survives the round trip: a table registered from
  * [[graft.etl.BucketedGraphStore]] carries its bucket spec in the
  * scan; `save` detects it, writes the snapshot table BUCKETED (same
  * columns/count/sort), records the spec in the manifest, and `load`
  * re-registers the files as an external bucketed table — so the
  * zero-exchange joins the bucketed store exists for are preserved
  * across save/restore instead of silently degrading to plain parquet.
  *
  * Scale: each table is one distributed parquet write — the snapshot
  * never collects data to the driver; only the manifest (a few rows of
  * metadata) is small by construction.
  */
object CatalogStore {

  private val VersionRe = "^v(\\d{5,})$".r
  private val ClaimRe = "^_claim_v(\\d{5,})$".r

  /** Path-safe encoding for labels/types (they may carry characters
    * meaningful to filesystems or URIs).
    */
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private def fc(spark: SparkSession, dir: String): FileContext =
    FileContext.getFileContext(new Path(dir).toUri,
      spark.sparkContext.hadoopConfiguration)

  private def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionRe(n) => Some(n.toLong)
          case _            => None
        }
    }.flatten
  }

  /** Version numbers other savers have CLAIMED (marker files), whether
    * or not their version directories exist yet — counted into the
    * next-version computation so a crashed or in-flight claimer is
    * numbered past, never collided with or deadlocked on.
    */
  private def listClaims(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isFile =>
        st.getPath.getName match {
          case ClaimRe(n) => Some(n.toLong)
          case _          => None
        }
    }.flatten
  }

  private def readPointer(spark: SparkSession, dir: String): Option[String] = {
    val p = new Path(s"$dir/_current")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        Option.when(s.nonEmpty)(s)
      } finally in.close()
    }
  }

  /** The storage-level bucket spec under a frame, if it is (a
    * projection/alias of) a bucketed-table scan AND the bucket/sort
    * columns all survive into the frame's output — the guard keeps a
    * join or rename from inheriting a spec over columns it no longer
    * carries.
    */
  private def bucketSpecOf(df: DataFrame)
  : Option[(Seq[String], Int, Seq[String])] =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.bucketSpec
        case _                   => None
      }
    }.flatten
      .filter(bs => (bs.bucketColumnNames ++ bs.sortColumnNames)
        .forall(df.columns.contains))
      .map(bs => (bs.bucketColumnNames.toSeq, bs.numBuckets,
        bs.sortColumnNames.toSeq))

  /** Write one snapshot table: plain parquet, or — when the source
    * frame is a bucketed scan — a bucketed external write at the same
    * path (a temp session-catalog entry carries the spec through
    * `saveAsTable`; dropping the EXTERNAL entry keeps the files, whose
    * names encode the bucket ids). Returns the manifest's
    * (bucket_cols, num_buckets, sort_cols) triple, comma-joined and
    * URL-encoded per name, nulls for the plain case.
    */
  private def writeTable(spark: SparkSession, df: DataFrame, path: String)
  : (String, String, String) =
    bucketSpecOf(df) match {
      case Some((cols, n, sortCols)) =>
        val tmp = "graft_snapshot_write_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val w0 = df.write.format("parquet").mode("overwrite")
          .bucketBy(n, cols.head, cols.tail: _*)
        val w1 =
          if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*)
          else w0
        w1.option("path", path).saveAsTable(tmp)
        spark.sql(s"DROP TABLE `$tmp`")
        (cols.map(enc).mkString(","), n.toString,
          if (sortCols.isEmpty) null else sortCols.map(enc).mkString(","))
      case None =>
        df.write.mode("overwrite").parquet(path)
        (null, null, null)
    }

  /** Re-register snapshot files carrying a bucket spec as an external
    * bucketed table (bucket metadata lives in the session catalog, not
    * the files — a plain parquet read would silently drop the
    * zero-exchange property the spec exists for). The table name is
    * deterministic per (dir, version, table) so a re-load reuses or
    * refreshes the same entry rather than leaking one per call.
    */
  private def readBucketed(spark: SparkSession, path: String,
                           bucketCols: String, numBuckets: String,
                           sortCols: String): DataFrame = {
    val cols = bucketCols.split(",").toSeq
      .map(java.net.URLDecoder.decode(_, "UTF-8"))
    val sorts = Option(sortCols).toSeq.flatMap(_.split(",").toSeq)
      .map(java.net.URLDecoder.decode(_, "UTF-8"))
    val name = "graft_snapshot_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(path).toLong & 0xffffffffL)
    val ddl = spark.read.parquet(path).schema.toDDL
    val clustered = cols.map(c => s"`$c`").mkString(", ")
    val sorted =
      if (sorts.isEmpty) ""
      else s" SORTED BY (${sorts.map(c => s"`$c`").mkString(", ")})"
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(s"CREATE TABLE `$name` ($ddl) USING PARQUET " +
      s"CLUSTERED BY ($clustered)$sorted INTO ${numBuckets.toInt} BUCKETS " +
      s"LOCATION '$path'")
    spark.table(name)
  }

  /** Write every registered table plus the registration manifest under
    * a fresh version directory, then atomically move the `_current`
    * pointer to it. Returns the version name (e.g. "v00002").
    *
    * Throws `ConcurrentModificationException` if another saver claimed
    * the same version number first (see the class doc's concurrency
    * contract) — nothing is written in that case.
    */
  def save(spark: SparkSession, catalog: GraphCatalog, dir: String): String = {
    val next =
      (listVersions(spark, dir) ++ listClaims(spark, dir) :+ 0L).max + 1
    saveAs(spark, catalog, dir, f"v$next%05d")
  }

  /** The claim-then-write body of [[save]] at an explicit version —
    * package-private so the concurrency spec can drive two savers into
    * the same number deterministically.
    */
  private[graft] def saveAs(spark: SparkSession, catalog: GraphCatalog,
                            dir: String, version: String): String = {
    import spark.implicits._
    val vdir = s"$dir/$version"
    // claim the version EXCLUSIVELY before writing anything: create
    // without OVERWRITE is an atomic create-or-fail, so of two savers
    // racing to the same number exactly one proceeds
    val ctx = fc(spark, dir)
    try {
      val out = ctx.create(new Path(s"$dir/_claim_$version"),
        java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      out.close()
    } catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException) =>
        throw new java.util.ConcurrentModificationException(
          s"catalog version $version at $dir is already claimed by a " +
            "concurrent saver; retry to take the next version number", e)
    }
    val entityRows = catalog.entityDefs.map { e =>
      val (bc, nb, sc) = writeTable(spark, e.df, s"$vdir/entity_${enc(e.label)}")
      ("entity", e.label, e.idCol, null: String, null: String,
        null: String, null: String, s"entity_${enc(e.label)}", bc, nb, sc)
    }
    val relRows = catalog.relationshipDefs.map { r =>
      val (bc, nb, sc) = writeTable(spark, r.df, s"$vdir/rel_${enc(r.relType)}")
      ("relationship", r.relType, r.idCol.orNull, r.srcCol, r.dstCol,
        r.srcLabel.orNull, r.dstLabel.orNull, s"rel_${enc(r.relType)}",
        bc, nb, sc)
    }
    (entityRows ++ relRows)
      .toDF("kind", "name", "id_col", "src_col", "dst_col",
        "src_label", "dst_label", "rel_path",
        "bucket_cols", "num_buckets", "sort_cols")
      .coalesce(1).write.mode("overwrite").parquet(s"$vdir/_manifest")
    // pointer move LAST, and atomically: tmp write + OVERWRITE rename
    val tmp = new Path(s"$dir/_current.tmp")
    val cur = new Path(s"$dir/_current")
    val out = ctx.create(tmp,
      java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(version.getBytes("UTF-8")) finally out.close()
    ctx.rename(tmp, cur, Options.Rename.OVERWRITE)
    version
  }

  /** Load the catalog a snapshot directory points at (`version` to
    * time-travel to a specific retained snapshot). Tables come back as
    * lazy parquet reads — nothing is scanned until a query runs —
    * except bucketed tables, which are re-registered as external
    * bucketed session-catalog tables so their zero-exchange join
    * property survives the round trip.
    */
  def load(spark: SparkSession, dir: String,
           version: Option[String] = None): GraphCatalog = {
    val v = version.orElse(readPointer(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"no catalog snapshot at $dir (missing _current pointer)"))
    val vdir = s"$dir/$v"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(vdir)))
      throw new IllegalArgumentException(
        s"catalog version $v does not exist at $dir (pruned?); retained: " +
          versions(spark, dir).mkString("[", ", ", "]"))
    if (!fs.exists(new Path(s"$vdir/_manifest")))
      throw new IllegalArgumentException(
        s"catalog version $v at $dir was claimed but never completed " +
          "(crashed writer?); load a finished version: " +
          versions(spark, dir).mkString("[", ", ", "]"))
    // read lease FIRST (see the class doc): taken before any table
    // registration so a concurrent prune cannot slip between reading
    // the manifest and the lease landing. Best-effort — a read-only
    // filesystem rejecting the marker create leaves the reader
    // UNLEASED rather than unreadable.
    val lease: Option[Path] =
      try {
        val l = new Path(s"$dir/_lease_${v}_" +
          java.util.UUID.randomUUID().toString.replace("-", ""))
        val out = fs.create(l, false)
        out.close()
        Some(l)
      } catch { case _: java.io.IOException => None }
    try {
    val manifest = graft.operators.IndexStore.side(spark, vdir, "_manifest").collect()
    val cat = new GraphCatalog
    manifest.foreach { m =>
      val kind = m.getAs[String]("kind")
      val name = m.getAs[String]("name")
      val path = s"$vdir/${m.getAs[String]("rel_path")}"
      // pre-bucket-spec manifests (older snapshots) lack the columns
      val bucketCols =
        if (m.schema.fieldNames.contains("bucket_cols"))
          Option(m.getAs[String]("bucket_cols"))
        else None
      val df = bucketCols match {
        case Some(bc) => readBucketed(spark, path, bc,
          m.getAs[String]("num_buckets"), m.getAs[String]("sort_cols"))
        case None => spark.read.parquet(path)
      }
      kind match {
        case "entity" =>
          cat.addEntity(name, df, m.getAs[String]("id_col"))
        case "relationship" =>
          cat.addRelationship(name, df,
            srcCol = m.getAs[String]("src_col"),
            dstCol = m.getAs[String]("dst_col"),
            idCol = Option(m.getAs[String]("id_col")),
            srcLabel = Option(m.getAs[String]("src_label")),
            dstLabel = Option(m.getAs[String]("dst_label")))
        case other =>
          throw new IllegalStateException(s"bad manifest kind: $other")
      }
    }
    lease.foreach(l => cat.releaseLease = () => { fs.delete(l, false); () })
    cat
    } catch {
      case e: Throwable =>
        // a failed load must not leak its lease and block prune forever
        lease.foreach(l => fs.delete(l, false))
        throw e
    }
  }

  /** List retained snapshot versions, oldest first (including any
    * claimed-but-unfinished orphans — `load` distinguishes them).
    */
  def versions(spark: SparkSession, dir: String): Seq[String] =
    listVersions(spark, dir).sorted.map(n => f"v$n%05d")

  /** The version `_current` points at, if any. */
  def current(spark: SparkSession, dir: String): Option[String] =
    readPointer(spark, dir)

  /** Drop old versions: everything except the one `_current` points at
    * and the newest `retainLast` finished versions. Single
    * administrative caller assumed — see the class doc.
    *
    * Refuses (IllegalStateException naming the versions) to delete a
    * version under an active read lease unless `force = true` — see
    * the class doc's open-readers contract; the lease check is
    * re-run immediately before each version's delete, so a reader
    * that leases a candidate mid-prune is skipped (and reported)
    * rather than having its files deleted underneath it.
    *
    * EXCEPTION CONTRACT — the two lease refusals differ in timing and
    * callers must not conflate them: the UP-FRONT refusal (leases held
    * when prune starts) fires BEFORE anything is deleted — on-disk
    * state is untouched; the LATE-LEASE refusal (a reader leased a
    * candidate mid-prune) fires AFTER every other unblocked candidate
    * was already pruned — it reports a PARTIAL prune, not a no-op.
    * Treat any prune exception as "inspect `versions()`, then re-run
    * after readers close()", never as "nothing was deleted". Claim
    * markers are collected ONLY when their number falls at/below the
    * pruned range: a directory-less claim ABOVE it may be an
    * in-flight saver mid-write, and deleting it would re-open its
    * number for a second claimer — the interleaved-write hazard the
    * claims exist to prevent. The same in-flight protection covers a
    * saver that has already created its version DIRECTORY (tables
    * written, `_manifest` not yet): unfinished versions numbered
    * above the finished pruned range keep directory and claim
    * together. `force = true` collects both (the administrative
    * caller asserting nothing is in flight).
    */
  def prune(spark: SparkSession, dir: String, retainLast: Int = 1,
            force: Boolean = false): Unit = {
    val keep = readPointer(spark, dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = versions(spark, dir)
    val finished = all.filter(v => fs.exists(new Path(s"$dir/$v/_manifest")))
    val retained =
      (finished.takeRight(math.max(retainLast, 1)) ++ keep).toSet
    val candidates = all.filterNot(retained.contains)
    // active read leases on would-be-pruned versions → refuse (the
    // reader's lazy plans still point at those files); a lease older
    // than graft.catalog.lease.ttl.ms is a crashed reader and ignored.
    // CAVEAT: the age compares this driver's clock to the FILESYSTEM's
    // modification time — on a store whose clock skews ahead of the
    // driver's by ~ttl, a live lease can look expired. Size the TTL in
    // minutes-to-hours (crash recovery, not coordination) or leave the
    // default 0 = never expire, where crashed readers block until
    // close()/force.
    val ttl = spark.conf.get("graft.catalog.lease.ttl.ms", "0").toLong
    val now = System.currentTimeMillis()
    def leaseFiles = fs.listStatus(p).toSeq.filter(st =>
      st.isFile && st.getPath.getName.startsWith("_lease_"))
    val live = leaseFiles.filter(st =>
      ttl <= 0 || now - st.getModificationTime < ttl)
    if (!force) {
      val blocked = candidates.filter(v =>
        live.exists(_.getPath.getName.startsWith(s"_lease_${v}_")))
      if (blocked.nonEmpty)
        throw new IllegalStateException(
          s"prune refused: version(s) ${blocked.mkString(", ")} at $dir " +
            "are held by active read leases (a loaded catalog's lazy " +
            "plans still point at their files). close() the readers, " +
            "raise retainLast, set graft.catalog.lease.ttl.ms, or " +
            "prune(force = true) — an overridden reader fails mid-query " +
            "on the deleted files.")
    }
    // an UNFINISHED candidate (no _manifest) above every finished
    // candidate may be an in-flight saver that has created its version
    // directory but not yet written its manifest — deleting it would
    // yank tables out from under the writer, the same hazard the
    // claim-marker preservation exists for. Keep directory AND claim
    // together: unfinished versions numbered above the finished pruned
    // range survive unless `force` (the administrative caller asserting
    // nothing is in flight); unfinished debris BELOW a finished
    // candidate is a long-dead crashed save and is collected.
    val finishedNums = candidates.filter(finished.contains)
      .collect { case VersionRe(n) => n.toLong }
    val maxFinishedPruned =
      if (finishedNums.isEmpty) -1L else finishedNums.max
    val deletable = candidates.filter { v =>
      force || finished.contains(v) ||
        (v match { case VersionRe(n) => n.toLong <= maxFinishedPruned
                   case _ => true })
    }
    // re-check for a lease IMMEDIATELY before each delete: a reader
    // explicitly loading an older retained-but-now-candidate version
    // can lease it after the listing above (TOCTOU — the window
    // shrinks to the exists-then-delete gap, which only a filesystem
    // transaction could close). Late-leased versions are skipped and
    // reported AFTER the remaining candidates are pruned.
    def leasedNow(v: String): Boolean = leaseFiles.exists(st =>
      st.getPath.getName.startsWith(s"_lease_${v}_") &&
        (ttl <= 0 || now - st.getModificationTime < ttl))
    val (lateBlocked, deleted) =
      deletable.partition(v => !force && leasedNow(v))
    deleted.foreach(v => fs.delete(new Path(s"$dir/$v"), true))
    // lease markers of the versions just pruned (expired or forced)
    // have nothing left to protect
    leaseFiles.filter(st => deleted.exists(v =>
        st.getPath.getName.startsWith(s"_lease_${v}_")))
      .foreach(st => fs.delete(st.getPath, false))
    val prunedNums = deleted.collect { case VersionRe(n) => n.toLong }
    val maxPruned = if (prunedNums.isEmpty) -1L else prunedNums.max
    listClaims(spark, dir)
      .filter(n => force || n <= maxPruned)
      .map(n => f"v$n%05d").filterNot(retained.contains)
      .foreach(v => fs.delete(new Path(s"$dir/_claim_$v"), false))
    if (lateBlocked.nonEmpty)
      throw new IllegalStateException(
        s"prune: version(s) ${lateBlocked.mkString(", ")} at $dir were " +
          "leased by a reader after the initial lease check and were " +
          "NOT pruned (every other candidate was); re-run prune after " +
          "the readers close().")
  }
}
