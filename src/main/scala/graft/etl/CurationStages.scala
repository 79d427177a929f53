package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup, IndexStore, Sampling, TextAnalysis}

/** Declarative curation stages for YAML pipelines — the beyond-parity
  * dedup/quality/text tier exposed with `nmetl run` ergonomics
  * (reference: the config-driven pipeline path in
  * /root/reference/packages/pycypher/src/pycypher/ingestion/config.py +
  * cli/pipeline.py — its stages stop at source→query→output; graft adds
  * the curation ops a pre-training corpus needs between source and
  * output, WITHOUT Scala: gate → dedup → decontaminate → budget from
  * one YAML file).
  *
  * Every stage maps 1:1 onto a library operator (the same code the
  * dd/tx oracle queries run) and preserves the input's full column
  * set — stages are document FILTERS (or, for `pii_redact`, a text
  * rewrite), so they compose in any order. Params arrive as strings
  * from YAML and are validated here.
  */
object CurationStages {

  val SupportedOps: Set[String] = Set("quality_gate", "langid_filter",
    "exact_dedup", "minhash_dedup", "fuzzy_dedup", "semantic_dedup",
    "decontaminate", "pii_redact", "span_cut", "paragraph_dedup", "sample",
    "token_budget")

  /** Write a stage's routing-ledger rows. Batch form (`streamBatch`
    * None): plain append — audit rows may repeat if the JOB retries
    * (documented at every batch site). Streaming form (Some(batchId),
    * threaded by [[runStreaming]]'s fall-through): the rows land under
    * a `batch=<id>` partition with dynamic partition overwrite, so a
    * REPLAYED micro-batch overwrites its own audit rows instead of
    * appending them again — the same exactly-once contract as every
    * other write in the streaming loop (and what makes the existing
    * `compact_every`/recoverDir machinery, which is keyed on the
    * `batch` partition, apply to routing ledgers too). One ledger_dir
    * per stage: two stages sharing a dir would overwrite each other's
    * batch partition.
    */
  private def writeLedger(ledger: DataFrame, dir: String,
                          streamBatch: Option[Long]): Unit =
    streamBatch match {
      case Some(b) =>
        ledger.withColumn("batch", lit(b))
          .coalesce(1).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch").parquet(dir)
      case None => ledger.write.mode("append").parquet(dir)
    }

  /** Previous-batch tier for a sticky `fuzzy_dedup` stage, O(1) on the
    * happy path: Structured Streaming's batch ids are contiguous, so
    * batch `b`'s prior row lives in exactly `$dir/batch=${b-1}` — that
    * ONE partition is probed directly instead of listing the whole
    * ledger (one directory per batch: the full-scan probe pays an O(B)
    * listing at batch B, an O(B²) cumulative control-path cost over a
    * long stream's lifetime). Only when that partition is absent (a
    * retention gap) does the read widen to a full scan — restricted to
    * LIVE rows (`batch >= 0`): [[graft.operators.BatchCompaction]]
    * folds compacted ledger rows under `batch=-1` WITHOUT preserving
    * their original batch order, so a compacted row is never a valid
    * "most recent prior" (the tied batch=-1 partition would yield an
    * arbitrary member). No live prior ⇒ None ⇒ the raw routing rule —
    * i.e. COMPACTION RESETS STICKINESS for any batch whose prior was
    * folded (with `compact_retain >= 1`, the default, the previous
    * batch is live on every first attempt; only a crash between a
    * retain=1 end-of-batch compaction and the stream commit can replay
    * into the reset). Errors are NOT swallowed: a missing dir/partition
    * is handled by existence checks, so any exception out of the reads
    * is a real ledger failure (corruption, permissions) and propagates.
    */
  private[graft] def stickyPriorTier(spark: SparkSession, dir: String,
                                     batch: Long): Option[String] = {
    import org.apache.hadoop.fs.Path
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(d)) return None
    val prev = new Path(d, s"batch=${batch - 1}")
    val rows =
      if (batch > 0 && fs.exists(prev))
        // partition-pruned to the one known directory (the partition
        // value is the path, so the files carry only the data columns)
        spark.read.parquet(prev.toString).select(col("tier"))
      else
        spark.read.parquet(dir)
          .filter(col("batch").cast("long") >= 0 &&
            col("batch").cast("long") < batch)
          .orderBy(col("batch").cast("long").desc)
          .select(col("tier"))
    rows.limit(1).collect().headOption.map(_.getString(0))
  }

  /** Apply one stage to the document frame. `streamBatch` is set only
    * by the streaming fall-through: it switches ledger appends to
    * per-batch partition overwrites (see [[writeLedger]]); the stage
    * semantics themselves are identical.
    */
  def apply(spark: SparkSession, df: DataFrame, idCol: String,
            textCol: String, stage: CurationStageDef,
            streamBatch: Option[Long] = None): DataFrame = {
    import stage.{doubleParam, intParam, longParam, param}
    // operators in the text tier take (doc_id, text) — present the
    // frame under those names, keep results keyed by the real id
    def docs: DataFrame =
      df.select(col(idCol).as("doc_id"), col(textCol).as("text"))

    stage.op match {
      case "quality_gate" =>
        // keep documents at/above the quality threshold (length
        // saturation + lexical diversity — TextAnalysis.qualityScore)
        val minQ = doubleParam("min_quality", 0.5)
        val keep = TextAnalysis.qualityScore(docs)
          .filter(col("quality") >= minQ)
          .select(col("doc_id").as(idCol))
        df.join(keep, Seq(idCol), "left_semi")

      case "langid_filter" =>
        // keep documents whose predicted language is in `allow`
        val allow = param("allow").getOrElse(
          throw new IllegalArgumentException(
            "langid_filter needs allow: comma-separated language codes"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val keep = TextAnalysis.languageId(docs)
          .filter(col("pred_lang").isin(allow: _*))
          .select(col("doc_id").as(idCol))
        df.join(keep, Seq(idCol), "left_semi")

      case "exact_dedup" =>
        // lowest id per exact text hash survives (Dedup.exactByHash)
        val keep = Dedup.exactByHash(df, col(textCol), col(idCol))
          .select(col("keep_id").as(idCol))
        df.join(keep, Seq(idCol), "left_semi")

      case "minhash_dedup" =>
        // MinHash-LSH candidates EXACT-VERIFIED at the Jaccard
        // threshold (band collisions alone would over-merge), then
        // connected components → the highest-quality doc per cluster
        // survives (the dd08 shape on its scale path). The component
        // input routes by SAMPLED CLONE DENSITY — clone-dense corpora
        // get the connectivity-THIN edge graph (star per distinct
        // shingle set + one verified edge per set pair — a boilerplate
        // mega-cluster feeds |cluster| edges into the components
        // instead of |cluster|²/2), clone-light corpora the plain pair
        // expansion (no collapse premium) — OR by the MAX sampled
        // clone-group size, which catches a rare-but-mega group the
        // corpus-wide ratio dilutes below its threshold. Survivors are
        // identical on both routes (dd28 gate + the thin differential
        // spec); the decision is logged and, when `ledger_dir` is set,
        // written to a parquet ledger (the fuzzy_dedup audit pattern:
        // plain append in batch mode — audit rows may repeat after a
        // retry, results cannot — and a batch=<id> partition overwrite
        // under the streaming fall-through, see [[writeLedger]])
        val (pairs, ledger) = Dedup.ngramJaccardDedupEdgesAutoLedger(
            df, idCol, textCol,
            n = intParam("shingle_size", 3),
            threshold = doubleParam("threshold", 0.8),
            numHashes = intParam("num_hashes", 64),
            bands = intParam("bands", 16),
            exhaustive = false,
            cloneRatioThreshold = doubleParam("clone_ratio_threshold", 0.02),
            sampleSixteenths = intParam("sample_sixteenths", 2),
            maxSampledGroup = longParam("max_sampled_group").getOrElse(64L))
        param("ledger_dir").foreach(d => writeLedger(ledger, d, streamBatch))
        val quality = TextAnalysis.qualityScore(docs)
          .select(col("doc_id").as(idCol), col("quality"))
        val survivors = Sampling.resolveDuplicates(pairs, quality, idCol)
          .select(col(idCol))
        df.join(survivors, Seq(idCol), "left_semi")

      case "fuzzy_dedup" =>
        // edit-distance dedup behind the collision-density AUTO-ROUTER
        // (Dedup.editDistanceAuto, VERDICT r12 item 5): pairs
        // within `max_dist` Levenshtein on the text column, routed
        // exact (symmetric-delete, guaranteed recall) or MinHash-LSH
        // (collision-dense / long-key corpora; exact-verified
        // precision) by the measured density; the routing ledger row
        // goes to stderr and, when `ledger_dir` is set, to a parquet
        // sink for audit. Survivor = min id per connected component —
        // the right stage for short KEYS (titles, names, urls), not
        // long documents (those want minhash_dedup). NOTE: under
        // `streaming: true` WITHOUT `index_dir` this batch form runs
        // per micro-batch; the optional ledger_dir audit rows land
        // under a batch=<id> partition with dynamic overwrite (see
        // [[writeLedger]] — a replayed batch overwrites its own audit
        // rows), and the index-at-rest form (`index_dir`) is the
        // exactly-once DEDUP arm (this fall-through has no cross-batch
        // memory). (Unlike minhash_dedup — whose index-less
        // form is REJECTED under streaming — this fall-through is
        // allowed: its per-batch eager work is the routing
        // measurement, whose pins are freed deterministically, not
        // the unfreed collapse-skeleton pins the minhash thin form
        // holds. Not just an argument: the StreamingSpec index-less
        // fall-through arm runs 6 micro-batches through this stage and
        // asserts sc.getPersistentRDDs stays flat — the same
        // pin-flatness contract the index forms carry.)
        val maxDist = intParam("max_dist", 1)
        // STICKY TIER under streaming (`sticky_tier: "true"` +
        // `ledger_dir`): a near-threshold corpus (sf10 measured
        // density 63.76 vs threshold 64) alternates tiers between
        // micro-batches as sampling noise wiggles the statistic — read
        // the PREVIOUS batch's ledger row ([[stickyPriorTier]]: the
        // batch ids are contiguous, so batch b-1's partition is probed
        // DIRECTLY, and a REPLAYED batch sees the same prior as its
        // first attempt) and hold its tier unless the measurements
        // leave the ±10% hysteresis band; the ledger row records any
        // suppressed flip
        val prevTier: Option[String] =
          if (param("sticky_tier").contains("true")) {
            for {
              d <- param("ledger_dir")
              b <- streamBatch
              t <- stickyPriorTier(spark, d, b)
            } yield t
          } else None
        // connectivity-thin edges (the router's edges projection):
        // identical components and survivors to its pairs, but an
        // exact-dup key flood contributes |group| star edges, not
        // |group|²/2
        val routed = Dedup.editDistanceAuto(
          df, idCol, textCol, maxDist = maxDist,
          densityThreshold = doubleParam("density_threshold", 64.0),
          maxMeanKeyLen = doubleParam("max_mean_key_len", 64.0),
          previousTier = prevTier,
          hysteresisPct = doubleParam("hysteresis_pct", 0.10),
          // opt-in absolute-mass disjunct (r20): a minhash-routed
          // batch whose EXACT symmetric-delete mass fits this budget
          // drops back to the exact tier — the ledger records the
          // measured mass and the override either way
          exactCandidateBudget =
            longParam("exact_candidate_budget").getOrElse(0L))
        param("ledger_dir").foreach(d => writeLedger(routed.ledger, d, streamBatch))
        val nonCanon = Components
          .connectedComponents(routed.edges, "id1", "id2")
          .filter(col("id") =!= col("comp"))
          .select(col("id").as(idCol))
        df.join(nonCanon, Seq(idCol), "left_anti")

      case "semantic_dedup" =>
        // embedding near-dup dedup (SemDeDup — Dedup.semanticDedup):
        // for corpora whose rows carry a precomputed embedding column
        // (`vec_col`), keep each cosine-neighborhood's canonical doc.
        // The dd14 shape; the text stages never touch vec_col.
        val vecCol = param("vec_col").getOrElse(
          throw new IllegalArgumentException(
            "semantic_dedup needs vec_col: the embedding column"))
        val kept = Dedup.semanticDedup(df, idCol, vecCol,
            nlist = intParam("nlist", 0),
            tau = doubleParam("tau", 0.9))
          .filter(col("kept") === 1)
          .select(col(idCol))
        df.join(kept, Seq(idCol), "left_semi")

      case "decontaminate" =>
        // drop documents sharing more than `max_hits` distinct n-grams
        // with the benchmark corpus (broadcast gram set — Dedup
        // .decontaminate, the dd09 shape)
        val benchUri = param("benchmark_uri").getOrElse(
          throw new IllegalArgumentException(
            "decontaminate needs benchmark_uri"))
        val benchIdCol = param("benchmark_id_col").getOrElse(idCol)
        val benchTextCol = param("benchmark_text_col").getOrElse(textCol)
        val bench = PipelineRunner.readSource(spark, benchUri)
          .select(col(benchIdCol).as(idCol), col(benchTextCol).as(textCol))
        val maxHits = longParam("max_hits").getOrElse(0L)
        val contaminated = Dedup.decontaminate(df, bench, idCol, textCol,
            n = intParam("ngram", 4))
          .filter(col("hits") > maxHits)
          .select(col("id").as(idCol))
        df.join(contaminated, Seq(idCol), "left_anti")

      case "span_cut" =>
        // cut every non-canonical occurrence of cross-document
        // duplicated minSpan-token windows and rebuild the text
        // (Dedup.cutDuplicatedSpans, the Lee-2022 suffix-array cut in
        // relational form). NOTE: the rebuilt text is the token
        // stream — lowercased, whitespace-collapsed.
        // left join + coalesce: a token-less (empty/whitespace-only)
        // document has no op-output row, and this stage is a REWRITE,
        // not a filter — such docs must pass through unchanged
        val cut = Dedup.cutDuplicatedSpans(df, idCol, textCol,
            minSpan = intParam("min_span", 4))
          .select(col("id").as(idCol), col("clean_text"))
        df.withColumnRenamed(textCol, "__orig")
          .join(cut, Seq(idCol), "left_outer")
          .withColumn(textCol, coalesce(col("clean_text"), col("__orig")))
          .drop("__orig", "clean_text")

      case "paragraph_dedup" =>
        // keep only the corpus-wide first occurrence of each distinct
        // paragraph and rebuild documents (Dedup.paragraphDedup, the
        // Dolma/CCNet paragraph pass)
        // left join + coalesce, as in span_cut: paragraphDedup filters
        // empty paragraphs, so an empty or delimiter-only document has
        // no output row — pass it through unchanged instead of
        // dropping it (this stage rewrites, it does not filter)
        val clean = Dedup.paragraphDedup(df, idCol, textCol,
            delim = param("delim").getOrElse("\n"))
          .select(col("id").as(idCol), col("clean_text"))
        df.withColumnRenamed(textCol, "__orig")
          .join(clean, Seq(idCol), "left_outer")
          .withColumn(textCol, coalesce(col("clean_text"), col("__orig")))
          .drop("__orig", "clean_text")

      case "pii_redact" =>
        // rewrite the text column with emails/IPv4s/phones replaced by
        // placeholder tags (TextAnalysis.redactPii)
        val red = TextAnalysis.redactPii(df, idCol, textCol)
          .select(col(idCol), col("redacted"))
        df.withColumnRenamed(textCol, "__orig")
          .join(red, Seq(idCol))
          .withColumn(textCol, col("redacted"))
          .drop("__orig", "redacted")

      case "sample" =>
        // deterministic id-hash sample, n/16ths of the corpus
        Sampling.hashSample(df, idCol, intParam("sixteenths", 8))

      case "token_budget" =>
        // hash-ordered greedy fill to a whitespace-token budget, per
        // `group_col` when given else one global budget
        // (Sampling.budgetSample — salted two-phase prefix sum)
        val budget = longParam("budget").getOrElse(
          throw new IllegalArgumentException("token_budget needs budget"))
        val weighted = df
          .withColumn("__wt",
            size(split(trim(col(textCol)), "\\s+")).cast("long"))
        val (grouped, groupCol) = param("group_col") match {
          case Some(g) => (weighted, g)
          case None    => (weighted.withColumn("__grp", lit("all")), "__grp")
        }
        val budgets = param("group_col") match {
          case Some(_) =>
            // per-group budgets as group=value pairs, e.g.
            // budgets: "en=50000,de=10000"; groups not named keep
            // everything; `budget` is the default for named-only form
            param("budgets") match {
              case Some(spec) => spec.split(",").map { kv =>
                val Array(k, v) = kv.split("=")
                k.trim -> v.trim.toLong
              }.toMap
              case None =>
                throw new IllegalArgumentException(
                  "token_budget with group_col needs budgets: g=v,...")
            }
          case None => Map("all" -> budget)
        }
        Sampling.budgetSample(grouped, idCol, groupCol, "__wt", budgets)
          .drop("__wt", "__grp")

      case other =>
        throw new IllegalArgumentException(
          s"unknown curation op '$other' (supported: " +
            s"${SupportedOps.toSeq.sorted.mkString(", ")})")
    }
  }

  /** Run a whole curation pipeline: stages in order over the input. */
  def run(spark: SparkSession, input: DataFrame,
          pipeline: CurationPipelineDef): DataFrame =
    // guarded spread + pin (identity on well-split/derived inputs): a
    // small corpus arrives as ONE parquet split and every CPU-bound
    // stage kernel downstream (quality regexes, langid, shingles)
    // would run single-task — AQE's byte-based coalescing cannot see
    // that the stages multiply work per input byte. Pinned because the
    // stage chain consumes the input in MANY subtrees (each gate's
    // score + its ledger write + the survivor filter — cu01's plan
    // re-scanned the corpus 16×); the pin only ever fires for inputs
    // small enough to have arrived under-split, so the at-scale path
    // materializes nothing. Stages are document filters / per-doc
    // rewrites, so row order is immaterial.
    pipeline.stages.foldLeft(graft.operators.Par.spreadPinned(input)) { (df, stage) =>
      apply(spark, df, pipeline.idCol, pipeline.textCol, stage)
    }

  /** STREAMING curation: the same YAML stage list applied per
    * micro-batch under `foreachBatch` — an incremental crawl runs
    * gate → dedup → budget from the same file the batch pipeline uses
    * (reference analog: the nmetl streaming fast path,
    * cli/pipeline.py:499-652). Survivors of the whole stage list
    * append to the pipeline's `output:` directory (parquet).
    *
    * Every stage applies verbatim to the batch EXCEPT the dedup
    * stages given an `index_dir` param, which become incremental-crawl
    * forms against an index-at-rest: `exact_dedup` anti-joins a
    * text-key index (text equality — the index is the whole truth
    * across restarts), `fuzzy_dedup` probes a deletion-neighborhood or
    * char-bigram-sketch key index behind the density router decided at
    * index creation ([[graft.operators.Dedup.fuzzyCrawlBatch]]),
    * `semantic_dedup` probes the vector index
    * ([[graft.operators.Similarity.semanticCrawlBatch]]), and
    * `minhash_dedup` probes a MinHash index (the dd13 shape): probe
    * for cross-batch near-dups, band the batch against itself for
    * intra-batch dups (min-id canonical), then admit the survivors'
    * signatures to the index. `minhash_dedup`
    * REQUIRES index_dir under streaming (validated at stream build):
    * the index-less batch operator runs an eager routing-sample job
    * and holds lineage pins per call, which a micro-batch loop would
    * pay — and leak between GC cycles — every batch. The index
    * parquet is the SOURCE OF TRUTH across restarts — a duplicate of
    * anything ever admitted is dropped by the probe no matter where
    * batch or restart boundaries fall. The first batch creates the
    * index with the stage's `shingle_size`/`num_hashes`/`bands`
    * (defaults 3/64/16); afterwards parameters always come from the
    * index's `_meta`, so sketch and index can never drift.
    *
    * Trade vs the batch stage, stated: the batch form exact-verifies
    * LSH candidates at the Jaccard threshold and keeps the
    * HIGHEST-QUALITY doc per cluster; the incremental form uses
    * signature-estimated Jaccard and arrival-order canonical across
    * batches (earlier batch wins) — because a crawl
    * cannot re-rank against documents it has not seen yet. WITHIN a
    * batch the ranking IS computable: `rank_by: quality` on the
    * minhash stage keeps the highest-quality doc per intra-batch
    * cluster (the batch stage's pick); the default stays min-id.
    *
    * Exactly-once mechanics (the crash/replay contract): every
    * micro-batch write — the curated output AND the dedup
    * index-at-rest — is stamped with the foreachBatch batchId and
    * written as a DYNAMIC PARTITION OVERWRITE of that batch's own
    * partition, so a replayed batch erases its failed attempt instead
    * of duplicating or (worse) anti-joining against it; the index
    * probe reads only `batch < currentBatchId`, i.e. the index AS OF
    * the batches before this one. Index appends are DEFERRED until
    * the output write has succeeded and admit ONLY ids that reached
    * the output — a survivor that a LATER stage filters (the
    * gate→dedup→budget order) is not indexed, so its future
    * duplicates compete again rather than being silently dropped
    * against a row that never shipped. Consequence for readers: the
    * output directory is partitioned by `batch_id` (drop the column
    * if unwanted), and the stage's index uses the batch-tagged layout
    * ([[graft.operators.Dedup.minHashIndexPut]]).
    */
  def runStreaming(spark: SparkSession, stream: DataFrame,
                   pipeline: CurationPipelineDef)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val outDir = pipeline.outputUri.getOrElse(
      throw new IllegalArgumentException(
        s"streaming curation pipeline ${pipeline.id} needs output:"))
    // minhash_dedup is a BATCH operator without its index-at-rest: the
    // fall-through would run its eager routing-sample job and 3-4
    // lineage pins EVERY micro-batch (pins free only via the
    // GC-driven context cleaner — they accumulate on a long crawl),
    // and per-batch-only dedup with no cross-batch memory is almost
    // always a config mistake. Fail at stream build, not per batch.
    pipeline.stages.find(st =>
        st.op == "minhash_dedup" && !st.params.contains("index_dir"))
      .foreach(_ => throw new IllegalArgumentException(
        s"streaming curation pipeline ${pipeline.id}: minhash_dedup " +
          "under streaming needs index_dir: (the cross-batch " +
          "index-at-rest arm — see CurationStages.runStreaming); the " +
          "index-less form is batch-only"))
    val writer = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // pinned once per batch: several stages semi-join the batch
        // against their own derived frames
        val batch = batch0.localCheckpoint(true)
        // bucket-cap audit rows written anywhere inside this batch
        // (Dedup.capHotBuckets reads the conf) become batch-partitioned
        // overwrites — exactly-once on replay, like every other write
        // in this loop. Set on the BATCH's session: Structured
        // Streaming runs micro-batches on a per-stream session CLONE
        // (conf copied at stream start), so a mid-stream set on the
        // outer session would be invisible to the stage plans, which
        // all descend from batch0. Per-stream scoping also means two
        // concurrent streams never clobber each other's tag — each
        // owns its clone.
        val confSess = batch0.sparkSession
        val prevCapBatch =
          confSess.conf.getOption("graft.lsh.bucketCapLedgerBatch")
        val prevCapStage =
          confSess.conf.getOption("graft.lsh.bucketCapLedgerStage")
        confSess.conf.set("graft.lsh.bucketCapLedgerBatch", batchId.toString)
        try {
        if (!batch.isEmpty) {
          // FIRST, before the budget stage reads its ledger: repair an
          // interrupted compaction. compactDir's crash window (batch
          // partitions deleted, tmp not yet renamed) leaves a ledger
          // missing every consolidated row, and the recovery inside the
          // compaction step at the END of the batch comes too late.
          // Index probes need no pass here: every index component read
          // (IndexStore.read) repairs its directory first.
          pipeline.stages.foreach(_.param("ledger_dir").foreach(led =>
            graft.operators.BatchCompaction.recoverDir(spark, led, "batch")))
          // index writes are collected, not executed, during the fold:
          // they run only after the output write commits, and only
          // over ids that reached the output
          val deferred = scala.collection.mutable.ListBuffer
            .empty[DataFrame => Unit]
          val curated = pipeline.stages.zipWithIndex.foldLeft(batch) {
            case (df, (stage, stageIdx)) =>
            // stage discriminator for the bucket-cap audit partition
            // key: two stages of the SAME capped operator in one
            // micro-batch (both opName=lshRepPairs, say) must not
            // overwrite each other's (batch, op) rows — the cap's
            // eager aggregate + ledger write run synchronously inside
            // the stage call below, so a per-iteration set is seen by
            // exactly this stage's write
            confSess.conf
              .set("graft.lsh.bucketCapLedgerStage", stageIdx.toString)
            if (stage.params.contains("index_dir") && stage.op == "minhash_dedup") {
              val (survivors, admit) = streamingMinhashDedup(spark, df,
                pipeline.idCol, pipeline.textCol, stage, batchId)
              deferred += admit
              survivors
            } else if (stage.params.contains("index_dir") && stage.op == "semantic_dedup") {
              // incremental SemDeDup against the vector index-at-rest
              // (Similarity.semanticCrawlBatch) — same deferred-admit
              // exactly-once contract as the text stages
              val vecCol = stage.param("vec_col").getOrElse(
                throw new IllegalArgumentException(
                  "streaming semantic_dedup needs vec_col"))
              val (survivors, admit) = graft.operators.Similarity
                .semanticCrawlBatch(spark, stage.params("index_dir"), df,
                  pipeline.idCol, vecCol,
                  tau = stage.doubleParam("tau", 0.9),
                  nlist = stage.intParam("nlist", 64),
                  nprobe = stage.intParam("nprobe", 4),
                  batchId = batchId)
              deferred += (shipped => admit(shipped))
              survivors
            } else if (stage.params.contains("index_dir") && stage.op == "fuzzy_dedup") {
              // incremental fuzzy (edit-distance) dedup against an
              // index-at-rest, behind the density router decided at
              // index creation (Dedup.fuzzyCrawlBatch) — same
              // deferred-admit exactly-once contract as the text stages
              val (survivors, admit) = Dedup.fuzzyCrawlBatch(spark,
                stage.params("index_dir"), df, pipeline.idCol,
                pipeline.textCol, batchId,
                maxDist = stage.intParam("max_dist", 1),
                densityThreshold = stage.doubleParam("density_threshold", 64.0),
                maxMeanKeyLen = stage.doubleParam("max_mean_key_len", 64.0))
              deferred += admit
              survivors
            } else if (stage.params.contains("index_dir") && stage.op == "exact_dedup") {
              val (survivors, admit) = streamingExactDedup(spark, df,
                pipeline.idCol, pipeline.textCol, stage, batchId)
              deferred += admit
              survivors
            } else if (stage.params.contains("ledger_dir") && stage.op == "token_budget") {
              val (survivors, admit) = streamingTokenBudget(spark, df,
                pipeline.idCol, pipeline.textCol, stage, batchId)
              deferred += admit
              survivors
            } else apply(spark, df, pipeline.idCol, pipeline.textCol, stage,
              streamBatch = Some(batchId))
          }.localCheckpoint(true)
          curated.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(outDir)
          val shipped = curated.select(col(pipeline.idCol))
          deferred.foreach(_(shipped))
          // SELF-MAINTENANCE: stages with `compact_every: N` fold their
          // index-at-rest (or spend ledger) every N batches, keeping
          // the newest `compact_retain` (>=1, default 1) batch
          // partitions live and consolidating the rest under batch=-1
          // (BatchCompaction — as-of semantics preserved). Safe inside
          // the batch: only COMMITTED batches (<= batchId - retain) are
          // folded, so no foldable batch can ever replay, and a crash
          // mid-compaction is repaired by the next read of the index
          // (the replayed batch's probe), not here. Without this, a
          // months-long crawl accrues one partition per micro-batch and
          // probe listing costs grow linearly in batch count.
          pipeline.stages.foreach { st =>
            st.longParam("compact_every").foreach { every =>
              val retain = math.max(1L, st.longParam("compact_retain").getOrElse(1L))
              if (every > 0 && batchId >= retain && batchId % every == 0) {
                st.param("index_dir").foreach(idx =>
                  graft.operators.BatchCompaction
                    .compactIndex(spark, idx, upTo = batchId - retain))
                st.param("ledger_dir").foreach(led =>
                  graft.operators.BatchCompaction
                    .compactDir(spark, led, "batch", upTo = batchId - retain))
              }
            }
          }
          // DRIFT WATCHDOG: `semantic_dedup` stages with `drift_every: N`
          // append the NEWEST batch's streamIndexDrift row to a
          // `drift_dir` ledger every N batches — the index's centroids
          // are frozen at the first committed batch (FAISS `add`
          // semantics), so a long crawl needs a periodic self-audit, not
          // a manual CALL someone must remember. The row is
          // audit_batch-tagged with dynamic partition overwrite (a
          // replayed batch overwrites its own audit, exactly-once like
          // every write in this loop); an `alert` row (drift ratio over
          // `drift_threshold`, default 4.0) is also logged — the
          // operator response is an offline
          // [[graft.operators.Similarity.refitStreamIndex]].
          pipeline.stages.foreach { st =>
            if (st.op == "semantic_dedup" && st.params.contains("index_dir") &&
                st.params.contains("drift_dir")) {
              st.longParam("drift_every").foreach { every =>
                val idx = st.params("index_dir")
                if (every > 0 && batchId % every == 0 &&
                    IndexStore.open(spark, idx, "sem_stream").isDefined) {
                  val thr = st.doubleParam("drift_threshold", 4.0)
                  // INCREMENTAL audit: scan only the EARLIEST batch
                  // (the baseline) and the NEWEST one — partition
                  // pruning makes the periodic watchdog O(2 batches),
                  // not O(index); a full-index audit per N batches
                  // would itself become the heavy term on exactly the
                  // months-long crawls it serves. Values are identical
                  // to the full audit's rows for those batches
                  // (per-batch means are independent).
                  val vecsPath = new org.apache.hadoop.fs.Path(s"$idx/vecs")
                  val ifs = vecsPath
                    .getFileSystem(spark.sparkContext.hadoopConfiguration)
                  val batchNums =
                    if (!ifs.exists(vecsPath)) Seq.empty[Long]
                    else ifs.listStatus(vecsPath).toSeq
                      .filter(s0 => s0.isDirectory &&
                        s0.getPath.getName.startsWith("batch="))
                      .flatMap(s0 => s0.getPath.getName
                        .stripPrefix("batch=").toLongOption)
                  if (batchNums.nonEmpty) {
                  val latest = graft.operators.Similarity
                    .streamIndexDrift(spark, idx, thr,
                      onlyBatches = Some(
                        Seq(batchNums.min, batchNums.max).distinct))
                    .orderBy(col("batch").desc).limit(1)
                    .withColumn("audit_batch", lit(batchId))
                    .localCheckpoint(true)
                  latest.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("audit_batch")
                    .parquet(st.params("drift_dir"))
                  val row = latest.head()
                  if (row.getAs[Boolean]("alert"))
                    System.err.println(
                      s"[graft] drift ALERT pipeline=${pipeline.id} " +
                        s"index=$idx batch=${row.get(0)} " +
                        s"mean_dist=${row.getAs[Double]("mean_dist")} " +
                        s"baseline=${row.getAs[Double]("baseline_dist")} " +
                        "— frozen centroids no longer fit the stream; " +
                        "schedule an offline refitStreamIndex")
                  graft.operators.IterPin.free(latest)
                  }
                }
              }
            }
          }
          // release this batch's surviving pin deterministically (the
          // IterPin discipline one level up — every consumer has run:
          // output write, deferred admits over shipped ids, compaction,
          // drift audit). Without the free, a high-rate crawl
          // accumulates block-manager storage between GC cycles.
          graft.operators.IterPin.free(curated)
        }
        } finally {
          prevCapBatch match {
            case Some(v) =>
              confSess.conf.set("graft.lsh.bucketCapLedgerBatch", v)
            case None =>
              confSess.conf.unset("graft.lsh.bucketCapLedgerBatch")
          }
          prevCapStage match {
            case Some(v) =>
              confSess.conf.set("graft.lsh.bucketCapLedgerStage", v)
            case None =>
              confSess.conf.unset("graft.lsh.bucketCapLedgerStage")
          }
        }
        graft.operators.IterPin.free(batch)
        ()
      }
    pipeline.checkpointUri.fold(writer)(
      ck => writer.option("checkpointLocation", ck))
  }

  /** The cross-batch arm of `token_budget` in streaming mode. WITHOUT
    * `ledger_dir` the stage falls through to the batch form, which
    * grants the FULL budget to every micro-batch — per-batch rationing,
    * occasionally wanted, usually not. With `ledger_dir` the budget is
    * GLOBAL across the stream: a spend ledger at rest records each
    * batch's admitted token count, the current batch reads the spend
    * AS OF earlier batches (partition pruning on the batch key — a
    * replayed batch is blind to its own failed attempt) and greedy-fills
    * only the remainder, in the batch stage's md5-hash order
    * ([[graft.operators.Sampling.budgetSample]] — same salted two-phase
    * prefix sum, so one giant micro-batch cannot single-task-sort).
    * `admit(shipped)` writes the batch's ledger row with the tokens of
    * the survivors that REACHED the output (a later stage dropping a
    * survivor refunds its tokens), dynamic-partition-overwriting the
    * batch's own partition — the same exactly-once contract as the
    * dedup index admits. Weight = whitespace token count of the text
    * column, matching the batch stage.
    */
  private def streamingTokenBudget(spark: SparkSession, df: DataFrame,
                                   idCol: String, textCol: String,
                                   stage: CurationStageDef, batchId: Long)
  : (DataFrame, DataFrame => Unit) = {
    val budget = stage.longParam("budget").getOrElse(
      throw new IllegalArgumentException("token_budget needs budget"))
    val ledgerDir = stage.params("ledger_dir")
    val p = new org.apache.hadoop.fs.Path(ledgerDir)
    val have = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    val spent =
      if (have)
        spark.read.parquet(ledgerDir)
          .filter(col("batch") < lit(batchId))
          .agg(coalesce(sum(col("tokens")), lit(0L)))
          .head().getLong(0)
      else 0L
    val remaining = math.max(0L, budget - spent)
    def withWt(d: DataFrame): DataFrame = d.withColumn("__wt",
      size(split(trim(col(textCol)), "\\s+")).cast("long"))
    val survivors =
      if (remaining == 0L) df.limit(0)
      else Sampling.budgetSample(
          withWt(df).withColumn("__grp", lit("all")),
          idCol, "__grp", "__wt", Map("all" -> remaining))
        .drop("__wt", "__grp")
    val admit: DataFrame => Unit = shipped => {
      import spark.implicits._
      val tokens = withWt(survivors.join(shipped
            .select(col(shipped.columns.head).as(idCol)), Seq(idCol), "left_semi"))
        .agg(coalesce(sum(col("__wt")), lit(0L))).head().getLong(0)
      Seq((batchId, tokens)).toDF("batch", "tokens")
        .coalesce(1).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(ledgerDir)
    }
    (survivors, admit)
  }

  /** The cross-batch arm of `exact_dedup` in streaming mode: a
    * text-key index at rest under `index_dir/keys`, partitioned by
    * the admitting batch id. Per batch — drop rows whose EXACT text
    * was admitted by an EARLIER batch (anti-join against the key
    * index filtered to `batch < batchId`: batch-sized side vs an
    * at-rest scan, the minHashIndexLookup join shape; the filter is
    * partition pruning and is what makes a crashed batch's replay
    * blind to its own half-applied keys), keep the min-id row per
    * intra-batch text. Returns (survivors, admit): `admit(shipped)`
    * dynamic-partition-overwrites `batch=<id>` with the keys of the
    * survivors that reached the output — run it only after the
    * output write commits. Text equality makes the index the whole
    * truth, so restarts cost nothing. To pre-seed the index, admit its
    * keys (one string column `k`) as batch -1 through
    * [[graft.operators.IndexStore.admit]] (kind `exact`, component
    * `keys`): it sorts before every real batch id.
    */
  private def streamingExactDedup(spark: SparkSession, df: DataFrame,
                                  idCol: String, textCol: String,
                                  stage: CurationStageDef, batchId: Long)
  : (DataFrame, DataFrame => Unit) = {
    val indexDir = stage.params("index_dir")
    val (fresh, batchKeysPin) = IndexStore.open(spark, indexDir, "exact") match {
      case Some(rec) =>
        val asOf = IndexStore.read(spark, indexDir, rec, "keys", Some(batchId))
        // probe SHAPE (the minHashIndexLookup discipline): the at-rest
        // key index must stream through ONE scan with no shuffle. The
        // old plain left_anti against the index planned a sort-merge
        // join once the index outgrew the auto-broadcast threshold —
        // shuffling the ENTIRE admitted history every micro-batch, a
        // cost linear in crawl age. Instead: semi-join the index
        // against the BROADCAST batch keys (batch-sized, size-gated),
        // then anti-join the batch against the <= batch-sized hits.
        val batchKeys = df.select(col(textCol)).distinct()
          .localCheckpoint(true)
        val st = batchKeys.agg(count(lit(1)),
          coalesce(avg(length(col(textCol))), lit(0.0))).head()
        val estBytes = (st.getLong(0) * (st.getDouble(1) * 2 + 20)).toLong
        // a bulk batch comparable to the index itself falls back to the
        // shuffle join — then it IS the right plan
        val small = st.getLong(0) <= 2000000L &&
          estBytes <= 64L * 1024 * 1024
        val hits = exactProbeHits(asOf.select(col("k").as(textCol)),
          batchKeys, textCol, small)
        (df.join(if (small) broadcast(hits) else hits,
            Seq(textCol), "left_anti")
          .select(df.columns.map(col).toSeq: _*), Some(batchKeys))
      case None => (df, None)
    }
    val survivors = fresh.join(
        fresh.groupBy(col(textCol)).agg(min(col(idCol)).as(idCol)),
        Seq(textCol, idCol), "left_semi")
      .select(df.columns.map(col).toSeq: _*)
      .localCheckpoint(true)
    val admit: DataFrame => Unit = shipped => {
      val keys = survivors.join(shipped, Seq(idCol), "left_semi")
        .select(col(textCol).as("k")).distinct()
        .localCheckpoint(true)
      // an EMPTY admit writes nothing: a deterministic no-op on replay
      IndexStore.admit(spark, indexDir, "exact", Map.empty, batchId,
        Seq(IndexStore.Part("keys", keys)))
      // admit is this batch's LAST consumer of these pins (survivors
      // already materialized into the curated output checkpoint) —
      // free them now instead of waiting on GC-triggered cleanup
      graft.operators.IterPin.free(keys)
      graft.operators.IterPin.free(survivors)
      batchKeysPin.foreach(graft.operators.IterPin.free)
    }
    (survivors, admit)
  }

  /** The exact-dedup index probe core, exposed for plan gating: hits =
    * index keys also present in the batch. `small = true` (the normal
    * micro-batch regime, size-gated by the caller) broadcasts the
    * BATCH side so the at-rest index streams through one scan with no
    * shuffle — Catalyst cannot pick this itself because the batch
    * frame is LogicalRDD-rooted (checkpointed) and carries the default
    * unknown-size stats.
    */
  private[graft] def exactProbeHits(idxKeys: DataFrame, batchKeys: DataFrame,
                                    textCol: String,
                                    small: Boolean): DataFrame =
    idxKeys.join(if (small) broadcast(batchKeys) else batchKeys,
        Seq(textCol), "left_semi")
      .distinct()

  /** The cross-batch arm of `minhash_dedup` in streaming mode.
    * Returns (survivors, admit): probe + intra-batch dedup run in the
    * stage fold; `admit(shipped)` batch-tag-writes the signatures of
    * survivors that reached the output (run after the output commit —
    * see [[runStreaming]]'s exactly-once contract). Intra-batch
    * canonical is min-id by default; `rank_by: quality` keeps the
    * highest-quality doc per intra-batch cluster instead (the batch
    * stage's pick — computable within a batch; ACROSS batches
    * arrival order still wins, a crawl cannot re-rank history).
    */
  private def streamingMinhashDedup(spark: SparkSession, df: DataFrame,
                                    idCol: String, textCol: String,
                                    stage: CurationStageDef, batchId: Long)
  : (DataFrame, DataFrame => Unit) = {
    import graft.operators.Components
    val indexDir = stage.params("index_dir")
    val threshold = stage.doubleParam("threshold", 0.8)
    // fail early and identically on both the probe filter (which would
    // silently pass everything through) and the intra-batch edge form
    // (which requires it) — the batch router's contract
    require(threshold <= 1.0,
      s"minhash_dedup threshold must be <= 1.0, got $threshold")
    val rankBy = stage.param("rank_by").getOrElse("id")
    require(rankBy == "id" || rankBy == "quality",
      s"minhash_dedup rank_by must be 'id' or 'quality', got '$rankBy'")
    def intraSurvivors(d: DataFrame, shingleSize: Int, numHashes: Int,
                       bands: Int): (DataFrame, Seq[DataFrame]) = {
      // connectivity-thin edges at the est threshold — identical
      // components/survivors to the filtered pair set, linear in a
      // clone flood (the dd28/StreamingSpec gates)
      val pairs = Dedup.minHashLshDedupEdges(d, idCol, textCol,
        shingleSize, numHashes, bands, threshold)
      if (rankBy == "quality") {
        val quality = TextAnalysis.qualityScore(
            d.select(col(idCol).as("doc_id"), col(textCol).as("text")))
          .select(col("doc_id").as(idCol), col("quality"))
        // resolveDuplicates' internal pins are read by ITS returned
        // plan, so they free via the context cleaner once the caller's
        // checkpoint drops the plan — the documented batch-op trade
        val keep = Sampling.resolveDuplicates(pairs, quality, idCol)
          .select(col(idCol))
        (d.join(keep, Seq(idCol), "left_semi"), Nil)
      } else {
        // the component labels come back PINNED in the distributed
        // regime — hand them up so the caller frees after its own
        // checkpoint consumed them (no-op in the driver regime)
        val comps = Components.connectedComponents(pairs, "id1", "id2")
        val nonCanon = comps
          .filter(col("id") =!= col("comp"))
          .select(col("id").as(idCol))
        (d.join(nonCanon, Seq(idCol), "left_anti"), Seq(comps))
      }
    }
    // the index's record, read ONCE per micro-batch and handed to the
    // probe and the put. It is written after the first admit landed and
    // never rewritten, so Some means the first batch's index write fully
    // committed; None means this batch creates the index with the
    // stage's parameters
    val meta = Dedup.minHashIndexMeta(spark, indexDir)
    val params @ (shingleSize, numHashes, bands) =
      meta.fold((stage.intParam("shingle_size", 3), stage.intParam("num_hashes", 64),
        stage.intParam("bands", 16)))(Dedup.minHashParams)
    val (pre, probePins) = meta match {
      case Some(m) =>
        val (lookup, pins) = Dedup.minHashIndexLookupPinned(spark,
          indexDir, m, df, idCol, textCol, excludeBatchFrom = Some(batchId))
        val idxDup = lookup
          .filter(col("est_jaccard") >= threshold)
          .select(col("new_id").as(idCol)).distinct()
        (df.join(idxDup, Seq(idCol), "left_anti"), pins)
      case None => (df, Seq.empty[DataFrame])
    }
    val (intra, compPins) = intraSurvivors(pre, shingleSize, numHashes, bands)
    val survivors = intra.localCheckpoint(true)
    // the survivors checkpoint consumed the probe's and the component
    // loop's eager pins
    (probePins ++ compPins).foreach(graft.operators.IterPin.free)
    val admit: DataFrame => Unit = shipped => {
      Dedup.minHashIndexPutAs(spark, indexDir,
        survivors.join(shipped, Seq(idCol), "left_semi"),
        idCol, textCol, batchId, params)
      // last consumer of the survivors pin ran (the put is eager)
      graft.operators.IterPin.free(survivors)
    }
    (survivors, admit)
  }
}
