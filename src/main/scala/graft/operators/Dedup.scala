package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale text/embedding corpora.
  *
  * All operators are pure DataFrame transformers built from codegen'd
  * native functions (no UDFs): they shuffle only on the keys that define
  * the dedup semantics, so they scale horizontally — candidate
  * generation is always a hash-partitioned equi-join on a short key
  * (content hash / LSH band / signature block / token shingle), never an
  * all-pairs comparison.
  *
  * Reference behaviors mirrored (re-designed Spark-first, not ported):
  * exact + fuzzy duplicate handling in the reference ETL layer
  * (/root/reference/packages/fastopendata/src/fastopendata/etl — dedup
  * strategies; see SURVEY.md §2 and the beyond-parity mandate).
  */
object Dedup {

  /** Exact dedup: one representative (minimum id) per identical content.
    * Single shuffle on the 128-bit content hash; map-side partial agg.
    */
  def exactByHash(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(md5(content.cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(id).as("keep_id"))

  /** Word-level n-gram shingles from an already-materialized tokens
    * column. IMPORTANT: `toks` must be a column *attribute* (from a prior
    * projection), not the split(...) expression itself — higher-order
    * functions evaluate their argument expression once per lambda
    * invocation in interpreted mode, so an inline split() would re-split
    * the text for every shingle index (measured ~9 ms/doc vs ~0.1).
    */
  private[graft] def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))

  /** Lowercased whitespace tokens. */
  private[graft] def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** 64-bit MinHash signature: element h = min over shingles of
    * xxhash64(h, shingle), as a Column (used for small/ad-hoc inputs).
    * For corpus-scale signatures use `minHashSignatures`, which computes
    * the same values through a codegen'd hash aggregate instead of an
    * interpreted higher-order expression.
    */
  private[graft] def minHashSignature(sh: Column, numHashes: Int): Column =
    array((0 until numHashes).map { h =>
      array_min(transform(sh, x => xxhash64(lit(h), xxhash64(x))))
    }: _*)

  /** (id, sig) signatures for a whole corpus: explode shingles, then ONE
    * hash-partitioned aggregate with `numHashes` min() columns — fully
    * whole-stage-codegen'd with map-side partial aggregation, the shape
    * that scales (an interpreted transform() re-hashes every shingle per
    * signature slot; this hashes once per slot inside codegen).
    */
  private[graft] def minHashSignatures(rows: DataFrame, numHashes: Int): DataFrame = {
    // Input is (id, shingle) rows (duplicates allowed — min() is
    // duplicate-insensitive). Hash each shingle STRING once; each
    // signature slot then re-mixes the 12-byte (slot, hash) pair — a
    // fixed-width xxhash64, not a re-traversal of the string. Same
    // minhash guarantees (each slot is an independent permutation of
    // the first-level hash space), ~4x less hashing work in the hot
    // aggregate. (Multiply-shift would be cheaper still, but Long
    // overflow throws under ANSI mode.)
    val inverted = rows.select(col("id"), xxhash64(col("shingle")).as("hx"))
    val aggs = (0 until numHashes).map(h =>
      min(xxhash64(lit(h), col("hx"))).as(s"__mh$h"))
    inverted.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(h => col(s"__mh$h")): _*).as("sig"))
  }

  /** (id, shingle) rows for a whole corpus, fully whole-stage-codegen'd:
    * explode the shingle START POSITIONS and assemble each n-gram with
    * `element_at` (n is a plan-time constant, so the concat unrolls into
    * straight-line generated code). Measured 12× faster than building
    * per-row shingle arrays with `transform` — higher-order functions
    * are CodegenFallback, so every lambda invocation pays interpreted
    * dispatch on the corpus-scale path. NOT deduplicated per document
    * (min-hash is duplicate-insensitive; consumers needing set
    * semantics aggregate with countDistinct / collect_set downstream).
    * Documents shorter than n tokens contribute their whole text as one
    * shingle, matching `shinglesFromTokens`; the `when` guards keep
    * `element_at` inside the taken branch, so ANSI mode never sees an
    * out-of-range index.
    */
  private[graft] def shingleRows(df: DataFrame, idCol: String, textCol: String,
                                 n: Int): DataFrame = {
    // single-split scans spread to session parallelism before the
    // CPU-heavy explode (Par.spread is a no-op on parallel/derived
    // inputs — never a corpus-wide shuffle at scale)
    val t = Par.spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")))
      .select(col("id"), tokens(col("__txt")).as("t"))
    val gram = concat_ws(" ", (0 until n).map(j => element_at(col("t"), col("__i") + j)): _*)
    t.select(col("id"), col("t"),
        explode(when(size(col("t")) >= n, sequence(lit(1), size(col("t")) - (n - 1)))
          .otherwise(array(lit(1)))).as("__i"))
      .select(col("id"),
        when(size(col("t")) >= n, gram)
          .otherwise(concat_ws(" ", col("t"))).as("shingle"))
  }

  /** MinHash + LSH banding near-duplicate candidate pairs.
    *
    * Pipeline: shingle → signature → collapse identical signatures to
    * one representative ([[lshSigReps]] — the clone-cluster guard) →
    * explode one row per band (band key = hash of that band's
    * signature slice) → self-equi-join on (band, key) over the
    * representatives → expand surviving representative pairs over
    * their clone groups → estimate Jaccard as the fraction of matching
    * signature components (1.0 by construction inside a clone group).
    *
    * Scale: the only shuffles are hash-partitioned on short keys (the
    * signature group key, the band key, the representative ids).
    * Bucket skew from DISTINCT signatures is bounded because a band
    * key is 64 bits of minhash — those collisions are genuine
    * near-dups; the one hot-key structure real corpora produce at
    * scale — a boilerplate mega-cluster of IDENTICAL documents — is
    * collapsed to a single row per bucket before the join, so
    * candidate work scales with distinct signatures, never with clone
    * counts (spec-gated). Near-identical-but-distinct floods can still
    * heat a bucket; `graft.lsh.bucketCap` (opt-in) bounds those with a
    * loud, documented recall trade — see [[lshRepPairs]].
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    lshBandPairs(minHashSignatures(shingleRows(df, idCol, textCol, shingleSize),
      numHashes), numHashes, bands)

  /** One (band, bkey) struct per band for a signature column — the
    * single definition both the in-memory band join and the persisted
    * band index use, so writer and prober can never drift.
    */
  private def bandKeyArray(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bkey"))
    }: _*)
  }

  /** The 128-bit structural group key of a signature vector: two
    * independent xxhash64 lanes. Grouping and joining on two LONGs
    * instead of the 8·numHashes-byte array keeps every collapse stage
    * hash-based (an array join key costs corpus-wide sorts) and — the
    * big one — makes the member mapping a MAP-SIDE projection instead
    * of a corpus⋈groups join-back. Two distinct signatures sharing
    * both lanes would merge groups; at P ≈ 2⁻¹²⁸ per pair this sits
    * far below the operator's existing 64-bit band-key event class
    * (band keys already gate which candidates exist).
    */
  private def sigKeyCols(sig: Column): Seq[Column] =
    Seq(xxhash64(sig).as("__k1"), xxhash64(lit(1), sig).as("__k2"))

  /** One representative row per DISTINCT signature: (__k1, __k2, sig).
    * The clone-cluster collapse key: band keys are a pure function of
    * the signature, so ids sharing a signature form an equivalence
    * class — every band decision (and every lane-match count) made for
    * the representative holds for every member. Exact clones
    * (boilerplate pages, templated spam — the dominant duplicate
    * structure of a web crawl) shingle identically and therefore sign
    * identically, so a 10⁶-member flood contributes ONE row to every
    * band join instead of 10⁶ rows to one bucket. Same
    * exactness-preserving move as [[edSelf]]'s distinct-string
    * collapse (round 12), lifted from strings to signatures.
    */
  private[graft] def lshSigReps(sig: DataFrame): DataFrame =
    sig.select(sigKeyCols(col("sig")) :+ col("sig"): _*)
      .groupBy(col("__k1"), col("__k2"))
      .agg(first(col("sig")).as("sig")) // identical within a group

  /** One-row candidate-volume DIAGNOSTIC for the MinHash banding:
    * (distinct_signatures, buckets, candidate_pairs) where
    * candidate_pairs = Σ_bucket C(n, 2) over the (band, bkey) buckets
    * of DISTINCT-signature representatives — the exact self-join
    * volume [[lshRepPairs]] pays before the lane-match filter (a pair
    * colliding in k bands is counted k times, exactly as the join
    * emits it). One aggregate over the banded reps, no join —
    * [[simHashCandidateStats]]' counterpart for the minhash tier, so
    * a scale study can adjudicate the minhash wall against candidate
    * growth instead of inferring it (PERFORMANCE.md rounds 17-18).
    */
  def lshCandidateStats(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int,
                        bands: Int): DataFrame = {
    val reps = lshSigReps(minHashSignatures(
      shingleRows(df, idCol, textCol, shingleSize), numHashes))
    reps.select(explode(bandKeyArray(col("sig"), numHashes, bands)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n")), lit(0L)).as("__rows"),
        count(lit(1)).as("buckets"),
        coalesce(sum(col("__n") * (col("__n") - 1) / 2), lit(0L))
          .cast("long").as("candidate_pairs"))
      .select((col("__rows") / bands).cast("long").as("distinct_signatures"),
        col("buckets"), col("candidate_pairs"))
  }

  /** (r1, r2, est_jaccard) candidate pairs over the DISTINCT-signature
    * representatives `reps` = (sig, rid) — the band self-join, run on
    * one row per signature. Candidate volume is therefore a function
    * of distinct signatures, never of clone multiplicity (spec-gated
    * on an engineered clone flood).
    *
    * `graft.lsh.bucketCap` (session conf, opt-in): buckets holding
    * more than this many DISTINCT signatures are dropped from the
    * join with loud stderr accounting — the escape hatch for
    * near-identical-but-distinct floods (j ≈ 0.999 clusters whose
    * members sign differently but still collide in most bands), where
    * one (band, bkey) bucket is quadratic in distinct signatures and
    * no skew split makes it linear. The trade is RECALL: pairs
    * connected ONLY through a dropped bucket are lost (they usually
    * also collide in a surviving band — that is what banding is for);
    * exact clone groups are immune (collapsed to one row, they never
    * overflow a bucket). Default off: results are bit-identical to the
    * uncapped join.
    */
  private[graft] def lshRepPairs(reps: DataFrame, numHashes: Int,
                                 bands: Int): DataFrame = {
    val banded0 = reps.select(col("__k1"), col("__k2"), col("sig"),
      explode(bandKeyArray(col("sig"), numHashes, bands)).as("bk"))
      .select(col("__k1"), col("__k2"), col("sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val banded = capHotBuckets(banded0, Seq("band", "bkey"), "lshRepPairs")
    val l = banded.select(col("band"), col("bkey"),
      col("__k1").as("__k1_a"), col("__k2").as("__k2_a"), col("sig").as("sig1"))
    val r = banded.select(col("band"), col("bkey"),
      col("__k1").as("__k1_b"), col("__k2").as("__k2_b"), col("sig").as("sig2"))
    // matching-lane count unrolled over the plan-time-constant lane
    // count (signatures are length-numHashes by construction): a
    // codegen'd integer sum instead of an interpreted zip_with/filter
    // pass per candidate pair (HOFs are CodegenFallback)
    val matches = (1 to numHashes)
      .map(i => when(element_at(col("sig1"), i) === element_at(col("sig2"), i),
        1).otherwise(0))
      .reduce(_ + _)
    // each unordered group pair once, oriented by the lexicographic
    // (k1, k2) order (keys are unique per group)
    l.join(r, Seq("band", "bkey"))
      .filter(col("__k1_a") < col("__k1_b") ||
        (col("__k1_a") === col("__k1_b") && col("__k2_a") < col("__k2_b")))
      .select(col("__k1_a"), col("__k2_a"), col("__k1_b"), col("__k2_b"),
        (matches / lit(numHashes.toDouble)).as("est_jaccard"))
      .groupBy(col("__k1_a"), col("__k2_a"), col("__k1_b"), col("__k2_b"))
      .agg(round(max(col("est_jaccard")), 4).as("est_jaccard"))
  }

  /** Opt-in hot-bucket cap (`graft.lsh.bucketCap`, session conf)
    * shared by every banded/blocked candidate self-join: drop buckets
    * (grouped by `keys`) holding more than the cap's DISTINCT
    * signatures, with loud stderr accounting — the escape hatch for
    * near-identical-but-distinct floods, where one bucket is quadratic
    * in distinct signatures and no skew split makes it linear. The
    * trade is RECALL (pairs connected ONLY through a dropped bucket
    * are lost; they usually also collide in a surviving bucket); exact
    * clone groups are immune — collapsed to one row upstream, they
    * never overflow. Default off: bit-identical to the uncapped join.
    *
    * Audit trail (`graft.lsh.bucketCapLedgerDir`, same conf family):
    * when set, every engaged cap ALSO writes one parquet row per
    * dropped bucket — (op, cap, bucket = "k=v,..." of `keys`,
    * signatures) — at 100 TB an executor/driver stderr line is not an
    * audit trail; this is the fuzzy router's `ledger_dir` pattern
    * applied to the recall trade. TWO write arms: in batch mode
    * (no streaming tag) the write is a plain append, NOT
    * replay-deduplicated — a retried job may append its rows again
    * (audit rows can repeat, results cannot). Under the streaming
    * curation loop — `graft.lsh.bucketCapLedgerBatch` set per
    * micro-batch — the rows land under a (batch, op, stage) partition
    * with dynamic overwrite instead: a REPLAYED micro-batch overwrites
    * its own audit rows, exactly-once like the loop's other writes.
    * `stage` comes from `graft.lsh.bucketCapLedgerStage` (the loop
    * sets it to the stage's pipeline index; default 0), so two stages
    * of the SAME operator inside one micro-batch — e.g. two
    * minhash_dedup stages, both opName=lshRepPairs — keep distinct
    * audit partitions instead of the second overwrite silently
    * deleting the first's rows. Default unset: stderr only.
    */
  private def capHotBuckets(banded: DataFrame, keys: Seq[String],
                            opName: String): DataFrame = {
    val conf = banded.sparkSession.conf
    val cap = conf.get("graft.lsh.bucketCap", Int.MaxValue.toString).toInt
    require(cap >= 0, s"graft.lsh.bucketCap must be >= 0, got $cap")
    if (cap == Int.MaxValue) banded
    else {
      // ONE bucket aggregate for all three consumers — the overflow
      // accounting head(), the optional ledger write, and the
      // anti-join inside the returned plan; unpinned, each consumer
      // re-runs the banded subtree's corpus-wide aggregate (the
      // documented fan-out trap). Engaged-cap only: the default-off
      // path stays zero-cost and pin-free (the streaming pin-flatness
      // arms run uncapped). Pinned through IterPin (checkpointDir
      // routing + the graft.iter.free hatch) and FREED deterministically
      // on the common path: hot buckets are outliers by construction
      // (at most rows/cap of them), so the key set collects under the
      // repo's 2M broadcast gate, the pin releases before return, and
      // the returned plan anti-joins against a BROADCAST local relation
      // instead of a pinned RDD scan.
      val hot = IterPin.pin(banded.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap))
      // loud overflow accounting (an eager aggregate — the cap is
      // opt-in, and a silent recall cut would be worse than the job)
      val st = hot.agg(count(lit(1)).as("b"),
        coalesce(sum(col("__n")), lit(0L)).as("r")).head()
      val nHot = st.getLong(0)
      if (nHot > 0L) {
        System.err.println(
          s"[graft] $opName bucket cap $cap: dropping " +
            s"$nHot hot buckets (${st.getLong(1)} signature " +
            "rows); pairs connected ONLY through a dropped bucket are " +
            "lost — recall trade, see README 'Operating a long-running " +
            "deployment'")
        conf.getOption("graft.lsh.bucketCapLedgerDir").foreach { dir =>
          val rows = hot.select(lit(opName).as("op"), lit(cap).as("cap"),
            concat_ws(",", keys.map(k =>
              concat(lit(s"$k="), col(k).cast("string"))): _*).as("bucket"),
            col("__n").as("signatures"))
          // `graft.lsh.bucketCapLedgerBatch` (set per micro-batch by
          // the streaming curation loop) routes the audit rows under a
          // (batch, op, stage) partition with dynamic overwrite: a
          // REPLAYED micro-batch overwrites its own audit rows —
          // exactly-once, like the loop's other writes. op AND the
          // loop-assigned stage index are both in the partition key so
          // neither two different capped operators nor two stages of
          // the SAME operator inside one batch clobber each other.
          // Unset — the batch form — stays a plain append: audit rows
          // may repeat on a job retry, results cannot.
          conf.getOption("graft.lsh.bucketCapLedgerBatch") match {
            case Some(b) =>
              val stage = conf
                .get("graft.lsh.bucketCapLedgerStage", "0").toInt
              rows.withColumn("batch", lit(b.toLong))
                .withColumn("stage", lit(stage))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", "op", "stage").parquet(dir)
            case None => rows.write.mode("append").parquet(dir)
          }
        }
      }
      // spec seam: `graft.lsh.bucketCapBroadcastMax` (default = the
      // repo's 2M broadcast gate) lets the >max pinned-scan branch be
      // forced at test size and differentially asserted against the
      // broadcast branch — not an operator knob
      val broadcastMax = conf
        .get("graft.lsh.bucketCapBroadcastMax", "2000000").toLong
      if (nHot == 0L) { IterPin.free(hot); banded }
      else if (nHot <= broadcastMax) {
        val hotKeys = hot.select(keys.map(col): _*)
        val schema = hotKeys.schema
        val rows = hotKeys.collect()
        IterPin.free(hot) // all three consumers have run
        val local = banded.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
        banded.join(broadcast(local), keys, "left_anti")
      } else {
        // an overflow set past the broadcast gate: keep the pinned
        // scan in the plan (a broadcast that size would be its own
        // hazard); this pin frees via the context cleaner once the
        // caller's materialization drops the plan — the one documented
        // IterPin exemption (README graft.iter.free row)
        banded.join(hot.select(keys.map(col): _*), keys, "left_anti")
      }
    }
  }

  /** (id1, id2, est_jaccard) candidate pairs from banded signatures —
    * [[lshRepPairs]] over the distinct-signature representatives, then
    * the group-wise expansion. Bit-identical to banding every id
    * directly: a cross-group member pair collides in a band iff its
    * representatives do (band keys are signature-pure) with the same
    * lane-match count, and an intra-group pair matches on every lane,
    * so est_jaccard = 1.0 exactly. The member mapping is a MAP-SIDE
    * projection (id, structural key) — no join-back of the corpus
    * against the groups — and every expansion join hashes on two
    * longs; a mega-group's quadratic OUTPUT (its pairs ARE the answer
    * in this pairs-level API) is spread by AQE's skew split, and —
    * unlike the pre-collapse plan — it is paid once, not once per
    * band plus a corpus-wide distinct.
    */
  private def lshBandPairs(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val (members, repPairs) = lshCollapsed(sig, numHashes, bands)
    expandRepPairs(members, Seq("__k1", "__k2"), repPairs,
      Seq(col("est_jaccard")), Seq(lit(1.0).as("est_jaccard")))
  }

  /** The collapse front half shared by [[lshBandPairs]] and
    * [[ngramJaccardPairs]]' LSH mode: (members = (__k1, __k2, id) —
    * map-side, no join), repPairs over the distinct signatures.
    */
  private def lshCollapsed(sig: DataFrame, numHashes: Int,
                           bands: Int): (DataFrame, DataFrame) = {
    val members = sig.select(sigKeyCols(col("sig")) :+ col("id"): _*)
    (members, lshRepPairs(lshSigReps(sig), numHashes, bands))
  }

  /** Group-wise expansion of representative pairs to member pairs.
    * `members` = key columns `keys` + `id`; `repPairs` carries the
    * pair's keys as `<k>_a` / `<k>_b`. Cross-group pairs carry
    * `crossExtra` (columns of `repPairs`), intra-group pairs (an
    * equivalence class — every unordered member pair of a >= 2 group)
    * carry `intraExtra`. All joins hash on the key columns; the three
    * member-side exchanges share one canonical subtree.
    */
  private def expandRepPairs(members: DataFrame, keys: Seq[String],
                             repPairs: DataFrame,
                             crossExtra: Seq[Column],
                             intraExtra: Seq[Column]): DataFrame = {
    val mA = members.select(
      keys.map(k => col(k).as(k + "_a")) :+ col("id").as("m1"): _*)
    val mB = members.select(
      keys.map(k => col(k).as(k + "_b")) :+ col("id").as("m2"): _*)
    val cross = repPairs
      .join(mA, keys.map(_ + "_a"))
      .join(mB, keys.map(_ + "_b"))
      .select(least(col("m1"), col("m2")).as("id1") +:
        greatest(col("m1"), col("m2")).as("id2") +: crossExtra: _*)
      // a repeated id value spanning two signature groups would emit
      // an id1 == id2 row the pre-collapse `id1 < id2` filter silently
      // dropped — keep that contract (see [[editDistancePairs]])
      .filter(col("id1") =!= col("id2"))
    val intra = members.select(keys.map(col) :+ col("id").as("id1"): _*)
      .join(members.select(keys.map(col) :+ col("id").as("id2"): _*), keys)
      .filter(col("id1") < col("id2"))
      .select(col("id1") +: col("id2") +: intraExtra: _*)
    cross.unionByName(intra)
  }

  /** Connectivity-THIN edges over a member mapping + surviving rep
    * pairs: one STAR edge (group-canonical member, member) per clone
    * group member plus ONE edge per rep pair — |members| + |rep pairs|
    * edges whose connected components EQUAL the expanded member-pair
    * graph's. A clone group is an equivalence class, so its star spans
    * exactly the clique the expansion would emit, and a cross-group
    * rep pair holds for EVERY member pair of the two groups (the
    * expansion emits the complete bipartite graph — one canonical edge
    * has the same connectivity). Node sets match too: every >= 2 group
    * rides its star (its intra pairs are always in the pair graph);
    * a singleton group appears iff one of its rep pairs survives —
    * exactly when the expansion would include it. The SURVIVOR-path
    * counterpart of [[expandRepPairs]]: components/resolveDuplicates
    * consumers get linear-in-corpus edges where the pair expansion is
    * quadratic per clone group.
    */
  private def thinComponentEdges(members: DataFrame, keys: Seq[String],
                                 repPairs: DataFrame): DataFrame = {
    val canon = members.groupBy(keys.map(col): _*)
      .agg(min(col("id")).as("__cid"))
    val star = members.join(canon, keys)
      .filter(col("id") =!= col("__cid"))
      .select(col("__cid").as("id1"), col("id").as("id2"))
    val cA = canon.select(
      keys.map(k => col(k).as(k + "_a")) :+ col("__cid").as("__ca"): _*)
    val cB = canon.select(
      keys.map(k => col(k).as(k + "_b")) :+ col("__cid").as("__cb"): _*)
    val cross = repPairs
      .join(cA, keys.map(_ + "_a"))
      .join(cB, keys.map(_ + "_b"))
      .select(least(col("__ca"), col("__cb")).as("id1"),
        greatest(col("__ca"), col("__cb")).as("id2"))
      // a repeated id value spanning two groups would self-loop; keep
      // the expandRepPairs guard's contract
      .filter(col("id1") =!= col("id2"))
    star.unionByName(cross)
  }

  /** Connectivity-thin MinHash-LSH duplicate edges at `minEstJaccard`:
    * (id1, id2) whose connected components EQUAL those of
    * `minHashLshPairs(...).filter(est_jaccard >= minEstJaccard)` — the
    * survivor-selection input — at |corpus| + |rep pairs| edges
    * instead of the pair set's per-clone-group quadratic cliques.
    * Exact by the collapse argument: est_jaccard is a pure function of
    * the signature (an intra-group pair sits at exactly 1.0 >= any
    * threshold <= 1; a cross-group member pair inherits its rep
    * pair's estimate), so the group star plus one edge per surviving
    * rep pair reproduce the pair graph's connectivity bit for bit
    * (differential-spec'd). THE scale path for dedup survivor
    * selection: a 10⁶-member boilerplate flood contributes 10⁶ star
    * edges to the component step, not the 5·10¹¹ clique rows the
    * pairs API must emit — reach for [[minHashLshPairs]] only when the
    * pairs themselves are the product.
    */
  def minHashLshDedupEdges(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int, numHashes: Int, bands: Int,
                           minEstJaccard: Double): DataFrame = {
    require(minEstJaccard <= 1.0,
      "minEstJaccard must be <= 1.0 (intra-clone pairs sit at exactly " +
        s"1.0, so a higher cut would drop whole clone groups), got $minEstJaccard")
    val (members, repPairs) = lshCollapsed(
      minHashSignatures(shingleRows(df, idCol, textCol, shingleSize), numHashes),
      numHashes, bands)
    thinComponentEdges(members, Seq("__k1", "__k2"),
      repPairs.filter(col("est_jaccard") >= minEstJaccard))
  }

  /** (id, sim) 48-bit SimHash per document: explode the token multiset,
    * hash each token ONCE, then one hash aggregate with 48 ±1-vote sum()
    * columns folded into the fingerprint. Codegen'd end to end with
    * map-side combine — the interpreted per-row aggregate() version was
    * ~60x slower because each bit lane re-hashed every token. The token
    * hash is the integer value of the first 12 hex digits of
    * md5(token) — the engine-portable hash, so the DuckDB oracle
    * replays the ENTIRE simhash pipeline (votes → fingerprint → block
    * join → hamming filter) and hash-matches the full pair output at
    * any corpus scale.
    */
  private[graft] val SimHashBits = 48

  private[graft] def simHashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // single-split scans spread before the token explode (see shingleRows)
    val toksHashed = Par.spread(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")))
      .select(col("id"), explode(tokens(col("__txt"))).as("tok"))
      .select(col("id"),
        conv(substring(md5(col("tok").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("h"))
    val votes = (0 until SimHashBits).map(b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"__b$b"))
    toksHashed.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until SimHashBits).map(b =>
          when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sim"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming.
    *
    * Pigeonhole blocking: any pair within hamming distance h must agree
    * on at least one of h+1 fingerprint blocks, so the candidate join
    * is an equi-join on (block_idx, block_val) — never an all-pairs
    * scan. The block COUNT tracks maxHamming (exactly h+1 blocks):
    * fewest blocks = widest blocks = fewest candidates, since candidate
    * volume per block is ~n²·P(block collision) = n²/2^width. At the
    * classic Manku et al. operating point (hamming <= 3) this gives 4
    * blocks of 12 bits — n²/4096 per block — where a fixed 6-bit
    * blocking would pay n²/64, a 64× difference that decides whether
    * the join survives a boilerplate-heavy corpus. The exact hamming
    * filter runs on every candidate, so the RESULT is identical under
    * any covering block layout (which is also why the external oracle
    * may replay a different covering layout and still hash-match).
    *
    * Clone floods: identical token multisets produce identical
    * fingerprints, and the blocking runs on ONE representative per
    * DISTINCT fingerprint (the lshBandPairs collapse — exact, since
    * block values and hamming are pure functions of the fingerprint),
    * so a boilerplate mega-cluster costs one row per bucket, not a
    * quadratic self-join. [[simHashBucketStats]] shows the buckets a
    * near-identical-but-DISTINCT flood still makes hot.
    *
    * SCALE CEILING on DIVERSE corpora: the pigeonhole bucket space is
    * FIXED (~832 (blk, bval) buckets at 48-bit/h=6), so candidate mass
    * is Θ(n²) in DISTINCT fingerprints — the collapse only absorbs
    * exact clones. For survivor selection, go through
    * [[simHashDedupEdgesAutoLedger]], whose one-aggregate pre-flight
    * routes over-budget corpora to the diversity-safe minhash tier. The
    * pairs form has no routed equivalent because its OUTPUT is the pair
    * set itself — quadratic whenever the near-dup truth is; measure with
    * [[simHashCandidateStats]] before running it at scale.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    val (members, repPairs) = simHashRepPairs(df, idCol, textCol, maxHamming)
    expandRepPairs(members, Seq("__g"), repPairs,
      Seq(col("hamming")), Seq(lit(0).as("hamming")))
  }

  /** [[simHashPairs]]' connectivity-thin counterpart for SURVIVOR
    * selection: (id1, id2) edges whose connected components equal the
    * full pair set's. Hamming distance is a pure function of the two
    * fingerprints — an intra-group pair sits at hamming 0 <= maxHamming
    * always, a cross-group member pair inherits its representatives'
    * hamming — so the group star + one edge per rep pair reproduce the
    * pair graph's connectivity exactly ([[thinComponentEdges]]).
    * At scale, prefer [[simHashDedupEdgesAutoLedger]] — this plain
    * form pays the fixed-bucket-space Θ(n²) candidate mass unguarded
    * on a diverse corpus.
    */
  def simHashDedupEdges(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int): DataFrame = {
    val (members, repPairs) = simHashRepPairs(df, idCol, textCol, maxHamming)
    thinComponentEdges(members, Seq("__g"), repPairs)
  }

  /** [[simHashDedupEdges]] behind a CANDIDATE-BUDGET router — the
    * scale guard the simhash tier needs that the other sketch tiers do
    * not: its pigeonhole bucket space is FIXED (maxHamming + 1 blocks
    * of ≤ 2^width values — ~832 (blk, bval) buckets at the wired
    * 48-bit/h=6 point), so on a DIVERSE corpus n distinct fingerprints
    * spread over a constant number of buckets and the verification
    * self-join's candidate mass Σ_bucket C(n_b, 2) grows Θ(n²) no
    * matter how the clone collapse or the hot-bucket cap behave.
    * MEASURED (r19, diverse unique-token corpora — artifacts/r19/
    * scale_edges_diverse_sf{1,10}.json): sf1 531M candidates over
    * 45.8k distinct fingerprints in 812 buckets (wall 113 s); sf10
    * 33.05 BILLION over 384k fingerprints in 831 buckets — ×62 for
    * ×10 data, a projected ~2 h raw wall at the measured 0.21 µs per
    * candidate, where this router's pre-flight cost 4.2 s and the
    * routed minhash arm finished in ~8 min. The minhash tier does
    * NOT share the defect: its (band, bkey) space grows with
    * signature diversity, so collisions require genuine similarity —
    * 1.7M candidates on the same sf1 corpus (314× less), 170M at
    * sf10 (all true near-dup structure, per-candidate cost falling).
    *
    * PRE-FLIGHT: [[simHashCandidateStats]] — one aggregate over the
    * collapsed pigeonhole blocking, no join — measures the EXACT
    * candidate mass the verification stage would pay. Within
    * `candidateBudget`, the plain [[simHashDedupEdges]] runs
    * (bit-identical, spec-gated). Over budget, it routes to
    * [[minHashLshDedupEdges]] at (`shingleSize`, `numHashes`, `bands`,
    * `minEstJaccard`). The results are a DIFFERENT near-dup relation
    * (estimated shingle-Jaccard edges, not fingerprint-hamming edges) —
    * both are survivor-selection edge graphs, but pairs near either cut
    * can differ, which is exactly why the decision is returned as an
    * auditable LEDGER row rather than made silently, and why the routed
    * form carries its own oracle gate (dd32) rather than inheriting
    * dd03's. MEASURED shift at the wired defaults (sf1_div diverse
    * corpus — artifacts/r20/route_overlap_sf1_div.json): est-J ≥ 0.9
    * pairs are 97% hamming-true but cover only 0.56% of the hamming ≤ 6
    * pair set (42.9k vs 7.49M pairs; survivor sets 29,087 vs 1,970 of
    * 50k, Jaccard 0.068) — the route is a TIGHTER merge radius, so lower
    * `minEstJaccard` if the hamming relation's looser merge was
    * load-bearing. A session-wide `graft.lsh.bucketCap` still applies to
    * the simhash arm's blocking.
    *
    * The same guarded-quadratic eligibility discipline as the
    * clone-density router ([[ngramJaccardDedupEdgesAutoLedger]]) and
    * the reference's leapfrog join (reference: packages/pycypher/src/
    * pycypher/leapfrog_triejoin.py:421-461); the pre-flight costs one
    * linear fingerprint pass — noise against either arm's join.
    *
    * Ledger row: (route, distinct_fingerprints, buckets,
    * candidate_pairs, candidate_budget, max_hamming).
    */
  def simHashDedupEdgesAutoLedger(df: DataFrame, idCol: String,
                                  textCol: String, maxHamming: Int,
                                  candidateBudget: Long = 2000000000L,
                                  shingleSize: Int = 3, numHashes: Int = 64,
                                  bands: Int = 16,
                                  minEstJaccard: Double = 0.9)
  : (DataFrame, DataFrame) = {
    require(candidateBudget >= 0L,
      s"candidateBudget must be >= 0, got $candidateBudget")
    // validated before routing so every route fails identically
    require(minEstJaccard <= 1.0,
      "minEstJaccard must be <= 1.0 (intra-clone pairs sit at exactly " +
        s"1.0, so a higher cut would drop whole clone groups), got $minEstJaccard")
    val st = simHashCandidateStats(df, idCol, textCol, maxHamming).head()
    val cand = st.getLong(2)
    val route = if (cand > candidateBudget) "minhash" else "simhash"
    val led = ledger(df.sparkSession, "simhash dedup-edges",
      "route" -> route, "distinct_fingerprints" -> st.getLong(0),
      "buckets" -> st.getLong(1), "candidate_pairs" -> cand,
      "candidate_budget" -> candidateBudget, "max_hamming" -> maxHamming)
    val edges =
      if (route == "simhash") simHashDedupEdges(df, idCol, textCol, maxHamming)
      else minHashLshDedupEdges(df, idCol, textCol, shingleSize, numHashes,
        bands, minEstJaccard)
    (edges, led)
  }

  /** The one stderr line of a routing decision:
    * `[graft] <kind> routing: name=value …`.
    */
  private def logRouting(kind: String, fields: Seq[(String, Any)]): Unit =
    System.err.println(s"[graft] $kind routing: " +
      fields.map { case (k, v) => s"$k=$v" }.mkString(" "))

  /** The one-row routing LEDGER of a dedup router, logged through
    * [[logRouting]] from the same fields. Column types follow the values
    * as `Seq(tuple).toDF` types them: String nullable; Long, Int, Double
    * and Boolean not.
    */
  private def ledger(spark: SparkSession, kind: String,
                     fields: (String, Any)*): DataFrame = {
    logRouting(kind, fields)
    val schema = StructType(fields.map { case (k, v) =>
      val t = v match {
        case _: String => StringType
        case _: Long => LongType
        case _: Int => IntegerType
        case _: Double => DoubleType
        case _: Boolean => BooleanType
      }
      StructField(k, t, nullable = t == StringType)
    })
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(fields.map(_._2): _*)), schema)
  }

  /** Pigeonhole split of the 48-bit fingerprint space into
    * `maxHamming + 1` blocks: (widths, offsets). Any pair within
    * `maxHamming` agrees on at least one whole block (Manku et al.).
    */
  private def simHashBlocks(maxHamming: Int): (Seq[Int], Seq[Int]) = {
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"maxHamming must be in [0, $SimHashBits)")
    val nBlocks = maxHamming + 1
    val base = SimHashBits / nBlocks
    val rem = SimHashBits % nBlocks
    val widths = Seq.tabulate(nBlocks)(i => base + (if (i < rem) 1 else 0))
    (widths, widths.scanLeft(0)(_ + _).init)
  }

  /** One row of (sim, blk, bval) per pigeonhole block per row of
    * `groups` — over distinct fingerprints, the candidate-generation
    * frame both simhash forms self-join.
    */
  private def simHashBlockedReps(groups: DataFrame,
                                 maxHamming: Int): DataFrame = {
    val (widths, offsets) = simHashBlocks(maxHamming)
    groups.select(col("sim"),
      explode(array(widths.indices.map { b =>
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("sim"), offsets(b))
            .bitwiseAND((1L << widths(b)) - 1).as("bval"))
      }: _*)).as("kb"))
      .select(col("sim"), col("kb.blk").as("blk"), col("kb.bval").as("bval"))
  }

  /** One-row candidate-volume DIAGNOSTIC for the simhash blocking:
    * (distinct_fingerprints, buckets, candidate_pairs) where
    * candidate_pairs = Σ_bucket C(n, 2) — the self-join volume the
    * verification stage pays BEFORE the hamming filter, over the same
    * collapse + pigeonhole split [[simHashPairs]] uses (so the number
    * is the operator's true candidate mass, not an estimate). Costs
    * one aggregate over the blocked reps — no join. The scale-study
    * companion of [[simHashBucketStats]]: candidate growth, not
    * output growth, is what moved simhash's per-output-row cost at
    * sf10 (PERFORMANCE.md round 18).
    */
  def simHashCandidateStats(df: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int): DataFrame = {
    val groups = simHashes(df, idCol, textCol).select(col("sim")).distinct()
    simHashBlockedReps(groups, maxHamming)
      .groupBy(col("blk"), col("bval")).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("buckets"),
        coalesce(sum(col("__n") * (col("__n") - 1) / 2), lit(0L))
          .cast("long").as("candidate_pairs"))
      .crossJoin(groups.agg(count(lit(1)).as("distinct_fingerprints")))
      .select(col("distinct_fingerprints"), col("buckets"),
        col("candidate_pairs"))
  }

  /** The shared blocking + verification core of the two simhash forms:
    * (members = (__g = fingerprint, id), verified rep pairs).
    */
  private def simHashRepPairs(df: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int): (DataFrame, DataFrame) = {
    val (widths, offsets) = simHashBlocks(maxHamming)
    val nBlocks = widths.size
    val sigDf = simHashes(df, idCol, textCol)
    // CLONE-CLUSTER COLLAPSE (the lshBandPairs rule on the 48-bit
    // fingerprint, which is a pure function of the token multiset):
    // block and verify ONE representative per distinct fingerprint —
    // an exact-clone flood contributes one row per pigeonhole bucket
    // instead of |cluster| rows whose self-join is quadratic — then
    // expand group-wise (intra pairs are hamming 0 by construction,
    // cross pairs share their representatives' hamming). The
    // fingerprint ITSELF is the group key (one long — exact, no hash
    // lane needed) and the member mapping is a map-side projection.
    val groups = sigDf.select(col("sim")).distinct()
    val members = sigDf.select(col("sim").as("__g"), col("id"))
    val blocked = simHashBlockedReps(groups, maxHamming)
    val capped =
      capHotBuckets(blocked, Seq("blk", "bval"), "simHashPairs")
    val l = capped.select(col("blk"), col("bval"), col("sim").as("sim1"))
    val r = capped.select(col("blk"), col("bval"), col("sim").as("sim2"))
    // emit each pair ONLY from its first agreeing block (all earlier
    // blocks must differ): pairs agreeing on k blocks would otherwise
    // reach the output k times and need a shuffle-heavy distinct over
    // the full near-dup mass — this dedups at the join, in codegen,
    // for free (Manku et al.'s probe-order trick)
    def blockVal(sim: Column, i: Int): Column =
      shiftrightunsigned(sim, offsets(i)).bitwiseAND((1L << widths(i)) - 1)
    val firstAgree = (0 until nBlocks).map { b =>
      (0 until b).map(a => blockVal(col("sim1"), a) =!= blockVal(col("sim2"), a))
        .foldLeft(col("blk") === b)(_ && _)
    }.reduce(_ || _)
    val repPairs = l.join(r, Seq("blk", "bval"))
      .filter(col("sim1") < col("sim2"))
      .filter(firstAgree)
      .select(col("sim1").as("__g_a"), col("sim2").as("__g_b"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    (members, repPairs)
  }

  /** Per-bucket candidate histogram for `simHashPairs` — the standalone
    * observability view: (blk, bval, rows, distinct_fingerprints) for
    * every pigeonhole bucket, heaviest first. Run it when a simhash
    * job stragglers: `distinct_fingerprints` is the bucket's actual
    * self-join width after the clone collapse (exact clones cost one
    * row), `rows` the raw document count landing there.
    */
  def simHashBucketStats(df: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int): DataFrame = {
    simHashBlockedReps(simHashes(df, idCol, textCol), maxHamming)
      .groupBy(col("blk"), col("bval"))
      .agg(count(lit(1)).as("rows"),
        countDistinct(col("sim")).as("distinct_fingerprints"))
      .orderBy(col("rows").desc)
  }

  /** Exact n-gram Jaccard pairs >= threshold. The DEFAULT is the
    * guaranteed-recall inverted-index mode (`exhaustive = true`): any
    * pair with j > 0 shares a shingle, so recall at the threshold is 1
    * by construction — the semantics the name promises and the mode the
    * DuckDB all-pairs oracle certifies (same candidate path, not a
    * lookalike). `exhaustive = false` opts into MinHash-LSH candidate
    * generation for corpus scales where the inverted index's
    * per-shingle f² join blowup bites: candidate id-pairs come from
    * `lshBandPairs` (ids only through the band join), then the SAME
    * exact verification pass. LSH recall at the threshold is
    * probabilistic — with 64 hashes / 16 bands a pair exactly at j=0.5
    * is missed with P ≈ 0.35, shrinking fast above it (P(miss | j=0.9)
    * ≈ 4e-8) — so the opt-in trades guaranteed threshold recall for
    * scale; quantify with a recall query against the exhaustive mode
    * before relying on it (see dd02_minhash_lsh's oracled recall row).
    *
    * Either way verification attaches both distinct-shingle sets and
    * computes Jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) with a single
    * array_intersect — work proportional to the candidate count, never
    * to the corpus pair count.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxShingleDf: Int = 1000,
                        numHashes: Int = 64, bands: Int = 16,
                        exhaustive: Boolean = true): DataFrame = {
    val rows = shingleRows(df, idCol, textCol, n)
    if (exhaustive)
      countJaccardPairs(rows.dropDuplicates("id", "shingle"),
        threshold, maxShingleDf)
    else lshVerifiedJaccardPairs(rows, threshold, numHashes, bands)
  }

  /** The LSH-candidate + exact-verify body of [[ngramJaccardPairs]]
    * over prepared shingle rows — shared with
    * [[ngramJaccardDedupEdges]], which runs it on one canonical
    * document per distinct shingle set.
    */
  private def lshVerifiedJaccardPairs(rows: DataFrame, threshold: Double,
                                      numHashes: Int, bands: Int): DataFrame = {
    // candidates at the REPRESENTATIVE level (the lshBandPairs
    // collapse): the heavy stages (signature aggregate, band join) run
    // once under shared exchanges, candidate DOC ids derive from group
    // membership WITHOUT expanding pairs, and the member-pair
    // expansion runs exactly once, feeding verification directly. No
    // pin is needed (a localCheckpoint here would leak persisted
    // blocks to library callers, breaking the no-persisted-RDDs
    // contract the spec asserts). NOTE: identical signatures do NOT
    // imply identical shingle sets, so verification stays per-member —
    // only candidate GENERATION collapses.
    val (members, repPairs) =
      lshCollapsed(minHashSignatures(rows, numHashes), numHashes, bands)
    // shingle SETS are only needed for docs that can appear in a
    // candidate pair: members of a group on either side of a cross
    // rep-pair, plus members of any clone group of >= 2 (its intra
    // pairs are candidates by construction) — semi-join first, then
    // collect_set, so the set-building aggregate scales with the
    // near-duplicate rate rather than the corpus
    val candKeys = repPairs
      .select(col("__k1_a").as("__k1"), col("__k2_a").as("__k2"))
      .unionByName(repPairs
        .select(col("__k1_b").as("__k1"), col("__k2_b").as("__k2")))
      .unionByName(members.groupBy(col("__k1"), col("__k2"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2)
        .select(col("__k1"), col("__k2")))
      .distinct()
    val candIds = members.join(candKeys, Seq("__k1", "__k2"), "left_semi")
      .select(col("id")).distinct()
    val sized = rows.join(candIds, Seq("id"), "left_semi")
      .groupBy(col("id")).agg(collect_set(col("shingle")).as("sh"))
      .withColumn("set_size", size(col("sh")))
    expandRepPairs(members, Seq("__k1", "__k2"),
        repPairs.drop("est_jaccard"), Seq.empty, Seq.empty)
      .join(sized.select(col("id").as("id1"), col("sh").as("sh1"),
        col("set_size").as("sz1")), Seq("id1"))
      .join(sized.select(col("id").as("id2"), col("sh").as("sh2"),
        col("set_size").as("sz2")), Seq("id2"))
      .withColumn("__common", size(array_intersect(col("sh1"), col("sh2"))))
      .select(col("id1"), col("id2"),
        round(col("__common") / (col("sz1") + col("sz2") - col("__common"))
          + lit(1e-11), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connectivity-thin EXACT n-gram-Jaccard duplicate edges at
    * `threshold`: (id1, id2) whose connected components EQUAL those of
    * `ngramJaccardPairs(...)` (same mode, same parameters) while BOTH
    * the verification work and the emitted graph stay linear in
    * DISTINCT shingle sets — the survivor-selection input for
    * clone-dense corpora, where the pair set is quadratic per clone
    * group.
    *
    * The collapse key is a 128-bit order-insensitive fingerprint of
    * the shingle SET (two XOR-folded xxhash64 lanes + the set size).
    * True Jaccard is a pure function of the two sets, so — unlike the
    * SIGNATURE groups of [[minHashLshPairs]], which do not pin the
    * sets — members of a fingerprint group are duplicates at J = 1
    * exactly (the star edges) and ONE canonical verification per
    * candidate group pair decides every member pair across the two
    * groups at once, where [[ngramJaccardPairs]] must verify per
    * member pair. Candidate generation runs on one canonical document
    * per group (signatures are set-pure, so banding decisions are
    * identical to the member-level path); in exhaustive mode the
    * shingle document-frequency cap is weighted by group size AND the
    * star edges inherit the cap's documented lower-bound semantics
    * (a group whose capped self-Jaccard falls below the threshold
    * emits no star — exactly the intra pairs the member-level path
    * drops), so the surviving edge set's components match the
    * member-level path bit for bit. Fingerprint collisions (two
    * distinct sets sharing both lanes and the size) sit at ~2⁻¹²⁸ per
    * RANDOM pair — the same event class as the collapse keys upstream.
    * Adversarial caveat: the XOR fold is GF(2)-linear and xxhash64 is
    * invertible, so a corpus CONSTRUCTED to collide (distinct shingle
    * sets engineered to share both folded lanes and the size) would be
    * merged as J = 1 clones and silently deduped — acceptable for the
    * non-adversarial web corpora this stage targets (identical event
    * class as every signature-collapse key in this file), but a
    * pipeline deduping hostile input should run [[ngramJaccardPairs]],
    * whose verification reads the actual sets.
    * PRECONDITION: distinct ids (the [[editDistancePairs]] contract).
    */
  def ngramJaccardDedupEdges(df: DataFrame, idCol: String, textCol: String,
                             n: Int, threshold: Double,
                             maxShingleDf: Int = 1000,
                             numHashes: Int = 64, bands: Int = 16,
                             exhaustive: Boolean = true): DataFrame = {
    require(threshold <= 1.0,
      "threshold must be <= 1.0 (identical-set pairs sit at exactly " +
        s"1.0, so a higher cut would drop whole clone groups), got $threshold")
    val rows = shingleRows(df, idCol, textCol, n).dropDuplicates("id", "shingle")
    // per-document set fingerprint: one map-side-combined aggregate —
    // XOR-folded hash lanes (order-insensitive over the deduped
    // shingles, and unlike sum() cannot hit the ANSI long-overflow
    // guard), re-hashed into two long keys so every downstream
    // join/group is hash-based.
    //
    // The collapse skeleton is PINNED (eager localCheckpoint): members
    // feeds the canon aggregate AND the star expansion, canon feeds
    // the canonical-row semi-join, the df weights, and the star
    // eligibility — without the pins each consumer re-runs the
    // corpus-wide shingle explode + aggregates through its own
    // exchange chain (no two consumers prune the same columns, so
    // ReuseExchange never fires; measured 7.6× wall on clone-free
    // sf0.01). Same internal-pin trade as Sampling.resolveDuplicates:
    // the pins are read by the RETURNED lazy plan, so they free via
    // the context cleaner once the caller's materialization drops the
    // plan — this is the batch curation stage's operator, not a
    // streaming-loop body with a pin-flatness contract.
    val members = rows
      .select(col("id"), xxhash64(col("shingle")).as("__h1"),
        xxhash64(lit(1), col("shingle")).as("__h2"))
      .groupBy(col("id"))
      .agg(expr("bit_xor(__h1)").as("__s1"),
        expr("bit_xor(__h2)").as("__s2"),
        count(lit(1)).as("__n"))
      .select(col("id"),
        xxhash64(col("__s1"), col("__s2"), col("__n")).as("__k1"),
        xxhash64(lit(1), col("__s1"), col("__s2"), col("__n")).as("__k2"))
      .localCheckpoint()
    val canon = members.groupBy(col("__k1"), col("__k2"))
      .agg(min(col("id")).as("__cid"), count(lit(1)).as("__w"))
      .localCheckpoint()
    // both candidate modes fan out over the canonical rows (exhaustive:
    // the counting join's sz/df/index plus the star eligibility; LSH:
    // the signature aggregate, the set-size/collect_set verification
    // join, and the candidate-key derivation) — every consumer would
    // otherwise re-run the corpus shingle explode
    val canonRows = rows.join(
      canon.select(col("__cid").as("id")), Seq("id"), "left_semi")
      .localCheckpoint()
    // exact-verified candidate pairs BETWEEN groups, on canonical ids.
    // Pinned in exhaustive mode: the star's cross-pair rescue reads
    // the pair set a second time (see below)
    val groupPairs0 =
      (if (exhaustive)
        countJaccardPairs(canonRows, threshold, maxShingleDf,
          docWeights = Some(canon.select(col("__cid").as("id"), col("__w"))))
      else lshVerifiedJaccardPairs(canonRows, threshold, numHashes, bands))
        .select(col("id1"), col("id2"))
    val groupPairs = if (exhaustive) groupPairs0.localCheckpoint() else groupPairs0
    // star eligibility: in LSH mode verification reads the FULL sets,
    // so an identical-set pair is J = 1 and every star edge stands. In
    // exhaustive mode the df cap's documented LOWER-BOUND semantics
    // apply to intra-group pairs too (overlap excludes capped
    // shingles, sizes stay full — identical docs made of boilerplate
    // grams can legitimately fall below threshold), so a group's star
    // is emitted iff (a) its capped self-Jaccard kept/(2·sz − kept)
    // clears the threshold with at least one kept shingle — exactly
    // when the member-level path keeps the intra pair — OR (b) the
    // group rides a surviving cross pair, whose member-level expansion
    // is the complete bipartite graph and therefore connects every
    // member regardless of the intra verdict. (b) reads the PINNED
    // pair set, so the candidate join runs once; the LSH scale path
    // keeps unconditional stars (full-set verification pins intra
    // pairs at J = 1).
    val starGroups =
      if (!exhaustive) canon.select(col("__k1"), col("__k2"), col("__cid"))
      else {
        val dfcKeep = canonRows
          .join(canon.select(col("__cid").as("id"), col("__w")), Seq("id"))
          .groupBy(col("shingle")).agg(sum(col("__w")).as("__dfc"))
          .filter(col("__dfc") <= maxShingleDf)
          .select(col("shingle"))
        val kept = canonRows.join(dfcKeep, Seq("shingle"), "left_semi")
          .groupBy(col("id")).agg(count(lit(1)).as("__kept"))
        val sz = canonRows.groupBy(col("id")).agg(count(lit(1)).as("__sz"))
        val selfOk = canon.select(col("__cid"))
          .join(sz.select(col("id").as("__cid"), col("__sz")), Seq("__cid"))
          .join(kept.select(col("id").as("__cid"), col("__kept")), Seq("__cid"))
          .filter(col("__kept") >= 1 &&
            round(col("__kept") / (lit(2) * col("__sz") - col("__kept"))
              + lit(1e-11), 4) >= threshold)
          .select(col("__cid"))
        val crossOk = groupPairs.select(col("id1").as("__cid"))
          .unionByName(groupPairs.select(col("id2").as("__cid")))
        canon.select(col("__k1"), col("__k2"), col("__cid"))
          .join(selfOk.unionByName(crossOk).distinct(), Seq("__cid"), "left_semi")
      }
    val star = members
      .join(starGroups, Seq("__k1", "__k2"))
      .filter(col("id") =!= col("__cid"))
      .select(col("__cid").as("id1"), col("id").as("id2"))
    star.unionByName(groupPairs)
  }

  /** [[ngramJaccardDedupEdges]] behind a CLONE-DENSITY router (the
    * editDistanceAuto discipline): a deterministic 1-in-8 hash
    * sample of documents estimates the share whose shingle SET
    * duplicates another sampled document's. Clone-light corpora route
    * to the plain pair expansion — the thin form's collapse machinery
    * is pure overhead there (measured 1.25× sf0.1 / 1.78× sf1 on
    * clone-free data: one extra corpus aggregate + the skeleton pins),
    * while clone-dense corpora route to the thin form, where the pair
    * graph is per-group quadratic and the thin graph linear (28.8× at
    * 8000 clones/group). Connected components — and therefore
    * survivors — are identical on BOTH routes, so the router can never
    * change results, only plans; the decision is logged and returned
    * as a one-row LEDGER.
    *
    * TWO decision statistics, OR'd — both computed by the same sampled
    * aggregate: (1) `clone_ratio` = 1 − distinct_sets/docs, the
    * corpus-wide clone-mass share; and (2) `max_group` = the largest
    * sampled clone group, which catches the rare-but-MEGA group that
    * dilution buries: one 10⁶-member shingle-set clone group inside
    * 10⁹ clone-free docs has clone_ratio ≈ 0.001 — under any sane mass
    * threshold — yet feeds |group|²/2 intra pairs into the component
    * step on the pairs route, and the 1/8 sample still holds ~125k of
    * its members, so the MAX statistic cannot miss it (exact_dedup
    * upstream does NOT protect: the collapse key is the shingle SET,
    * and reordered/near-identical docs share a set without being
    * byte-identical). A group whose TRUE size is g lands
    * Binomial(g, s/16) members in the sample, so `maxSampledGroup` 64
    * at the default 1/8 sample routes thin for true groups ≳ 512 —
    * far below where the quadratic pair expansion hurts, and far
    * above what clone-free corpora produce. Small groups can still
    * hide below both statistics; they are also not the hazard (their
    * pair cliques are small). The same guarded-quadratic eligibility
    * discipline as the reference's leapfrog join (reference:
    * packages/pycypher/src/pycypher/leapfrog_triejoin.py:421-461).
    *
    * Ledger row: (route, clone_ratio, clone_ratio_threshold,
    * max_group, max_group_threshold, sampled_docs, distinct_sets,
    * sample_sixteenths) — the auditable counterpart of the fuzzy
    * router's dd20 ledger, and the race-free way for callers/specs to
    * observe the decision (scraping the stderr line is not).
    */
  def ngramJaccardDedupEdgesAutoLedger(df: DataFrame, idCol: String,
                                       textCol: String,
                                       n: Int, threshold: Double,
                                       maxShingleDf: Int = 1000,
                                       numHashes: Int = 64, bands: Int = 16,
                                       exhaustive: Boolean = true,
                                       cloneRatioThreshold: Double = 0.02,
                                       sampleSixteenths: Int = 2,
                                       maxSampledGroup: Long = 64L)
  : (DataFrame, DataFrame) = {
    // validated BEFORE routing so both routes fail identically — the
    // thin form requires it, and the pairs form would silently return
    // empty (est-filter pass-through), the one input where the router
    // could otherwise change observable behavior
    require(threshold <= 1.0,
      "threshold must be <= 1.0 (identical-set pairs sit at exactly " +
        s"1.0, so a higher cut would drop whole clone groups), got $threshold")
    require(sampleSixteenths >= 1 && sampleSixteenths <= 16,
      s"sampleSixteenths must be in [1, 16], got $sampleSixteenths")
    require(maxSampledGroup >= 2L,
      s"maxSampledGroup must be >= 2 (1 would route every corpus thin), got $maxSampledGroup")
    val sampled = df
      .filter(pmod(xxhash64(col(idCol)), lit(16)) < lit(sampleSixteenths))
    // one extra groupBy level vs the old docs/sets aggregate buys the
    // per-group sizes: docs = Σ group, sets = #groups, max_group = max
    val fp = shingleRows(sampled, idCol, textCol, n)
      .dropDuplicates("id", "shingle")
      .select(col("id"), xxhash64(col("shingle")).as("__h1"),
        xxhash64(lit(1), col("shingle")).as("__h2"))
      .groupBy(col("id"))
      .agg(expr("bit_xor(__h1)").as("__s1"),
        expr("bit_xor(__h2)").as("__s2"), count(lit(1)).as("__n"))
      .groupBy(col("__s1"), col("__s2"), col("__n"))
      .agg(count(lit(1)).as("__g"))
      .agg(coalesce(sum(col("__g")), lit(0L)).as("docs"),
        count(lit(1)).as("sets"),
        coalesce(max(col("__g")), lit(0L)).as("max_group"))
      .head()
    val (docs, sets, maxGroup) = (fp.getLong(0), fp.getLong(1), fp.getLong(2))
    val ratio = if (docs == 0L) 0.0 else 1.0 - sets.toDouble / docs
    val thin = ratio >= cloneRatioThreshold || maxGroup >= maxSampledGroup
    val led = ledger(df.sparkSession, "ngram dedup-edges",
      "route" -> (if (thin) "thin" else "pairs"), "clone_ratio" -> ratio,
      "clone_ratio_threshold" -> cloneRatioThreshold,
      "max_group" -> maxGroup, "max_group_threshold" -> maxSampledGroup,
      "sampled_docs" -> docs, "distinct_sets" -> sets,
      "sample_sixteenths" -> sampleSixteenths)
    val edges =
      if (thin)
        ngramJaccardDedupEdges(df, idCol, textCol, n, threshold, maxShingleDf,
          numHashes, bands, exhaustive)
      else
        ngramJaccardPairs(df, idCol, textCol, n, threshold, maxShingleDf,
          numHashes, bands, exhaustive)
          .select(col("id1"), col("id2"))
    (edges, led)
  }

  /** Exact Jaccard pairs by CO-OCCURRENCE COUNTING: self-join the
    * inverted index on the shingle key, count shared shingles per
    * (id1, id2), and compute J = o / (|A| + |B| - o) from the counts —
    * no shingle-set arrays are ever built or shuffled (a collect_set +
    * array_intersect verify stage ships ~1 KB of strings per pair side;
    * this ships 24-byte rows into a map-side-combined count). Any pair
    * with J > 0 shares a shingle, so recall at the threshold is 1 by
    * construction. The AllPairs length filter (J >= t forces
    * min(|x|,|y|) >= t·max(|x|,|y|) — Bayardo et al., WWW'07) discards
    * provably-below-threshold pairs inside the join, before the
    * aggregate sees a row.
    *
    * Skew: a shingle shared by f documents contributes f²/2 join rows;
    * `maxShingleDf` caps the index (boilerplate grams at corpus scale).
    * When the cap engages, overlap counts exclude the capped shingles
    * while set sizes stay full, so affected pairs report a LOWER-BOUND
    * Jaccard — pairs connected only through ultra-common grams can drop
    * (same caveat class as a capped candidate index; LSH mode is the
    * intended path at scales where the cap matters).
    */
  private def countJaccardPairs(distinctRows: DataFrame, threshold: Double,
                                maxShingleDf: Int,
                                docWeights: Option[DataFrame] = None): DataFrame = {
    // set sizes and shingle document-frequencies via map-side-combined
    // aggregates + equi-joins — deliberately NOT count().over(Window
    // .partitionBy(...)): a window ships EVERY occurrence of a key to
    // one task's sort, so a corpus-scale boilerplate shingle (df 10⁸+)
    // serializes — the dd11 skewed-key hazard in different clothes.
    // The aggregate collapses hot keys to one row per map task before
    // the shuffle, and the join-back is AQE-skew-splittable.
    val sz = distinctRows.groupBy(col("id")).agg(count(lit(1)).as("__sz"))
    // `docWeights` (id, __w): when the caller's rows carry one
    // canonical document per distinct shingle SET, the weight is the
    // set's member count, so the document-frequency cap gates on the
    // same corpus-level df as the member-level path — bit-identical
    // capped-index survival (ngramJaccardDedupEdges' equivalence
    // argument leans on this)
    val dfc = docWeights.fold(distinctRows)(w =>
        distinctRows.join(w, Seq("id")))
      .groupBy(col("shingle"))
      .agg(docWeights.fold(count(lit(1)))(_ => sum(col("__w"))).as("__dfc"))
      .filter(col("__dfc") <= maxShingleDf)
      .select(col("shingle"))
    val idx = distinctRows
      .join(dfc, Seq("shingle"), "left_semi")
      .join(sz, Seq("id"))
      .select(col("shingle"), col("id"), col("__sz"))
    idx.select(col("shingle"), col("id").as("id1"), col("__sz").as("__sz1"))
      .join(idx.select(col("shingle"), col("id").as("id2"),
        col("__sz").as("__sz2")), Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .filter(least(col("__sz1"), col("__sz2")) >=
        lit(threshold) * greatest(col("__sz1"), col("__sz2")))
      .groupBy(col("id1"), col("id2"), col("__sz1"), col("__sz2"))
      .agg(count(lit(1)).as("__o"))
      .select(col("id1"), col("id2"),
        round(col("__o") / (col("__sz1") + col("__sz2") - col("__o"))
          + lit(1e-11), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shared signature stage of the embedding-LSH forms: (id, norm,
    * sigs = array of `tables` independent `planes`-bit hyperplane
    * signatures). Signatures via explode + hash aggregate: one sum()
    * per (table, plane) plus the norm, all codegen'd with map-side
    * combine. The hyperplane sign for (table, plane, dim) comes from
    * the md5 sign table (Similarity.mdSign, plane index t*planes+p)
    * embedded as literal arrays — constant-folded per lane, and
    * REPLAYABLE by the DuckDB oracle, which recomputes the same signs
    * from md5 in SQL and therefore reproduces the exact candidate set,
    * misses and all.
    */
  private def embeddingSigs(df: DataFrame, idCol: String, vecCol: String,
                            planes: Int, tables: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dims = v.select(col("id"), posexplode(col("v")).as(Seq("d", "x")))
    val dotAggs = (for (t <- 0 until tables; p <- 0 until planes) yield {
      val signs = lit((0 until Similarity.MaxSignDims)
        .map(d => Similarity.mdSign(42, t * planes + p, d)).toArray)
      sum(col("x") * element_at(signs, col("d") + 1)).as(s"__dot_${t}_$p")
    }) :+ sum(col("x") * col("x")).as("__norm2")
    dims.groupBy(col("id")).agg(dotAggs.head, dotAggs.tail: _*)
      .select(col("id"), sqrt(col("__norm2")).as("norm"),
        array((0 until tables).map { t =>
          (0 until planes).map { p =>
            when(col(s"__dot_${t}_$p") > 0, lit(1L << p)).otherwise(lit(0L))
          }.reduce((a, b) => a.bitwiseOR(b))
        }: _*).as("sigs"))
  }

  /** One-row candidate-volume DIAGNOSTIC for the embedding hyperplane
    * blocking: (distinct_signatures, buckets, candidate_pairs,
    * member_candidate_pairs), measured over one canonical row per
    * DISTINCT VECTOR (the population [[embeddingNearDupDedupEdges]]'
    * clone collapse hands its candidate stage — a bit-identical
    * duplicate flood costs nothing here, exactly as it costs the
    * operator nothing).
    *
    *  - `candidate_pairs` = Σ_bucket C(n, 2) over signature-ARRAY
    *    representatives per (tbl, sig) bucket — the bucket self-JOIN
    *    volume (a pair colliding in k tables counted k times, as the
    *    join emits it before its distinct).
    *  - `member_candidate_pairs` = Σ_bucket C(v, 2) over DISTINCT
    *    VECTORS per bucket — the VERIFY-stage bound: unlike the
    *    minhash/simhash sketches, equal signature arrays do NOT pin
    *    the cosine, so the group expansion emits every member pair as
    *    its own exact-cosine candidate — a corpus of near-dup FAMILIES
    *    whose members share sketches keeps the rep-level join small
    *    while the verify stage still pays the member-level mass
    *    (measured: ε-perturbed families at sf10_div show 2.6 M rep
    *    pairs; the sign-diverse regime shows mass exponent 2.0 in
    *    distinct arrays — artifacts/r20).
    *
    * One aggregate pass over the signature frame, no join —
    * [[simHashCandidateStats]]' counterpart for the embedding tier,
    * and [[embeddingNearDupDedupEdgesAutoLedger]]'s pre-flight (which
    * routes when EITHER number exceeds the budget). The structural
    * hazard both columns watch: the (tbl, sig) space is FIXED at
    * tables × 2^planes buckets, so on a diverse corpus candidate mass
    * grows Θ(n²) no matter how the collapse or a hot-bucket cap
    * behave.
    */
  def embeddingCandidateStats(df: DataFrame, idCol: String, vecCol: String,
                              planes: Int = 8, tables: Int = 4): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // one canonical row per distinct vector (the DedupEdges collapse,
    // two-lane keyed so the group-by never ships the arrays)
    val canon = v
      .groupBy(xxhash64(col("v")).as("__v1"),
        xxhash64(lit(1), col("v")).as("__v2"))
      .agg(min(col("id")).as("id"), first(col("v")).as("v"))
      .select(col("id"), col("v"))
    val sigs = embeddingSigs(canon, "id", "v", planes, tables)
    val skey = Seq(xxhash64(col("sigs")).as("__k1"),
      xxhash64(lit(1), col("sigs")).as("__k2"))
    val groups = sigs.select(skey :+ col("sigs"): _*)
      .groupBy(col("__k1"), col("__k2"))
      .agg(first(col("sigs")).as("sigs"))
    val repStats = groups
      .select(posexplode(col("sigs")).as(Seq("tbl", "sig")))
      .groupBy(col("tbl"), col("sig")).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("buckets"),
        coalesce(sum(col("__n") * (col("__n") - 1) / 2), lit(0L))
          .cast("long").as("candidate_pairs"))
    val memStats = sigs
      .select(posexplode(col("sigs")).as(Seq("tbl", "sig")))
      .groupBy(col("tbl"), col("sig")).agg(count(lit(1)).as("__m"))
      .agg(coalesce(sum(col("__m") * (col("__m") - 1) / 2), lit(0L))
        .cast("long").as("member_candidate_pairs"))
    repStats
      .crossJoin(groups.agg(count(lit(1)).as("distinct_signatures")))
      .crossJoin(memStats)
      .select(col("distinct_signatures"), col("buckets"),
        col("candidate_pairs"), col("member_candidate_pairs"))
  }

  /** Embedding near-dup pairs (cosine >= threshold) via random-hyperplane
    * LSH: `tables` independent 8-bit signatures; pairs agreeing on any
    * signature are verified with exact double-precision cosine.
    *
    * SCALE CEILING on DIVERSE corpora: the (tbl, sig) bucket space is
    * FIXED (tables × 2^planes — 512 at the dd05-wired planes=6/
    * tables=8), so candidate mass is Θ(n²) in DISTINCT signature
    * arrays, and the clone collapse absorbs only bit-identical
    * vectors — which real embedding corpora essentially never contain.
    * For survivor selection, go through
    * [[embeddingNearDupDedupEdgesAutoLedger]], whose one-aggregate
    * pre-flight routes over-budget corpora to the IVF-clustered
    * blocking (growing cluster count, same verify predicate). The pairs
    * form has no routed equivalent because its OUTPUT is the pair set
    * itself; measure with [[embeddingCandidateStats]] before running it
    * at scale.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planes: Int = 8,
                            tables: Int = 4): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val sigs = embeddingSigs(df, idCol, vecCol, planes, tables)
    // candidate id-pairs first (ids only through the 8-way bucket join,
    // deduped BEFORE the 64-dim vectors are attached — an 8x cut in
    // array bytes shuffled), then one exact-cosine verification pass.
    // CLONE COLLAPSE (the lshBandPairs rule): identical vectors sign
    // identically across every table, so the bucket self-join runs on
    // ONE representative per distinct signature ARRAY and candidate
    // pairs expand group-wise — a duplicate-document embedding flood
    // costs one row per bucket instead of a quadratic self-join.
    // Unlike minhash/simhash, equal signatures do NOT pin the verify
    // result (distinct vectors can share all 4 sketches), so the
    // expansion emits intra-group pairs as CANDIDATES and every member
    // pair still gets its own exact cosine — bit-identical output.
    val skey = Seq(xxhash64(col("sigs")).as("__k1"),
      xxhash64(lit(1), col("sigs")).as("__k2"))
    val groups = sigs.select(skey :+ col("sigs"): _*)
      .groupBy(col("__k1"), col("__k2"))
      .agg(first(col("sigs")).as("sigs"))
    val members = sigs.select(skey :+ col("id"): _*)
    val bucketed = capHotBuckets(
      groups.select(col("__k1"), col("__k2"),
        posexplode(col("sigs")).as(Seq("tbl", "sig"))),
      Seq("tbl", "sig"), "embeddingNearDupPairs")
    val repCand = bucketed.select(col("tbl"), col("sig"),
        col("__k1").as("__k1_a"), col("__k2").as("__k2_a"))
      .join(bucketed.select(col("tbl"), col("sig"),
        col("__k1").as("__k1_b"), col("__k2").as("__k2_b")), Seq("tbl", "sig"))
      .filter(col("__k1_a") < col("__k1_b") ||
        (col("__k1_a") === col("__k1_b") && col("__k2_a") < col("__k2_b")))
      .select(col("__k1_a"), col("__k2_a"), col("__k1_b"), col("__k2_b"))
      .distinct()
    val candidates = expandRepPairs(members, Seq("__k1", "__k2"), repCand,
      Seq.empty, Seq.empty)
    val vn = v.join(sigs.select(col("id"), col("norm")), Seq("id"))
    cosineVerify(candidates, vn, threshold, probeDims(df, vecCol))
  }

  /** [[embeddingNearDupPairs]]' connectivity-thin counterpart for
    * SURVIVOR selection: (id1, id2) edges whose connected components
    * equal the verified pair set's. The collapse key is the VECTOR
    * itself (two xxhash64 lanes over the double array — unlike the
    * sketch, the vector pins cosine), so cross-group verification runs
    * once per candidate group pair via [[embeddingNearDupPairs]] over
    * one canonical row per distinct vector, and a group's star is
    * emitted iff its self-cosine clears the threshold THROUGH THE SAME
    * verification expression the member-level path applies to its
    * intra candidates (identical vectors share every sketch, so the
    * member path always generates those candidates; self-verifying
    * with the same rounding keeps edge cases — zero vectors, ulp
    * drift — decided identically). Internal pins follow the
    * resolveDuplicates batch-op trade. PRECONDITION: distinct ids.
    */
  def embeddingNearDupDedupEdges(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, planes: Int = 8,
                                 tables: Int = 4): DataFrame =
    embeddingDedupEdgesVia(df, idCol, vecCol, threshold)(canonDf =>
      embeddingNearDupPairs(canonDf, "id", "v", threshold, planes, tables))

  /** The clone-collapse + star-expansion skeleton shared by every
    * embedding survivor-selection arm: collapse on the VECTOR (two
    * xxhash64 lanes over the double array — the vector pins cosine),
    * run `candidates` (canonDf → verified (id1, id2) pairs at the
    * shared [[cosineVerify]] predicate) over one canonical row per
    * distinct vector, and emit a group's star iff its self-cosine
    * clears the threshold through the SAME verification expression.
    * Internal pins follow the resolveDuplicates batch-op trade.
    * PRECONDITION: distinct ids.
    */
  private def embeddingDedupEdgesVia(df: DataFrame, idCol: String,
                                     vecCol: String, threshold: Double)
                                    (candidates: DataFrame => DataFrame)
  : DataFrame = {
    require(threshold <= 1.0,
      "threshold must be <= 1.0 (identical-vector pairs verify at " +
        s"cosine 1.0, so a higher cut would drop whole clone groups), got $threshold")
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val keyed = v.select(col("id"),
        xxhash64(col("v")).as("__k1"), xxhash64(lit(1), col("v")).as("__k2"))
      .localCheckpoint()
    val canon = keyed.groupBy(col("__k1"), col("__k2"))
      .agg(min(col("id")).as("__cid"))
      .localCheckpoint()
    val canonDf = v.join(canon.select(col("__cid").as("id")),
        Seq("id"), "left_semi")
      .localCheckpoint()
    val groupPairs = candidates(canonDf).select(col("id1"), col("id2"))
    // star eligibility: the member path's intra candidates run through
    // cosineVerify — replay it per group on the canonical vector
    val dimsN = probeDims(df, vecCol)
    val vn = canonDf.join(
      canonDf.select(col("id"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("id")).agg(sqrt(sum(col("x") * col("x"))).as("norm")),
      Seq("id"))
    val selfOk = cosineVerify(
      canon.select(col("__cid").as("id1"), col("__cid").as("id2")),
      vn, threshold, dimsN)
      .select(col("id1").as("__cid"))
    val star = keyed.join(canon, Seq("__k1", "__k2"))
      .filter(col("id") =!= col("__cid"))
      .join(selfOk, Seq("__cid"), "left_semi")
      .select(col("__cid").as("id1"), col("id").as("id2"))
    star.unionByName(groupPairs)
  }

  /** [[embeddingNearDupDedupEdges]]' SCALE-SAFE sibling: the same
    * clone collapse, star expansion, and exact-cosine pair predicate
    * (round(cos, 6) >= threshold through the shared [[cosineVerify]]
    * expression), but candidates come from an IVF-CLUSTERED blocking
    * instead of the fixed hyperplane buckets — assignment by argmin
    * squared L2 against nlist md5-sampled centroids (the dd14/ann03
    * rule, externally replayable), candidates = same-cluster canonical
    * pairs. nlist <= 0 DERIVES from the corpus as
    * ceil(distinct_vectors / graft.semanticDedup.targetClusterSize)
    * (default 1024, min 16) — the [[semanticDedup]] discipline: the
    * bucket space GROWS with n, so expected per-cluster pair cost
    * stays constant as the corpus scales, the property the hyperplane
    * blocking lacks. The trade against the LSH arm is RECALL SHAPE,
    * not predicate: a near-dup pair split across two clusters is
    * missed here, a pair the `tables` sketches all miss is missed
    * there — both candidate generators feed the identical verifier,
    * which is what makes the router's routed arm an apples-to-apples
    * survivor graph ([[embeddingNearDupDedupEdgesAutoLedger]]).
    */
  def embeddingIvfDedupEdges(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, nlist: Int = 0): DataFrame =
    embeddingDedupEdgesVia(df, idCol, vecCol, threshold)(canonDf =>
      ivfCosinePairs(canonDf, threshold, nlist, probeDims(df, vecCol)))

  /** IVF-blocked verified cosine pairs over a canonical (id, v) frame —
    * [[embeddingIvfDedupEdges]]' candidate generator. Assignment runs
    * MAP-SIDE against the collected nlist-row centroid table
    * (Similarity.centroidAssigner — the blessed bounded collect); the
    * cluster self-join ships ids only, and vectors re-attach in
    * [[cosineVerify]] over the cluster-bounded candidate set.
    */
  private def ivfCosinePairs(canonDf: DataFrame, threshold: Double,
                             nlist: Int, dims: Int): DataFrame = {
    val spark = canonDf.sparkSession
    val k =
      if (nlist > 0) nlist
      else {
        val target = spark.conf
          .getOption("graft.semanticDedup.targetClusterSize").map(_.toInt)
          .getOrElse(1024)
        math.max(16, math.ceil(canonDf.count().toDouble / target).toInt)
      }
    val centPlan = Similarity.sampledCentroids(canonDf, k)
    val centRows = centPlan.collect().toIndexedSeq
    if (centRows.isEmpty)
      return canonDf.limit(0)
        .select(col("id").as("id1"), col("id").as("id2"))
    val asg = Similarity.centroidAssigner(centRows,
      centPlan.schema("cid").dataType, 1)
    val assigned = canonDf.select(col("id"), asg.home(col("v")).as("__cluster"))
    val cand = assigned.select(col("__cluster"), col("id").as("id1"))
      .join(assigned.select(col("__cluster"), col("id").as("id2")),
        Seq("__cluster"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    val vn = canonDf.join(
      canonDf.select(col("id"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("id")).agg(sqrt(sum(col("x") * col("x"))).as("norm")),
      Seq("id"))
    cosineVerify(cand, vn, threshold, dims)
  }

  /** [[embeddingNearDupDedupEdges]] behind a CANDIDATE-BUDGET router —
    * the scale guard the embedding tier needs for the same reason
    * simhash does ([[simHashDedupEdgesAutoLedger]], whose discipline
    * this reuses verbatim): the hyperplane (tbl, sig) bucket space is
    * FIXED at tables × 2^planes (512 at the dd05-wired planes=6/
    * tables=8), so on a corpus of DISTINCT vectors — the norm for real
    * embeddings, where every document embeds to a distinct float
    * vector — n distinct signature arrays spread over a constant
    * bucket count and the verification self-join's candidate mass
    * Σ_bucket C(n_b, 2) grows Θ(n²) regardless of the clone collapse
    * or the hot-bucket cap. (r18's 0.14 wall exponent for this arm was
    * measured on identical-vector clone replicas — the masked regime;
    * the diverse-vector measurements live in artifacts/r20/
    * scale_edges_emb_*.json and PERFORMANCE.md round 20.)
    *
    * PRE-FLIGHT: [[embeddingCandidateStats]] — one aggregate over the
    * collapsed hyperplane blocking, no join — measures BOTH the
    * rep-level bucket-join mass and the member-level verify bound
    * (they diverge on near-dup-family corpora, whose members share
    * sketches; see the stats scaladoc). With both within
    * `candidateBudget`, the plain [[embeddingNearDupDedupEdges]] runs
    * (bit-identical, spec-gated). With EITHER over budget, it routes to
    * [[embeddingIvfDedupEdges]] — UNLIKE the simhash router's minhash
    * route, this is the SAME pair predicate (the shared exact-cosine
    * verifier), only the candidate blocking changes: IVF clusters whose
    * count derives from n (the [[semanticDedup]] nlist discipline), so
    * per-bucket pair cost stays constant at any scale. The recall
    * difference is which candidate pairs each blocking surfaces
    * (cross-cluster near-dups there, all-sketches-miss pairs here) — why
    * the decision is an auditable LEDGER row and the routed form carries
    * its own oracle gate (dd33/dd34) rather than inheriting dd05's.
    *
    * Ledger row: (route, distinct_signatures, buckets, candidate_pairs,
    * member_candidate_pairs, candidate_budget, planes, tables).
    */
  def embeddingNearDupDedupEdgesAutoLedger(df: DataFrame, idCol: String,
                                           vecCol: String, threshold: Double,
                                           planes: Int = 8, tables: Int = 4,
                                           candidateBudget: Long = 2000000000L,
                                           nlist: Int = 0)
  : (DataFrame, DataFrame) = {
    require(candidateBudget >= 0L,
      s"candidateBudget must be >= 0, got $candidateBudget")
    // validated before routing so every route fails identically
    require(threshold <= 1.0,
      "threshold must be <= 1.0 (identical-vector pairs verify at " +
        s"cosine 1.0, so a higher cut would drop whole clone groups), got $threshold")
    val st = embeddingCandidateStats(df, idCol, vecCol, planes, tables).head()
    val (cand, memberCand) = (st.getLong(2), st.getLong(3))
    // EITHER mass over budget routes: the rep-level join volume and
    // the member-level verify bound diverge exactly on near-dup-family
    // corpora (members share sketches → small rep join, full member
    // verify) — see [[embeddingCandidateStats]]
    val over = cand > candidateBudget || memberCand > candidateBudget
    val led = ledger(df.sparkSession, "embedding dedup-edges",
      "route" -> (if (over) "ivf" else "embedding"),
      "distinct_signatures" -> st.getLong(0), "buckets" -> st.getLong(1),
      "candidate_pairs" -> cand, "member_candidate_pairs" -> memberCand,
      "candidate_budget" -> candidateBudget, "planes" -> planes,
      "tables" -> tables)
    val edges =
      if (over) embeddingIvfDedupEdges(df, idCol, vecCol, threshold, nlist)
      else embeddingNearDupDedupEdges(df, idCol, vecCol, threshold, planes,
        tables)
    (edges, led)
  }

  /** Codegen'd dot product for fixed-dim vectors: the same left-fold
    * order as the interpreted `aggregate(zip_with(...))` HOF
    * (bit-identical doubles — `(((0+x1)+x2)+…)`), but unrolled into
    * straight-line generated code. Higher-order functions are
    * CodegenFallback, and interpreted dispatch per (pair × dim)
    * dominated dd05's verify stage on a clone-dense corpus (sf1:
    * 78 s → the verify pass itself; see PERFORMANCE.md). The `when`
    * guard keeps `element_at` inside the taken branch (ANSI-safe);
    * vectors of unexpected length fall back to the HOF fold, so the
    * result is identical for every input. dims <= 0 = no unrolling.
    */
  private[graft] def dotUnrolled(v1: Column, v2: Column, dims: Int): Column = {
    val hof = aggregate(zip_with(v1, v2, (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    // equal-size branch through the native DotProduct kernel (one eval,
    // primitive loop — same left-to-right fold from 0.0, bit-identical)
    // instead of a 2·dims-deep unrolled chain: the chain is fine inside
    // whole-stage codegen but pays ~4·dims virtual evals + boxing per
    // pair on interpreted stages, and its plan-size bloat is what
    // CollapseProject amplifies (see Similarity.normalizedVectors).
    // Size-mismatched rows keep the HOF branch: DotProduct folds over
    // min-length and would miss the null the zip_with form produces.
    if (dims <= 0) hof
    else {
      import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
      when(size(v1) === dims && size(v2) === dims,
        column(graft.functions.DotProduct(expression(v1), expression(v2))))
        .otherwise(hof)
    }
  }

  /** One-row probe of the vector dimensionality (reads a single
    * row-group, negligible at any scale) — plan-time constant for the
    * unrolled dot-product kernel. Null vectors are filtered before the
    * probe: under ANSI mode size(null) is null and getInt would NPE,
    * turning a degradable case (dims=0 → HOF fallback) into a crash.
    */
  private def probeDims(df: DataFrame, vecCol: String): Int =
    df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("s")).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** Shared verification stage: attach both vectors to candidate
    * (id1, id2) pairs and keep those with exact double-precision cosine
    * >= threshold. Work is proportional to the candidate count; the fold
    * order matches the DuckDB oracle bit for bit (Similarity.cosine).
    */
  private[graft] def cosineVerify(cand: DataFrame, vn: DataFrame,
                                  threshold: Double, dims: Int = 0): DataFrame =
    cand
      .join(vn.select(col("id").as("id1"), col("v").as("v1"), col("norm").as("n1")), Seq("id1"))
      .join(vn.select(col("id").as("id2"), col("v").as("v2"), col("norm").as("n2")), Seq("id2"))
      // cosine against a zero-norm vector is undefined — drop the pair
      // BEFORE the division (zero-norm rows would otherwise trip the
      // ANSI divide-by-zero guard; DuckDB's list_cosine_similarity NaN
      // takes the same exit through its own threshold filter). A
      // separate filter rather than a when() around the division: the
      // division stays the same bare codegen'd expression the >=
      // filter has always fused against (dd05 A/B'd at parity with
      // the same-session control — artifacts/r16/dd05_drift.txt)
      .filter(col("n1") > 0 && col("n2") > 0)
      .select(col("id1"), col("id2"),
        round(dotUnrolled(col("v1"), col("v2"), dims) /
          (col("n1") * col("n2")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)

  /** Exact-cosine pair verification over an explicit candidate relation:
    * all (id1, id2) with 0 < id2 - id1 <= maxIdGap (a deterministic
    * sliding window — the oracle-able stand-in for a production
    * candidate source such as `embeddingNearDupPairs`' LSH buckets,
    * whose hash-derived candidate set no external oracle can replay).
    * Same verification expression as the LSH path, so a green oracle
    * here certifies dd05's verify stage bit-for-bit. Linear in
    * corpus × window, never all-pairs.
    */
  def cosinePairsExact(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, maxIdGap: Long): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val vn = v.withColumn("norm",
      sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)))
    val ids = vn.select(col("id"))
    val cand = ids.select(col("id").as("id1"))
      .join(ids.select(col("id").as("id2")),
        col("id2") > col("id1") && col("id2") <= col("id1") + lit(maxIdGap))
    cosineVerify(cand, vn, threshold, probeDims(df, vecCol))
  }

  /** Benchmark decontamination: (id, hits) for every training document
    * sharing at least one exact word n-gram with any benchmark document,
    * `hits` = how many distinct n-grams collide — the exact-collision
    * decontamination pass used for LLM training corpora (GPT-3 appendix
    * C / PaLM style, on word n-grams).
    *
    * Scale: eval benchmarks are MBs while the training corpus is the
    * 100 TB side, so the benchmark gram set is deduplicated and
    * BROADCAST — the training side streams through one codegen'd
    * shingle explode + a broadcast hash join + a countDistinct keyed on
    * doc id (partial-aggregated on (doc, gram) map-side). The big side
    * is never shuffled on gram, and only COLLIDING grams reach the
    * aggregate, so post-join volume scales with the contamination rate.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 4): DataFrame = {
    val bGrams = broadcast(
      shingleRows(benchmark, idCol, textCol, n)
        .select(col("shingle")).distinct())
    shingleRows(train, idCol, textCol, n)
      .join(bGrams, Seq("shingle"))
      .groupBy(col("id")).agg(countDistinct(col("shingle")).as("hits"))
  }

  /** Persist the MinHash-LSH index of a corpus — the incremental-crawl
    * dedup model: the historical corpus is signed ONCE at rest, and
    * each NEW batch is signed at batch cost and probed against the
    * stored bands, so deduping a day's crawl never re-reads (or
    * re-hashes) the 100 TB already indexed. Layout ([[IndexStore]]):
    * `bands/` holds one (band, bkey, id) row per document per band,
    * partitioned by band; `sigs/` holds one (id, sig) row per document
    * (the estimate side — ~8 bytes × numHashes per doc, not repeated
    * per band); the `_meta` record pins shingleSize / numHashes / bands
    * so probe parameters can never drift from the writer's. The corpus
    * lands under `batch=-1`, the seed convention: it sorts before every
    * micro-batch a later [[minHashIndexPut]] admits. A rewrite replaces
    * the whole directory.
    */
  def minHashIndexWrite(df: DataFrame, idCol: String, textCol: String,
                        path: String, shingleSize: Int = 3,
                        numHashes: Int = 64, bands: Int = 16): Unit = {
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    minHashIndexPutAs(spark, path, df, idCol, textCol, -1L,
      (shingleSize, numHashes, bands))
  }

  /** Idempotent, batch-tagged admit into a MinHash index — the
    * exactly-once arm of the incremental-crawl loop. Every band and
    * signature row lands in the `batch=<id>` partition through
    * [[IndexStore.admit]]: replaying a failed micro-batch overwrites
    * exactly its own rows instead of duplicating them, and a probe
    * reads the index as of the batches before it. The first admit
    * writes the `_meta` record with these parameters; later admits
    * use the record's, so parameters can never drift.
    */
  def minHashIndexPut(spark: org.apache.spark.sql.SparkSession,
                      path: String, df: DataFrame,
                      idCol: String, textCol: String, batch: Long,
                      shingleSize: Int = 3, numHashes: Int = 64,
                      bands: Int = 16): Unit =
    minHashIndexPutAs(spark, path, df, idCol, textCol, batch,
      minHashIndexMeta(spark, path).fold((shingleSize, numHashes, bands))(minHashParams))

  /** [[minHashIndexPut]] at (shingle_size, num_hashes, bands) `params`
    * — the index's own once it exists (the streaming arm passes the
    * values of its one record read per micro-batch).
    */
  private[graft] def minHashIndexPutAs(spark: org.apache.spark.sql.SparkSession,
                                       path: String, df: DataFrame,
                                       idCol: String, textCol: String,
                                       batch: Long, params: (Int, Int, Int)): Unit = {
    val (ss, nh, nb) = params
    // signed ONCE and pinned: the admit's emptiness check and both
    // component writes consume it (unpinned, a corpus build would run
    // the shingle+signature aggregate per consumer)
    val sigs = minHashSignatures(shingleRows(df, idCol, textCol, ss), nh)
      .localCheckpoint(true)
    IndexStore.admit(spark, path, "minhash",
      Map("shingle_size" -> ss.toString, "num_hashes" -> nh.toString,
        "bands" -> nb.toString), batch,
      Seq(IndexStore.Part("bands",
          sigs.select(col("id"), explode(bandKeyArray(col("sig"), nh, nb)).as("bk"))
            .select(col("bk.band").as("band"), col("bk.bkey").as("bkey"), col("id")),
          Seq("band")),
        IndexStore.Part("sigs", sigs)))
    IterPin.free(sigs)
  }

  /** A MinHash index's record; None before its first write landed. The
    * one record read of this index: the probe and the put take it.
    */
  private[graft] def minHashIndexMeta(spark: org.apache.spark.sql.SparkSession,
                                      path: String): Option[IndexStore.Record] =
    IndexStore.open(spark, path, "minhash")

  /** A MinHash record's (shingle_size, num_hashes, bands). */
  private[graft] def minHashParams(r: IndexStore.Record): (Int, Int, Int) =
    (r.int("shingle_size"), r.int("num_hashes"), r.int("bands"))

  /** Probe a stored MinHash index with a new document batch: sign the
    * batch (batch-sized work, pinned so it runs ONCE), BROADCAST its
    * band keys against the at-rest band files (one index scan per
    * batch — the big side is never shuffled), and estimate Jaccard
    * from the stored signatures for colliding candidates only. Returns
    * (new_id, corpus_id, est_jaccard); parameters come from the
    * index's `_meta` record ([[minHashIndexMeta]]), never the caller.
    *
    * The batch signature table is materialized eagerly with
    * `localCheckpoint` — the shingle+signature aggregate is the costly
    * part of a probe, and THREE consumers need it (the size gate, the
    * distinct-signature collapse, the member expansion); without
    * pinning, the plan would re-run it per consumer. Through THIS entry point the pins
    * free via the context cleaner when the returned plan is dropped
    * (fine for ad-hoc probes); per-micro-batch loops should call
    * [[minHashIndexLookupPinned]] and free the returned pins once the
    * result is materialized — the deterministic-release discipline.
    */
  def minHashIndexLookup(spark: org.apache.spark.sql.SparkSession,
                         path: String, newDf: DataFrame,
                         idCol: String, textCol: String,
                         maxBroadcastDocs: Long = 100000L,
                         excludeBatchFrom: Option[Long] = None): DataFrame =
    minHashIndexLookupPinned(spark, path,
      minHashIndexMeta(spark, path).getOrElse(throw new IllegalArgumentException(
        s"no MinHash index at $path (no _meta)")),
      newDf, idCol, textCol, maxBroadcastDocs, excludeBatchFrom)._1

  /** [[minHashIndexLookup]] over the index's record as the caller read
    * it ([[minHashIndexMeta]]), exposing its internal eager pins (the
    * batch signature table and, under the broadcast gate, the pinned
    * candidate set) so per-batch callers can free them
    * deterministically AFTER the result is materialized — a freed
    * localCheckpoint cannot be recomputed, so free only then.
    */
  private[graft] def minHashIndexLookupPinned(
      spark: org.apache.spark.sql.SparkSession,
      path: String, meta: IndexStore.Record, newDf: DataFrame,
      idCol: String, textCol: String,
      maxBroadcastDocs: Long = 100000L,
      excludeBatchFrom: Option[Long] = None)
  : (DataFrame, Seq[DataFrame]) = {
    val (shingleSize, numHashes, bands) = minHashParams(meta)
    // a replayed micro-batch must probe the index AS OF the batches
    // before it — its own half-applied entries from the failed attempt
    // would otherwise match the batch against itself and drop every
    // survivor. `batch` is a partition key, so the filter is partition
    // PRUNING, not a scan-and-discard; each read first repairs an
    // interrupted compaction of its component
    def asOf(name: String): DataFrame =
      IndexStore.read(spark, path, meta, name, excludeBatchFrom)
    val sigNew = minHashSignatures(
      shingleRows(newDf, idCol, textCol, shingleSize), numHashes)
      .localCheckpoint(true)
    // CLONE-FLOOD GUARD (the lshBandPairs collapse, probe side): band,
    // candidate-dedup, and estimate over ONE representative per
    // DISTINCT batch signature (identified by the 128-bit structural
    // key — two xxhash64 lanes), expanding over the map-side member
    // projection only at the end. A boilerplate flood in a crawl
    // re-probes the same hot index bucket every micro-batch;
    // un-collapsed, the bucket's match set multiplies by the batch's
    // clone count (batch_clones × index_cluster join rows). Collapsed,
    // per-batch candidate work is bounded by the batch's DISTINCT
    // signatures (spec-gated via the returned candidate pin) — the
    // expansion at the end is the true output. Pinned: consumed by the
    // banding and the estimate side.
    val repsNew = lshSigReps(sigNew).localCheckpoint(true)
    val bandedNew = repsNew
      .select(col("__k1"), col("__k2"),
        explode(bandKeyArray(col("sig"), numHashes, bands)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bkey").as("bkey"),
        col("__k1"), col("__k2"))
    // size-gated join strategy: the usual incremental batch is tiny
    // next to the index, so its band keys broadcast and the at-rest
    // side streams through ONE scan with no shuffle. The gate estimates
    // the FULL broadcast payload — band keys (~16 B × bands per doc)
    // PLUS the signature table (8 B × numHashes per doc, the dominant
    // term at the default 64 hashes) — capped at 64 MB and
    // `maxBroadcastDocs`. Too big → hash join fallback; Catalyst must
    // NOT be left to pick, because auto-broadcast would try to ship
    // the INDEX side. The count is a cheap scan of the pinned blocks.
    val idx = asOf("bands")
    val batchDocs = sigNew.count()
    val estBroadcastBytes = batchDocs * (16L * bands + 8L * numHashes)
    val smallBatch =
      batchDocs <= maxBroadcastDocs && estBroadcastBytes <= 64L * 1024 * 1024
    val joined =
      if (smallBatch) idx.join(broadcast(bandedNew), Seq("band", "bkey"))
      else idx.join(bandedNew, Seq("band", "bkey"))
    val cand0 = joined
      .select(col("__k1"), col("__k2"), col("id").as("corpus_id")).distinct()
    // the candidate ⋈ signature join must not shuffle the at-rest
    // `sigs` table either (id + numHashes longs per row — the WHOLE
    // index through an exchange on every probe; candidate stats derive
    // from the index scan, so left alone the planner sort-merge-joins).
    // Candidates are collision-bounded: pin them (the sigNew rationale
    // above — freed by the context cleaner with the probe plan), count,
    // and broadcast under the same 64 MB gate; an oversized candidate
    // set falls back to the shuffle join, which is then the right plan.
    val (cand, smallCand) =
      if (smallBatch) {
        val c = cand0.localCheckpoint(true)
        val n = c.count()
        (c, n <= 2000000L && n * 64L <= 64L * 1024 * 1024)
      } else (cand0, false)
    val matches = (1 to numHashes)
      .map(i => when(element_at(col("sig1"), i) === element_at(col("sig2"), i),
        1).otherwise(0))
      .reduce(_ + _)
    // estimate per REPRESENTATIVE (the lane-match count is a pure
    // function of the two signatures, so it is shared by every clone),
    // then expand over the MAP-SIDE member projection — both
    // batch-side joins broadcast under the same smallBatch gate so the
    // at-rest `sigs` side still streams through one scan
    val repSide = repsNew.select(col("__k1"), col("__k2"),
      col("sig").as("sig2"))
    val mem = sigNew.select(xxhash64(col("sig")).as("__k1"),
      xxhash64(lit(1), col("sig")).as("__k2"), col("id").as("new_id"))
    val result = (if (smallCand) broadcast(cand) else cand)
      .join(asOf("sigs")
        .select(col("id").as("corpus_id"), col("sig").as("sig1")), Seq("corpus_id"))
      .join(if (smallBatch) broadcast(repSide) else repSide,
        Seq("__k1", "__k2"))
      .select(col("__k1"), col("__k2"), col("corpus_id"),
        round(matches / lit(numHashes.toDouble), 4).as("est_jaccard"))
      .join(if (smallBatch) broadcast(mem) else mem, Seq("__k1", "__k2"))
      .select(col("new_id"), col("corpus_id"), col("est_jaccard"))
    (result,
      if (smallBatch) Seq(sigNew, repsNew, cand) else Seq(sigNew, repsNew))
  }

  /** Positional word n-grams: (id, pos, gh) with 1-based token start
    * positions and gh = md5 of the space-joined gram — the same
    * codegen'd `element_at` kernel as `shingleRows`, keeping the start
    * index. Documents shorter than n tokens emit nothing (they cannot
    * host a length-n span).
    */
  private[graft] def positionalGramRows(df: DataFrame, idCol: String,
                                        textCol: String, n: Int): DataFrame = {
    val t = df.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= n)
    val gram = concat_ws(" ", (0 until n).map(j => element_at(col("t"), col("pos") + j)): _*)
    t.select(col("id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (n - 1))).as("pos"))
      .select(col("id"), col("pos").cast("long").as("pos"),
        md5(gram.cast("binary")).as("gh"))
  }

  /** Span-level exact-substring dedup (the suffix-array dedup of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): for each document, the
    * maximal token spans COVERED by length-`minSpan` windows that occur
    * verbatim in at least one OTHER document — union-of-covered-tokens
    * semantics: the gaps-and-islands merge also fuses adjacent
    * duplicated windows whose gap is <= `minSpan`, so interior windows
    * of a merged span need not themselves be duplicated (the oracle
    * replays the same merge). These are the spans a span-level deduper
    * would cut. Returns (id, span_start, span_end, span_tokens),
    * positions 1-based inclusive.
    *
    * Relational lowering instead of a global suffix array: positional
    * n-grams → ONE hash aggregate on the 128-bit gram hash keeping
    * (min id, max id) — min≠max marks grams shared by ≥2 documents
    * without a count-distinct sketch, and partial-aggregates map-side —
    * → semi-join of positions onto the duplicated-gram set (short-key
    * equi-join) → per-document gaps-and-islands merge of overlapping
    * windows into maximal spans (one window partitioned by doc id; both
    * window steps share one shuffle+sort). Work scales with corpus gram
    * volume plus duplicated-gram volume — never all-pairs in the
    * document count, and no global suffix sort.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      minSpan: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pg = positionalGramRows(df, idCol, textCol, minSpan)
    val dup = pg.groupBy(col("gh"))
      .agg(min(col("id")).as("__i1"), max(col("id")).as("__i2"))
      .filter(col("__i1") =!= col("__i2"))
      .select(col("gh"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val flagged = pg.join(dup, Seq("gh"), "left_semi")
      .select(col("id"), col("pos"),
        when(col("pos") - lag(col("pos"), 1, Long.MinValue / 2).over(w) > minSpan,
          1L).otherwise(0L).as("__nf"))
    flagged
      .select(col("id"), col("pos"),
        sum(col("__nf"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("__isl"))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"), max(col("pos")).as("__last"))
      .select(col("id"), col("span_start"),
        (col("__last") + minSpan - 1).as("span_end"),
        (col("__last") + minSpan - col("span_start")).as("span_tokens"))
  }

  /** Span-level dedup RESOLUTION (the cut step of Lee et al. 2022):
    * every occurrence of a cross-document duplicated `minSpan`-token
    * window is removed EXCEPT the corpus-wide canonical one (the
    * lexicographically first (id, pos) — keep-first, cut-the-rest, the
    * reference semantics of suffix-array dedup tools), and documents
    * are rebuilt from their surviving tokens. Returns (id, n_tokens,
    * n_cut, clean_text) over lowercased whitespace tokens.
    *
    * Scale shape: canonical occurrences come from ONE map-side-
    * combinable aggregate per gram hash (min(struct(id,pos)) +
    * min/max id for the duplicated test) — deliberately NOT a
    * row_number window per gram, which would serialize the hottest
    * boilerplate gram into one task. Cut windows then expand to
    * covered token positions (bounded ×minSpan explode + distinct) and
    * anti-mark tokens through a left join on (id, tokpos); the rebuild
    * is one per-document ordered aggregate. Every shuffle key is a
    * hash or an id — no all-pairs, no global sort.
    */
  def cutDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                         minSpan: Int = 4): DataFrame = {
    val pg = positionalGramRows(df, idCol, textCol, minSpan)
    val canon = pg.groupBy(col("gh"))
      .agg(min(struct(col("id"), col("pos"))).as("__c"),
        min(col("id")).as("__i1"), max(col("id")).as("__i2"))
      .filter(col("__i1") =!= col("__i2"))
      .select(col("gh"), col("__c.id").as("cid"), col("__c.pos").as("cpos"))
    val cutWins = pg.join(canon, Seq("gh"))
      .filter(!(col("id") === col("cid") && col("pos") === col("cpos")))
      .select(col("id"), col("pos"))
    val cutToks = cutWins
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (minSpan - 1))).as("tp"))
      .distinct()
      .withColumn("__cut", lit(1))
    val tokRows = df
      .select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("idx", "tok")))
      .select(col("id"), (col("idx") + 1).cast("long").as("tp"), col("tok"))
    tokRows.join(cutToks, Seq("id", "tp"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__cut").isNotNull, 1L).otherwise(0L)).as("n_cut"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__cut").isNull, struct(col("tp"), col("tok"))))),
            x => x("tok")),
          " ").as("clean_text"))
  }

  /** Paragraph-level exact dedup (the Dolma/CCNet paragraph pass):
    * split each document on `delim`, keep only the corpus-wide FIRST
    * occurrence of each distinct non-empty paragraph (ordered by
    * document id, then position), and rebuild documents without their
    * duplicated paragraphs. Returns (id, n_paras, n_dropped,
    * clean_text).
    *
    * Scale: first-occurrence is computed with a map-side-combinable
    * `min(struct(id, idx))` aggregate per 128-bit paragraph hash —
    * deliberately NOT a `row_number` window per hash, which would
    * serialize EVERY occurrence of a corpus-scale boilerplate
    * paragraph ("subscribe to our newsletter…", 10⁸+ occurrences at
    * 100 TB) into one task's sort. The aggregate collapses the hot key
    * to one row per map task before the shuffle, and the join-back
    * that flags keepers is a short-key equi-join AQE can skew-split —
    * a window never can be. Same pattern as `cutDuplicatedSpans`'s
    * canonical-occurrence pick. The reconstruction is one per-document
    * ordered aggregate over native array functions; no UDFs, no driver
    * loops.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     delim: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("idx", "para")))
      .filter(col("para") =!= "")
      .withColumn("__ph", md5(col("para").cast("binary")))
    val canon = paras.groupBy(col("__ph"))
      .agg(min(struct(col("id"), col("idx"))).as("__c"))
      .select(col("__ph"), col("__c.id").as("__cid"), col("__c.idx").as("__cidx"))
    paras.join(canon, Seq("__ph"))
      .withColumn("__keep",
        col("id") === col("__cid") && col("idx") === col("__cidx"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("idx"), col("para"))))),
            x => x("para")),
          delim).as("clean_text"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings and removing near-identical neighbors inside
    * each cluster — the method that catches paraphrase-level duplicates
    * MinHash/SimHash token sketches cannot see.
    *
    * Deterministic variant, fully replayable by an external SQL engine:
    * clusters come from the md5-sampled centroid rule shared with the
    * auditable IVF index (`Similarity.sampledCentroids` — k-means
    * centroids cannot be recomputed outside Spark ML), assignment is
    * argmin squared L2 with ties to the lower centroid id, and a doc is
    * DROPPED iff some same-cluster neighbor with pairwise
    * round(cos, 6) >= tau has a strictly lower (centroid-similarity,
    * id) key. That is the paper's keep-low-centroid-similarity policy
    * (retain the edge-of-cluster exemplar) with a total-order
    * tie-break; the minimum of every duplicate neighborhood survives,
    * so each duplicate component keeps at least one doc.
    *
    * Scale shape: assignment is one broadcast of nlist centroid rows;
    * candidate generation is the within-cluster self-join, cost
    * sum over clusters of size^2 — the SemDeDup shape. nlist grows with
    * the corpus to keep clusters bounded, and
    * `graft.semanticDedup.hotClusterWarn` (opt-in row-count threshold)
    * names oversized clusters in the log instead of leaving them as
    * anonymous straggler tasks, like `simHashPairs`' bucket guard.
    *
    * Returns one row per doc: (idCol, cluster, csim, kept) with csim =
    * round(cosine to centroid, 6) and kept as 0/1.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 0, tau: Double = 0.9): DataFrame = {
    val nd = Similarity.dimsOf(df, vecCol)
    val v = df.select(col(idCol).as("id"), Similarity.asDouble(col(vecCol)).as("v"))
    // nlist <= 0 → derive from the corpus: candidate cost is
    // sum(cluster_size^2), so a FIXED cluster count degrades toward
    // all-pairs as n grows. ceil(n / targetClusterSize) keeps expected
    // cluster size (hence per-cluster pair cost) constant as the corpus
    // scales; the count job is one pass the self-join pays for anyway.
    val k =
      if (nlist > 0) nlist
      else {
        val target = df.sparkSession.conf
          .getOption("graft.semanticDedup.targetClusterSize").map(_.toInt)
          .getOrElse(1024)
        math.max(16, math.ceil(v.count().toDouble / target).toInt)
      }
    // assignment MAP-SIDE against the plan-constant centroid matrix
    // (Similarity.centroidAssigner — no broadcast-expand + window
    // shuffle, the r14 plan-shape fix); the centroid VECTOR for csim
    // comes back through a broadcast hash equi-join on the assigned
    // cluster id (nlist rows — map-side, no exchange of the corpus)
    val spark = df.sparkSession
    val centPlan = Similarity.sampledCentroids(v, k)
    val centRows = centPlan.collect().toIndexedSeq
    // an EMPTY corpus has no centroids to assign against — the result
    // is the same empty (id, cluster, csim, kept) frame either way
    if (centRows.isEmpty)
      return v.limit(0).select(col("id").as(idCol),
        col("id").as("cluster"), lit(0.0).as("csim"), lit(1).as("kept"))
    val cent = spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), centPlan.schema)
    val asg = Similarity.centroidAssigner(centRows,
      centPlan.schema("cid").dataType, 1)
    val assigned = v
      .withColumn("cluster", asg.home(col("v")))
      .join(broadcast(cent.select(col("cid").as("cluster"), col("c"))),
        Seq("cluster"))
      .select(col("id"), col("v"), col("cluster"),
        round(Similarity.cosine(col("v"), col("c"), nd), 6).as("csim"))
    val hotClusterWarn = df.sparkSession.conf
      .getOption("graft.semanticDedup.hotClusterWarn").map(_.toInt)
      .getOrElse(Int.MaxValue)
    if (hotClusterWarn != Int.MaxValue) {
      assigned.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > hotClusterWarn)
        .orderBy(col("__n").desc).limit(20).collect()
        .foreach { h =>
          System.err.println(
            s"[graft] semanticDedup hot cluster: cluster=${h.get(0)} " +
              s"rows=${h.get(1)} (> $hotClusterWarn; self-join is ~rows^2/2 pairs " +
              "- raise nlist for this corpus)")
        }
    }
    val l = assigned.select(col("cluster"), col("id").as("id1"),
      col("v").as("v1"), col("csim").as("cs1"))
    val r = assigned.select(col("cluster"), col("id").as("id2"),
      col("v").as("v2"), col("csim").as("cs2"))
    val dropped = l.join(r, Seq("cluster"))
      .filter(col("id1") =!= col("id2"))
      .filter(round(Similarity.cosine(col("v1"), col("v2"), nd), 6) >= tau)
      .filter(col("cs2") < col("cs1") ||
        (col("cs2") === col("cs1") && col("id2") < col("id1")))
      .select(col("id1").as("id")).distinct()
    assigned
      .join(dropped.withColumn("__drop", lit(1)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"), col("csim"),
        when(col("__drop").isNotNull, 0).otherwise(1).as("kept"))
  }

  /** Edit-distance pair mining (record linkage / entity resolution):
    * every pair of rows whose strings are within Levenshtein distance
    * `maxDist` (1 or 2), found by SYMMETRIC-DELETE blocking (the SymSpell
    * scheme, Garbe 2012): each string's candidate key set is itself plus
    * every ≤maxDist-character deletion. Any two strings at distance ≤d
    * share a key (an optimal alignment deletes ≤d positions from each
    * side to reach a common string), so the equi-join on keys has EXACT
    * recall; the capped-distance verify discards the farther pairs that
    * double-sided deletion also admits. Returns (id1 < id2, dist).
    *
    * Scale: the only shuffles are the variant equi-join (key length ~
    * string length, explode work proportional to total corpus
    * characters) and the candidate distinct - no all-pairs stage; a
    * hot variant bucket means many strings one deletion apart, which
    * is exactly the cluster the operator must emit. The brute-force
    * O(n^2) form is the ORACLE, not the plan.
    *
    * Template compaction first (the dd16 routing rule in code): the
    * corpus-constant prefix/suffix is stripped before blocking —
    * Levenshtein is invariant under common-affix removal, so the output
    * is bit-identical while the deletion neighborhoods shrink
    * quadratically in the stripped length (TPC-H's "Customer#0…"
    * template keys: 18-char neighborhoods → 4-8-char).
    *
    * PRECONDITION: id values are distinct (the same contract as
    * `Similarity.exactTopkNeighbors`). The exact-duplicate collapse
    * expands surviving string pairs over id GROUPS, so a repeated id
    * value spanning two near-dup strings would collapse a genuine
    * pair into id1 == id2 (guarded — such rows are filtered) and can
    * emit one (id1, id2) row per string pairing rather than exactly
    * once. Deduplicate ids upstream if the corpus can repeat them.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 1): DataFrame =
    edSelf(compactTemplate(fuzzyRows(df, idCol, strCol, maxDist)), maxDist, None)._1

  /** [[editDistancePairs]]' connectivity-thin counterpart for SURVIVOR
    * selection: (id1, id2) edges whose connected components equal the
    * pair set's, at |corpus| + |distinct-string pairs| edges instead of
    * per-clone-group quadratic cliques (see [[edSelf]]).
    */
  def editDistanceDedupEdges(df: DataFrame, idCol: String, strCol: String,
                             maxDist: Int = 1): DataFrame =
    edSelf(compactTemplate(fuzzyRows(df, idCol, strCol, maxDist)), maxDist, None)._2

  /** One-row candidate-volume DIAGNOSTIC for the symmetric-delete
    * blocking: (distinct_strings, keys, candidate_pairs) where
    * candidate_pairs = Σ_key C(n, 2) over the deletion-neighborhood
    * variant keys of DISTINCT (template-compacted) strings — the exact
    * self-join volume [[editDistancePairs]]' verification stage pays
    * before the distance filter (a pair sharing k variant keys is
    * counted k times, exactly as the join emits it before its dedupe).
    * [[simHashCandidateStats]]' counterpart for the fuzzy tier, and
    * the regime lens for its scale audit: unlike the simhash/embedding
    * sketches, the variant-key space GROWS with the corpus (keys
    * derive from the strings themselves), so candidate mass should
    * track true near-dup structure rather than a fixed bucket count —
    * this aggregate is what verifies that on a diverse corpus
    * (PERFORMANCE.md round 20). One aggregate over the exploded
    * neighborhood, no join.
    */
  def edCandidateStats(df: DataFrame, idCol: String, strCol: String,
                       maxDist: Int = 1): DataFrame =
    edCandidateStatsOf(compactTemplate(fuzzyRows(df, idCol, strCol, maxDist)), maxDist)

  /** [[edCandidateStats]]' core over already-compacted strings `s` —
    * shared with [[fuzzyRoute]]'s opt-in exact-tier candidate-budget
    * disjunct, so the router's pre-flight measures the IDENTICAL mass
    * the diagnostic reports.
    */
  private def edCandidateStatsOf(v: DataFrame, maxDist: Int): DataFrame = {
    val d = v.select(col("s")).distinct()
    d.select(explode(deletionHood(col("s"), maxDist)).as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("keys"),
        coalesce(sum(col("__n") * (col("__n") - 1) / 2), lit(0L))
          .cast("long").as("candidate_pairs"))
      .crossJoin(d.agg(count(lit(1)).as("distinct_strings")))
      .select(col("distinct_strings"), col("keys"), col("candidate_pairs"))
  }

  /** [[editDistanceAuto]]'s result: the routed tier's pairs
    * (id1 < id2, dist), its connectivity-thin survivor edges (id1, id2)
    * and the one-row routing ledger. Both projections are lazy views of
    * one verified pair set; only the one a caller runs is computed.
    */
  final case class FuzzyRouted(pairs: DataFrame, edges: DataFrame, ledger: DataFrame)

  /** [[editDistancePairs]] behind the collision-density ROUTER — the
    * runtime seam for [[deletionCollisionStats]]. Measures the
    * post-compaction sampled density and mean key length, then routes
    * ([[fuzzyRoute]]): a corpus whose symmetric-delete blocking stays
    * linear (the common case — the exact tier, bit-identical to the
    * oracle) vs a collision-dense or long-key corpus where the deletion
    * neighborhoods explode quadratically (the MinHash tier — char-bigram
    * LSH candidates, exact-verified precision, banding recall).
    *
    * The ledger row records the decision and the measurements that
    * drove it — (tier, [[fuzzyRoute]]'s measurements,
    * exact_candidate_budget, exact_candidate_pairs, budget_override) —
    * the auditable counterpart of dd20's recall ledger. The router is
    * opt-in: callers who need the exact tier's guaranteed recall keep
    * calling [[editDistancePairs]] / [[editDistanceDedupEdges]].
    *
    * `exactCandidateBudget` (opt-in, r20 — the simhash/embedding
    * routers' absolute-mass lens applied to the fuzzy tier): the density
    * statistic is candidate pairs PER ROW, so a corpus of genuine
    * distance-≤d FAMILIES (the diverse-name regime, sf1_div density 70.4
    * vs threshold 64) trips the minhash route even though the exact
    * tier's TOTAL mass is small in absolute terms — and the minhash
    * tier's char-bigram signatures over every distinct string cost far
    * more there (measured 603 s routed vs 14 s exact at sf1_div — a 42×
    * miss, with the minhash tier's banding also dropping ~8.5k of
    * 3.30 M true edges; artifacts/r20/scale_edges_*_sf1_div.json). With
    * a budget set, a minhash-routed corpus pays one extra aggregate
    * ([[edCandidateStatsOf]] — the EXACT mass, not the sampled estimate)
    * and drops back to the exact tier when total mass fits the budget;
    * the measured mass lands in the ledger either way. 0 (default)
    * disables the disjunct and the pre-flight is never paid.
    */
  def editDistanceAuto(df: DataFrame, idCol: String, strCol: String,
                       maxDist: Int = 1,
                       densityThreshold: Double = 64.0,
                       maxMeanKeyLen: Double = 64.0,
                       sampleSixteenths: Int = 4,
                       numHashes: Int = 64, bands: Int = 32,
                       previousTier: Option[String] = None,
                       hysteresisPct: Double = 0.10,
                       exactCandidateBudget: Long = 0L): FuzzyRouted = {
    require(exactCandidateBudget >= 0L,
      s"exactCandidateBudget must be >= 0 (0 disables the disjunct), " +
        s"got $exactCandidateBudget")
    val v = compactTemplate(fuzzyRows(df, idCol, strCol, maxDist))
    val (tier, ledger) = fuzzyRoute("fuzzy", v.select(col("s")), maxDist,
      densityThreshold, maxMeanKeyLen, sampleSixteenths, previousTier,
      hysteresisPct, Some(exactCandidateBudget))
    val (pairs, edges) = edSelf(v, maxDist, lshOf(tier, numHashes, bands))
    FuzzyRouted(pairs, edges, ledger)
  }

  /** (id, s) rows of `df`, the input of every fuzzy operator, after the
    * one check of its `maxDist`.
    */
  private def fuzzyRows(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"maxDist must be 1 or 2 (deletion-neighborhood size is len^d), got $maxDist")
    df.select(col(idCol).as("id"), col(strCol).as("s"))
  }

  /** The MinHash sketch params of a routed `tier`: Some for "minhash",
    * None (the exact tier) otherwise. */
  private def lshOf(tier: String, numHashes: Int, bands: Int): Option[(Int, Int)] =
    Option.when(tier == "minhash")((numHashes, bands))

  /** The self-join of the (id, s) rows `v`: (pairs, thin edges), both
    * over ONE verified pair set of its DISTINCT strings
    * ([[fuzzyStringPairs]] on (d, d)).
    *
    * Exact-duplicate collapse: candidate volume grows QUADRATICALLY in
    * per-string multiplicity, but every member of an exact-dup group has
    * identical distances to everything — so block and verify over
    * distinct strings (the string is its own group key), then project.
    * The pairs expand each string pair over both id groups and add the
    * intra-group d = 0 pairs ([[expandRepPairs]] — true output rows: a
    * clone-dense corpus's pair set IS quadratic in clone counts). The
    * edges are one star edge per member of a >= 2 exact-dup group plus
    * ONE edge per string pair ([[thinComponentEdges]]): edit distance is
    * a pure function of the two strings, so their components equal the
    * pairs' exactly.
    */
  private def edSelf(v: DataFrame, maxDist: Int,
                     lsh: Option[(Int, Int)]): (DataFrame, DataFrame) = {
    val d = v.select(col("s")).distinct()
    val sp = fuzzyStringPairs(d, d, maxDist, lsh)
    (expandRepPairs(v, Seq("s"), sp, Seq(col("dist")), Seq(lit(0L).as("dist"))),
      thinComponentEdges(v, Seq("s"), sp))
  }

  /** THE fuzzy candidate generator: verified (s_a, s_b, dist) pairs,
    * dist ≤ maxDist, between two DISTINCT-string sides `a` and `b` (one
    * column `s` each). Passing one frame as both sides is the self-join:
    * each unordered pair once, s_a < s_b. The tier picks the blocking key:
    *   - exact (`lsh` None): the ≤maxDist deletion neighborhood — exact
    *     recall by the SymSpell alignment argument;
    *   - minhash (`lsh` = (numHashes, bands)): char-bigram MinHash band
    *     keys — immune to the neighborhood blowup on collision-dense or
    *     long keys, at the price of banding recall (< 1; near-dup pairs
    *     share most char bigrams, so 2-row bands keep it high). The
    *     self-join's bands go through the opt-in `graft.lsh.bucketCap`.
    * Both verify every candidate with the same capped kernel, so
    * precision is exact on either tier.
    */
  private def fuzzyStringPairs(a: DataFrame, b: DataFrame, maxDist: Int,
                               lsh: Option[(Int, Int)]): DataFrame = {
    val selfJoin = a eq b
    // pin the exact tier's blocking partition count (explicit-count
    // repartition = REPARTITION_BY_NUM, which AQE must not coalesce):
    // the verify stage downstream is CPU-bound (a DP kernel per
    // candidate pair), so AQE's BYTE-based coalescing — candidate rows
    // are a few short strings each — starves it to 1-2 tasks exactly
    // when candidates are dense (measured 3.8 s single-task at dd16's
    // d=2 regime). The count is the session's shuffle-partition conf —
    // the same knob a cluster sizes to its data. A self-join's two
    // sides share one physical exchange (reuse).
    val par = a.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val (keys, keyed) = lsh match {
      case None => (Seq("__v"), (d: DataFrame) =>
        d.select(col("s"), explode(deletionHood(col("s"), maxDist)).as("__v"))
          .repartition(par, col("__v")))
      case Some((numHashes, bands)) => (Seq("band", "bkey"), (d: DataFrame) => {
        val banded = minHashSignatures(shingleRows(charSpaced(d), "id", "chars", 2),
            numHashes)
          .select(col("id").as("s"),
            explode(bandKeyArray(col("sig"), numHashes, bands)).as("bk"))
          .select(col("s"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
        if (selfJoin) capHotBuckets(banded, Seq("band", "bkey"), "fuzzyStringPairs")
        else banded
      })
    }
    val ka = keyed(a)
    val cand = ka.select(keys.map(col) :+ col("s").as("s1"): _*)
      .join((if (selfJoin) ka else keyed(b)).select(keys.map(col) :+ col("s").as("s2"): _*),
        keys)
    verifyCandidates(if (selfJoin) cand.filter(col("s1") < col("s2")) else cand, maxDist)
  }

  /** The fuzzy routers' one measure → tier → ledger step over a
    * one-column frame of (compacted) strings `s`: the sampled collision
    * density and max bucket ([[deletionCollisionStats]]) and the sampled
    * mean key length in codepoints. The raw tier is minhash when the
    * density or the length is over its threshold, exact otherwise.
    * Returns the routed tier and the one-row ledger of `kind`, whose
    * fields run (tier, density … suppressed_flip), plus the
    * exact-candidate-budget fields when `exactCandidateBudget` is given
    * (see [[editDistanceAuto]]).
    *
    * TIER HYSTERESIS (r18 verdict item 4): a corpus whose measured
    * density sits AT the threshold (sf10 measured 63.76 vs 64)
    * alternates tiers between crawls as sampling noise and corpus drift
    * wiggle the statistic — both tiers are correct (parity spec'd), but
    * a flip re-pays plan warmup and makes audit ledgers read as churn.
    * With `previousTier` supplied (e.g. the previous crawl's ledger row
    * under the streaming fall-through), the tier only flips when the
    * measurements leave a ±hysteresisPct band around their thresholds:
    * minhash needs density or length CONFIDENTLY over
    * (> (1+h)·threshold), exact needs both CONFIDENTLY under
    * (<= (1-h)·threshold). Inside the band the previous tier holds and
    * the ledger records the suppressed flip.
    */
  private def fuzzyRoute(kind: String, s: DataFrame, maxDist: Int,
                         densityThreshold: Double, maxMeanKeyLen: Double,
                         sampleSixteenths: Int, previousTier: Option[String],
                         hysteresisPct: Double,
                         exactCandidateBudget: Option[Long]): (String, DataFrame) = {
    require(hysteresisPct >= 0.0 && hysteresisPct < 1.0,
      s"hysteresisPct must be in [0, 1), got $hysteresisPct")
    previousTier.foreach(t => require(t == "exact" || t == "minhash",
      s"""previousTier must be "exact" or "minhash", got "$t""""))
    // max_bucket is ledger visibility, not a route input — see
    // [[deletionCollisionStats]] for why no route dodges a mega bucket
    // of DISTINCT near-identical strings
    val (density, maxBucket) =
      deletionCollisionStats(s, "s", maxDist, sampleSixteenths)
    val meanLen = s
      .filter(pmod(xxhash64(col("s")), lit(16)) < lit(sampleSixteenths))
      .distinct()
      .agg(coalesce(avg(length(col("s"))), lit(0.0)))
      .head().getDouble(0)
    def over(h: Double): Boolean =
      density > densityThreshold * (1.0 + h) ||
        meanLen > maxMeanKeyLen * (1.0 + h)
    val rawTier = if (over(0.0)) "minhash" else "exact"
    val confidentlyExact =
      density <= densityThreshold * (1.0 - hysteresisPct) &&
        meanLen <= maxMeanKeyLen * (1.0 - hysteresisPct)
    val heldTier = previousTier match {
      case Some("exact") if rawTier == "minhash" && !over(hysteresisPct) =>
        "exact"
      case Some("minhash") if rawTier == "exact" && !confidentlyExact =>
        "minhash"
      case _ => rawTier
    }
    // the candidate-budget disjunct: only a minhash route with a
    // positive budget pays the exact-mass aggregate (-1 = not measured)
    val budget = exactCandidateBudget.map { b =>
      val mass =
        if (b > 0L && heldTier == "minhash")
          edCandidateStatsOf(s, maxDist).head().getAs[Long]("candidate_pairs")
        else -1L
      (b, mass, mass >= 0L && mass <= b)
    }
    val tier = if (budget.exists(_._3)) "exact" else heldTier
    (tier, ledger(s.sparkSession, kind, Seq("tier" -> tier,
      "density" -> density, "density_threshold" -> densityThreshold,
      "mean_key_cp" -> meanLen, "max_mean_key_cp" -> maxMeanKeyLen,
      "max_bucket" -> maxBucket, "sample_sixteenths" -> sampleSixteenths,
      "max_dist" -> maxDist, "raw_tier" -> rawTier,
      "previous_tier" -> previousTier.getOrElse(""),
      "suppressed_flip" -> (heldTier != rawTier)) ++
      budget.toSeq.flatMap { case (b, mass, overridden) =>
        Seq("exact_candidate_budget" -> b, "exact_candidate_pairs" -> mass,
          "budget_override" -> overridden) }: _*))
  }

  /** Symmetric-delete collision-density detector: the estimated
    * candidate PAIRS PER ROW the blocking stage would emit, from a
    * deterministic hash sample (`sampleSixteenths`/16 of DISTINCT
    * strings — the post-collapse population the blocking stage
    * actually explodes; per-bucket pairs scale with the sampling
    * fraction squared, rows linearly, so density = samplePairs /
    * (frac · sampleRows)).
    * Template-dense keys (shared affixes, low-entropy runs) score
    * orders of magnitude above high-entropy keys — the signal that the
    * exact tier's candidate set grows quadratically on this corpus.
    * Returns (density, max_bucket).
    *
    * `max_bucket`, the MAX sampled bucket occupancy (distinct strings
    * sharing one deletion value), is the dilution-proof companion
    * statistic: the density is a MEAN over
    * the whole sample, so one mega collision bucket buried in a large
    * distinct corpus can sit under the density threshold while still
    * being per-bucket quadratic. Recorded in the routing ledgers for
    * audit visibility. NOTE it deliberately does NOT route: an exact
    * KEY-CLONE mega group is already safe on the exact tier (both
    * measurement and blocking run on DISTINCT strings — a 10⁶-member
    * clone group is ONE row here, and its survivor edges are the
    * linear [[edSelf]] star), while a mega bucket of DISTINCT
    * near-identical strings is candidate-quadratic on BOTH tiers (they
    * share most char bigrams, so the MinHash tier's band buckets go
    * quadratic too — `graft.lsh.bucketCap` is the bound there), so no
    * route dodges it; the ledger row is the honest signal. Same
    * measurement, same single aggregate — max(c) rides the bucket
    * groupBy the density already pays for.
    */
  def deletionCollisionStats(df: DataFrame, strCol: String,
                             maxDist: Int = 2,
                             sampleSixteenths: Int = 4): (Double, Long) = {
    require(sampleSixteenths >= 1 && sampleSixteenths <= 16,
      "sampleSixteenths in 1..16")
    // DISTINCT strings, matching the blocking stage this density
    // models (edSelf collapses exact duplicates BEFORE exploding
    // neighborhoods — raw-row sampling would inflate the estimate on
    // a clone-dense corpus by the clone factor squared). The hash
    // gate is deterministic per string, so filtering before distinct
    // is equivalent and cheaper.
    val s = df.select(col(strCol).as("s"))
      .filter(pmod(xxhash64(col("s")), lit(16)) < lit(sampleSixteenths))
      .distinct()
      .localCheckpoint(true) // two consumers: the bucket agg + count
    val frac = sampleSixteenths / 16.0
    val n = s.count()
    if (n == 0L) { IterPin.free(s); return (0.0, 0L) }
    // Spark's `/` is double division — exact here (c·(c−1) is even and
    // a sample count is far under 2^53)
    val r = s.select(explode(deletionHood(col("s"), maxDist)).as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - lit(1L)) / lit(2L)), lit(0.0)),
        coalesce(max(col("c")), lit(0L)))
      .head()
    val (pairs, maxBucket) = (r.getDouble(0), r.getLong(1))
    IterPin.free(s) // both consumers (count + bucket agg) have run
    (pairs / frac / n, maxBucket)
  }

  /** Corpus-constant affixes of a string column: (prefix, suffix)
    * shared by EVERY string. One map-side-combined aggregate: the
    * common prefix of the lexicographic min and max is common to all
    * strings (any s with min <= s <= max must match their shared
    * prefix, else it would sort outside them); the suffix comes from
    * the same lemma over reversed strings, capped so prefix+suffix
    * never exceeds the shortest string (no double-stripping).
    */
  private[graft] def corpusAffixes(v: DataFrame): (String, String) = {
    val r = v.agg(min(col("s")).as("mn"), max(col("s")).as("mx"),
      min(reverse(col("s"))).as("rmn"), max(reverse(col("s"))).as("rmx"),
      min(length(col("s"))).as("ml")).head()
    if (r.isNullAt(0)) return ("", "")
    // all math in CODEPOINTS (Spark substr/length are codepoint-based;
    // java String ops are UTF-16 and would split surrogate pairs)
    def cps(s: String): Array[Int] = s.codePoints().toArray
    def str(a: Array[Int]): String = new String(a, 0, a.length)
    def lcp(a: Array[Int], b: Array[Int]): Array[Int] =
      a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)
    val pre = lcp(cps(r.getString(0)), cps(r.getString(1)))
    val sufR = lcp(cps(r.getString(2)), cps(r.getString(3)))
    val minLen = r.getInt(4)
    val suf = sufR.reverse.takeRight(math.max(0, minLen - pre.length))
    (str(pre), str(suf))
  }

  /** Strip the corpus-constant template from `s` when one exists (>= 2
    * chars of affix — below that the strip costs more plan than it
    * saves). Distance-preserving: every string is prefix ++ mid ++
    * suffix, and an optimal alignment of two strings maps their
    * identical affixes onto each other, so lev(a, b) =
    * lev(mid_a, mid_b).
    */
  private def compactTemplate(v: DataFrame): DataFrame = {
    val (pre, suf) = corpusAffixes(v)
    stripAffixes(v, pre, suf)
  }

  private def stripAffixes(v: DataFrame, pre: String, suf: String): DataFrame = {
    // codepoint counts — Spark's substr/length are codepoint-based
    val preCp = pre.codePointCount(0, pre.length)
    val sufCp = suf.codePointCount(0, suf.length)
    if (preCp + sufCp < 2) v
    else v.select(col("id"),
      col("s").substr(lit(preCp + 1),
        length(col("s")) - lit(preCp + sufCp)).as("s"))
  }

  /** The ≤d-deletion neighborhood of a string column, deduped IN-ROW
    * before any shuffle (array_distinct): strings with repeated
    * characters — id-style keys with zero runs — otherwise emit the
    * same deletion many times and square that duplication in the
    * candidate join. An optimal alignment of a distance-≤d pair
    * deletes ≤d positions from each side to reach a common string, so
    * a neighborhood equi-join has EXACT recall at d (the SymSpell
    * argument, any d).
    */
  private def deletionHood(s: Column, maxDist: Int): Column = {
    def delAll(c: Column): Column =
      transform(sequence(lit(0), length(c)), i =>
        when(i === lit(0), c)
          .otherwise(concat(substring(c, lit(1), i - 1),
            substring(c, i + 1, length(c)))))
    if (maxDist == 1) array_distinct(delAll(s))
    else array_distinct(flatten(transform(delAll(s), v1 => delAll(v1))))
  }

  /** Verify candidate string pairs (s1, s2) with an O(cap·n)
    * capped-distance kernel and dedupe the narrow survivors: (s_a, s_b,
    * dist ≤ maxDist), one row per pair — the full-DP levenshtein at ~d²
    * per pair was the dominant cost of the whole operator.
    */
  private def verifyCandidates(cand: DataFrame, maxDist: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    val dist =
      if (maxDist == 1) column(graft.functions.EditDistanceLe1(
        expression(col("s1")), expression(col("s2"))))
      else column(graft.functions.EditDistanceCapped(
        expression(col("s1")), expression(col("s2")), maxDist))
    cand.select(col("s1").as("s_a"), col("s2").as("s_b"), dist.cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Cross-table record LINKAGE within edit distance `maxDist`
    * (matching crawl-extracted entities against a canonical table):
    * the same symmetric-delete blocking and capped verify as
    * [[editDistancePairs]] ([[fuzzyStringPairs]] over the two tables'
    * distinct strings) — exact recall by the same alignment argument.
    * Returns every (id1, id2, dist) link; a downstream best-match rule
    * (min dist, tie to min id2 — one salted top-k per id1) picks
    * canonical assignments.
    */
  def fuzzyLink(left: DataFrame, lIdCol: String, lStrCol: String,
                right: DataFrame, rIdCol: String, rStrCol: String,
                maxDist: Int = 1): DataFrame = {
    val (l, r) = linkSides(left, lIdCol, lStrCol, right, rIdCol, rStrCol, maxDist)
    links(l, r, maxDist, None)
  }

  /** [[fuzzyLink]] behind the collision-density ROUTER — the
    * cross-table twin of [[editDistanceAuto]]. Density and mean key
    * length are measured over the UNION of both tables' post-compaction
    * strings (the population whose deletion neighborhoods meet in shared
    * blocking buckets); linear corpora run the exact tier (bit-identical
    * to [[fuzzyLink]] and its dd17 oracle), collision-dense or long-key
    * corpora run the char-bigram MinHash-LSH tier (left-vs-right band
    * join, exact-verified precision, banding recall). Returns (links,
    * one-row ledger) with the same schema conventions as the self-join
    * router — including the hysteresis columns: a nightly re-linkage of
    * a near-threshold corpus alternates tiers exactly like the dedup
    * crawl, so `previousTier` (e.g. the previous run's ledger row) +
    * `hysteresisPct` apply the same ±band rule ([[fuzzyRoute]]).
    */
  def fuzzyLinkAuto(left: DataFrame, lIdCol: String, lStrCol: String,
                    right: DataFrame, rIdCol: String, rStrCol: String,
                    maxDist: Int = 1,
                    densityThreshold: Double = 64.0,
                    maxMeanKeyLen: Double = 64.0,
                    sampleSixteenths: Int = 4,
                    numHashes: Int = 64, bands: Int = 32,
                    previousTier: Option[String] = None,
                    hysteresisPct: Double = 0.10)
  : (DataFrame, DataFrame) = {
    val (l, r) = linkSides(left, lIdCol, lStrCol, right, rIdCol, rStrCol, maxDist)
    val (tier, ledger) = fuzzyRoute("fuzzy-link",
      l.select(col("s")).unionByName(r.select(col("s"))), maxDist,
      densityThreshold, maxMeanKeyLen, sampleSixteenths, previousTier,
      hysteresisPct, None)
    (links(l, r, maxDist, lshOf(tier, numHashes, bands)), ledger)
  }

  /** Both tables of a linkage as (id, s) rows, template-compacted as in
    * [[editDistancePairs]] — but the affixes must be constant over the
    * UNION of both tables: a cross-pair's common affix is only
    * guaranteed when every string on either side carries it.
    */
  private def linkSides(left: DataFrame, lIdCol: String, lStrCol: String,
                        right: DataFrame, rIdCol: String, rStrCol: String,
                        maxDist: Int): (DataFrame, DataFrame) = {
    val l = fuzzyRows(left, lIdCol, lStrCol, maxDist)
    val r = fuzzyRows(right, rIdCol, rStrCol, maxDist)
    val (pre, suf) = corpusAffixes(l.select(col("s")).unionByName(r.select(col("s"))))
    (stripAffixes(l, pre, suf), stripAffixes(r, pre, suf))
  }

  /** (id1, id2, dist) links between the compacted (id, s) rows `l` and
    * `r`: per-side exact-duplicate collapse, as in the self-join — block
    * and verify over distinct strings, then expand each string link over
    * both id groups (identical output, clone-factor² less blocking).
    */
  private def links(l: DataFrame, r: DataFrame, maxDist: Int,
                    lsh: Option[(Int, Int)]): DataFrame =
    fuzzyStringPairs(l.select(col("s")).distinct(), r.select(col("s")).distinct(),
        maxDist, lsh)
      .join(l.select(col("s").as("s_a"), col("id").as("id1")), Seq("s_a"))
      .join(r.select(col("s").as("s_b"), col("id").as("id2")), Seq("s_b"))
      .select(col("id1"), col("id2"), col("dist"))

  /** Per-micro-batch body of STREAMING fuzzy (edit-distance) dedup
    * against an index-at-rest — the short-KEY counterpart of the
    * minhash crawl loop (names, titles, urls; long documents want the
    * minhash stage). Drops batch rows whose string is within `maxDist`
    * Levenshtein of any string admitted by an EARLIER batch, then
    * resolves intra-batch matches to the min-id survivor per connected
    * component (the batch stage's rule). Returns (survivors, admit)
    * under the deferred-admit exactly-once contract of
    * [[graft.etl.CurationStages.runStreaming]].
    *
    * The TIER is decided ONCE, on the index's first non-empty batch,
    * by the same collision-density + mean-key-length rule as
    * [[editDistanceAuto]], and persisted in the index `_meta` so
    * writer and prober can never drift — a crawl cannot re-route per
    * batch because the two tiers keep different layouts:
    *   - exact (symmetric-delete): `hood/batch=N` holds (k, dk) — the
    *     ≤maxDist deletion-neighborhood keys of every admitted string.
    *     The probe explodes the batch's distinct strings' hoods,
    *     equi-joins `dk` AS OF earlier batches (partition pruning),
    *     and verifies candidates with the capped kernel — exact recall
    *     by the SymSpell alignment argument.
    *   - minhash (collision-dense / long keys): `sketch/` is a
    *     char-bigram MinHash index in the [[minHashIndexPut]] layout
    *     keyed by the STRING itself, so the probe can exact-verify
    *     every band collision at the edit distance — exact precision,
    *     banding recall (the [[editDistanceAuto]] trade).
    *
    * No affix compaction here: the corpus template DRIFTS across a
    * crawl (batch-local affixes are not corpus affixes), so streaming
    * pays full-string hoods — correct, just less compact than the
    * batch stage's exactness-preserving strip. Empty admits write
    * nothing ([[IndexStore.admit]]).
    */
  def fuzzyCrawlBatch(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, df: DataFrame,
                      idCol: String, strCol: String, batchId: Long,
                      maxDist: Int = 1,
                      densityThreshold: Double = 64.0,
                      maxMeanKeyLen: Double = 64.0,
                      sampleSixteenths: Int = 16,
                      numHashes: Int = 64, bands: Int = 32)
  : (DataFrame, DataFrame => Unit) = {
    val v = fuzzyRows(df, idCol, strCol, maxDist).localCheckpoint(true)
    val existing = fuzzyIndexMeta(spark, indexDir)
    // an EXISTING index pins tier/maxDist AND the minhash sketch params:
    // the intra-batch banding and the admit's
    // minHashIndexPut must use the num_hashes/bands the index was
    // created with, not the caller's — a crawl configured differently
    // than the fuzzyIndexPut seed would otherwise silently change
    // intra-batch banding recall and let the outer record drift from
    // the sketch's own
    val meta @ (tier, md, nh, bs) = existing.map(fuzzyParams).getOrElse {
      val (t, _) = fuzzyRoute("streaming fuzzy", v.select(col("s")), maxDist,
        densityThreshold, maxMeanKeyLen, sampleSixteenths, None, 0.0, None)
      (t, maxDist, numHashes, bands)
    }
    // 1. cross-batch drop: batch strings within md of anything the
    //    index admitted before this batch
    val dupStrings = existing.fold(v.select(col("s")).limit(0))(rec =>
      matchStrings(spark, indexDir, rec, v.select(col("s")).distinct(),
          Some(batchId))
        .select(col("s")).distinct())
    val pre = df
      .join(dupStrings.select(col("s").as(strCol)), Seq(strCol), "left_anti")
      .select(df.columns.map(col).toSeq: _*)
    // 2. intra-batch: min-id survivor per edit-distance component —
    //    over connectivity-THIN edges (identical components; a clone
    //    flood batch feeds |batch| edges, not |group|²/2 per group). The
    //    exact tier strips the batch's own template, as the batch stage
    //    does; the minhash tier bands the strings as the index does
    val vb = pre.select(col(idCol).as("id"), col(strCol).as("s"))
    val (_, edges) = edSelf(if (tier == "exact") compactTemplate(vb) else vb,
      md, lshOf(tier, nh, bs))
    val comps = Components.connectedComponents(edges, "id1", "id2")
    val nonCanon = comps
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    val survivors = pre.join(nonCanon, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    // the survivors checkpoint consumed the component labels — free
    // their pin (distributed regime; no-op under the driver cap)
    IterPin.free(comps)
    // 3. deferred admit over shipped ids only
    val admit: DataFrame => Unit = shipped => {
      val keys = survivors.join(shipped, Seq(idCol), "left_semi")
        .select(col(strCol).as("k")).distinct()
        .localCheckpoint(true)
      fuzzyIndexWrite(spark, indexDir, keys, batchId, meta)
      // admit is the batch's LAST consumer of this operator's pins
      // (survivors were materialized into the caller's output
      // checkpoint before admit ran): free deterministically
      IterPin.free(keys)
      IterPin.free(survivors)
      IterPin.free(v)
    }
    (survivors, admit)
  }

  /** The probe core shared by [[fuzzyCrawlBatch]] and
    * [[fuzzyIndexMatches]]: every (s, k, dist) link between the
    * DISTINCT probe strings `probe` (one column `s`) and index keys
    * admitted before `excludeBatchFrom`, at the tier/maxDist of the
    * index's record `rec`.
    */
  private def matchStrings(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, rec: IndexStore.Record,
                           probe: DataFrame,
                           excludeBatchFrom: Option[Long]): DataFrame = {
    val (tier, md, _, _) = fuzzyParams(rec)
    val cand =
      if (tier == "exact") {
        val idx = IndexStore.read(spark, indexDir, rec, "hood", excludeBatchFrom)
        // the probe's exploded hood is the SMALL side (probe keys ×
        // hood size); the at-rest index must stream through ONE scan
        // with no shuffle — force the broadcast under a size gate (the
        // minHashIndexLookup discipline) instead of letting Catalyst
        // guess over a stats-less leaf: a sort-merge fallback would
        // shuffle the INDEX, the exact cost the index-at-rest layout
        // exists to avoid
        val keys = probe.localCheckpoint(true)
        val st = keys.agg(count(lit(1)),
          coalesce(avg(length(col("s"))), lit(0.0))).head()
        val meanLen = st.getDouble(1)
        val hoodRows = (st.getLong(0) *
          (if (md == 1) meanLen + 1
           else (meanLen + 1) * (meanLen + 2) / 2)).toLong
        val hood = keys
          .select(col("s"), explode(deletionHood(col("s"), md)).as("dk"))
        idx.select(col("dk"), col("k"))
          .join(if (hoodRows <= 2000000L) broadcast(hood) else hood,
            Seq("dk"))
          .select(col("s").as("s1"), col("k").as("s2")).distinct()
      } else
        minHashIndexLookup(spark, s"$indexDir/sketch", charSpaced(probe),
            "id", "chars", excludeBatchFrom = excludeBatchFrom)
          .select(col("new_id").as("s1"), col("corpus_id").as("s2")).distinct()
    verifyCandidates(cand, md)
      .select(col("s_a").as("s"), col("s_b").as("k"), col("dist"))
  }

  /** Fuzzy LOOKUP against a streaming fuzzy index-at-rest: every
    * (id, matched index key `k`, dist) link between `df`'s strings and
    * keys admitted before `excludeBatchFrom` (None = the whole index),
    * at the tier and maxDist pinned in the index `_meta` — exact tier:
    * deletion-hood equi-join, exact recall; minhash tier: char-bigram
    * band collisions, exact-verified precision. The probe half of
    * [[fuzzyCrawlBatch]] exposed on its own, for linkage-style lookups
    * ("which admitted entity does this row match") and seed-then-probe
    * audits (dd23).
    */
  def fuzzyIndexMatches(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, df: DataFrame,
                        idCol: String, strCol: String,
                        excludeBatchFrom: Option[Long] = None): DataFrame = {
    val rec = fuzzyIndexMeta(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"no streaming fuzzy index at $indexDir (no _meta)"))
    val v = df.select(col(idCol).as("__pid"), col(strCol).as("s"))
    v.join(matchStrings(spark, indexDir, rec,
        v.select(col("s")).distinct(), excludeBatchFrom),
        Seq("s"))
      .select(col("__pid").as(idCol), col("k"), col("dist"))
  }

  /** Seed or bulk-append ALL of `df`'s distinct strings into a
    * streaming fuzzy index (no survivor filtering — the bootstrap arm;
    * a crawl's own admits stay survivor-only through
    * [[fuzzyCrawlBatch]]). Creates the index record (pinning tier and
    * maxDist) if absent; `tier` is only consulted on creation.
    * Batch-tag the seed `-1` to sort before every live micro-batch
    * (the seeding convention), or any id below the stream's next
    * batch.
    */
  def fuzzyIndexPut(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, df: DataFrame, strCol: String,
                    batch: Long, maxDist: Int = 1,
                    tier: String = "exact",
                    numHashes: Int = 64, bands: Int = 32): Unit = {
    val keys = fuzzyRows(df, strCol, strCol, maxDist).select(col("s").as("k"))
      .distinct().localCheckpoint(true)
    fuzzyIndexWrite(spark, indexDir, keys, batch, fuzzyIndexMeta(spark, indexDir)
      .map(fuzzyParams).getOrElse((tier, maxDist, numHashes, bands)))
    IterPin.free(keys) // the writes above were the pin's last consumers
  }

  /** A streaming fuzzy index's record; None before the first admit
    * landed. */
  private def fuzzyIndexMeta(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String): Option[IndexStore.Record] =
    IndexStore.open(spark, indexDir, "fuzzy")

  /** A fuzzy record's pinned (tier, max_dist, num_hashes, bands). */
  private def fuzzyParams(r: IndexStore.Record): (String, Int, Int, Int) =
    (r.params("tier"), r.int("max_dist"), r.int("num_hashes"), r.int("bands"))

  /** The admit shared by [[fuzzyCrawlBatch]] and [[fuzzyIndexPut]]:
    * write the distinct `keys` (one column `k`) under `batch` into the
    * tier `meta` names — the exact tier's deletion hoods, or the
    * minhash tier's char-bigram sketch (a nested MinHash index) — then
    * the outer record. An empty admit writes nothing.
    */
  private def fuzzyIndexWrite(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String, keys: DataFrame, batch: Long,
                              meta: (String, Int, Int, Int)): Unit = {
    val (tier, md, nh, bs) = meta
    val params = Map("tier" -> tier, "max_dist" -> md.toString,
      "num_hashes" -> nh.toString, "bands" -> bs.toString)
    if (tier == "exact")
      IndexStore.admit(spark, indexDir, "fuzzy", params, batch, Seq(IndexStore.Part("hood",
        keys.select(col("k"), explode(deletionHood(col("k"), md)).as("dk")))))
    else {
      minHashIndexPut(spark, s"$indexDir/sketch",
        charSpaced(keys.select(col("k").as("s"))), "id", "chars", batch,
        shingleSize = 2, numHashes = nh, bands = bs)
      // the outer record pins the tier and means "the index exists":
      // write it only once the sketch landed — keys too short to form
      // a char bigram write no sketch, and a record anyway would point
      // later probes at a sketch that is not there
      if (minHashIndexMeta(spark, s"$indexDir/sketch").isDefined)
        IndexStore.create(spark, indexDir, "fuzzy", params, Nil)
    }
  }

  /** Strings `s` as (id = the string, chars = its characters spaced),
    * the char-bigram MinHash input of the fuzzy minhash tier: one char
    * per token, so word shingles of size 2 are char bigrams (candidate
    * generation only — verification is exact, so the space-char
    * token-drop edge cannot cost correctness, only candidates). */
  private def charSpaced(d: DataFrame): DataFrame = d.select(col("s").as("id"),
    regexp_replace(col("s"), "(?s)(.)", "$1 ").as("chars"))
}
