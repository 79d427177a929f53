package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Components, Dedup, GraphAlgos, IndexStore, Similarity, TextAnalysis}

/** Training-data operator semantics on hand-built corpora where ground
  * truth is computable exactly.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines and scale"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "spark engines process data at scale with partitions"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val r = Dedup.exactByHash(docs, col("text"), col("doc_id")).collect()
    assert(r.length == 4) // 5 docs, one exact pair
    val dupGroup = r.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((3L, 5L)))
  }

  test("minhash estimate approximates true jaccard for exact dups") {
    val est = Dedup.minHashLshPairs(docs, "doc_id", "text", 2, 64, 32)
      .filter(col("id1") === 1 && col("id2") === 4)
      .select(col("est_jaccard")).collect().head.getDouble(0)
    assert(est == 1.0)
  }

  test("LSH clone-cluster collapse: candidate work scales with DISTINCT " +
    "signatures (not corpus), output is every clone pair at est 1.0, and " +
    "the opt-in bucket cap spares clone groups") {
    // engineered boilerplate mega-cluster flood (the round-15 verdict's
    // 100 TB liability): 3 distinct texts replicated 800/500/300× —
    // pre-collapse, every clone of a group landed in the same
    // (band, bkey) bucket of every band and the self-join expanded
    // |group|²/2 rows per band
    val sizes = Seq(
      (0L, 800, "the quick brown fox jumps over the lazy dog and naps"),
      (1L, 500, "completely different content about spark engines and scale"),
      (2L, 300, "streaming pipelines checkpoint state across micro batch boundaries"))
    val flood = sizes.flatMap { case (g, n, t) =>
      (0 until n).map(k => (g * 10000L + k, t)) }.toDF("id", "text")
    val sig = Dedup.minHashSignatures(
      Dedup.shingleRows(flood, "id", "text", 3), 64)
    // 1600 docs collapse to 3 distinct signatures...
    val reps = Dedup.lshSigReps(sig)
    assert(reps.count() == 3L)
    // ...and the band join's candidate volume is a function of those 3
    // rows, never of the 1600 (the scaling gate: pre-collapse this was
    // ~sum(|group|²/2 × bands) ≈ 7.7M join rows)
    assert(Dedup.lshRepPairs(reps, 64, 16).count() <= 3L)
    // the OUTPUT is unchanged by the collapse: every intra-group pair
    // at est_jaccard exactly 1.0, no cross-group pair (the three base
    // texts share no band bucket — deterministic under the fixed hash)
    val agg = Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16)
      .groupBy(floor(col("id1") / 10000).cast("long").as("g1"),
        floor(col("id2") / 10000).cast("long").as("g2"))
      .agg(count(lit(1)).as("n"), min(col("est_jaccard")).as("lo"),
        max(col("est_jaccard")).as("hi"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val expected = sizes.map { case (g, n, _) =>
      ((g, g), (n.toLong * (n - 1) / 2, 1.0, 1.0)) }.toMap
    assert(agg == expected, agg)
    // bucket cap (opt-in recall trade for near-identical-but-DISTINCT
    // floods): cap 0 drops every band bucket, so cross-signature
    // candidates vanish — but clone groups are collapse-immune and all
    // their pairs survive, with loud stderr accounting
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    val capped = try {
      System.setErr(new java.io.PrintStream(errBuf, true))
      spark.conf.set("graft.lsh.bucketCap", "0")
      Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16)
        .agg(count(lit(1)), min(col("est_jaccard"))).collect().head
    } finally {
      spark.conf.unset("graft.lsh.bucketCap")
      System.setErr(prevErr)
    }
    assert(capped.getLong(0) == expected.values.map(_._1).sum)
    assert(capped.getDouble(1) == 1.0)
    assert(errBuf.toString.contains("bucket cap"), errBuf.toString)
    // simHashPairs carries the same collapse on the 48-bit fingerprint
    // (a pure function of the token multiset): the flood's output is
    // exactly every intra-group pair at hamming 0, and the three base
    // fingerprints are farther than hamming 6 apart (no cross pairs)
    val sh = Dedup.simHashPairs(flood, "id", "text", maxHamming = 6)
      .groupBy(floor(col("id1") / 10000).cast("long").as("g1"),
        floor(col("id2") / 10000).cast("long").as("g2"))
      .agg(count(lit(1)).as("n"), max(col("hamming")).as("h"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getInt(3))))
      .toMap
    assert(sh == sizes.map { case (g, n, _) =>
      ((g, g), (n.toLong * (n - 1) / 2, 0)) }.toMap, sh)
    // the bucket cap covers the simhash and embedding block joins too;
    // clone groups stay immune (collapsed upstream, never overflow)
    val vecs = Seq.tabulate(3)(g => (g, Seq.tabulate(8)(d =>
      if (d == g) 1.0 else 0.1 * (g + 1) * (d + 1))))
    val vflood = vecs.flatMap { case (g, v) =>
      (0 until 50).map(k => (g * 10000L + k, v)) }.toDF("id", "emb")
    def vpairs() = Dedup.embeddingNearDupPairs(vflood, "id", "emb",
      threshold = 0.99, planes = 6, tables = 4)
      .agg(count(lit(1)), min(col("cos_sim"))).collect().head
    val vUncapped = vpairs()
    try {
      spark.conf.set("graft.lsh.bucketCap", "0")
      val vCapped = vpairs()
      val shCapped = Dedup.simHashPairs(flood, "id", "text", maxHamming = 6)
        .agg(count(lit(1)), max(col("hamming"))).collect().head
      // every intra-clone pair survives the cap at both operators
      assert(shCapped.getLong(0) ==
        sizes.map { case (_, n, _) => n.toLong * (n - 1) / 2 }.sum)
      assert(shCapped.getInt(1) == 0)
      assert(vCapped.getLong(0) == 3L * 50 * 49 / 2, vCapped.toString)
      assert(vCapped.getDouble(1) == 1.0)
    } finally spark.conf.unset("graft.lsh.bucketCap")
    // with no near-identical cross groups in this corpus, the capped
    // embedding output IS the uncapped one (identical-vector pairs)
    assert(vUncapped.getLong(0) == 3L * 50 * 49 / 2, vUncapped.toString)
  }

  test("connectivity-thin dedup edges: components equal the full pair " +
    "graph's at every tier, edge count is linear in a clone flood, and " +
    "the weighted df cap matches the member-level path") {
    import org.apache.spark.sql.DataFrame
    // mixed corpus: clone groups (the quadratic hazard), genuine
    // near-dups ACROSS groups (exercising the cross-group edges), and
    // distinct docs (exercising absent nodes)
    val base = Seq(
      (0L, 60, "the quick brown fox jumps over the lazy dog and naps at noon"),
      (1L, 40, "the quick brown fox jumps over the lazy dog and naps at night"),
      (2L, 25, "completely different content about spark engines and scale limits"),
      (3L, 1, "completely different content about spark engines and scale limit"),
      (4L, 10, "streaming pipelines checkpoint state across micro batch boundaries"),
      (5L, 1, "an entirely unrelated document about gardening tools and soil"))
    val flood = base.flatMap { case (g, n, t) =>
      (0 until n).map(k => (g * 1000L + k, t)) }.toDF("id", "text")
    val nDocs = base.map(_._2).sum.toLong
    val nStars = base.map(_._2 - 1).sum.toLong
    def compsOf(edges: DataFrame): Map[Long, Long] =
      Components.connectedComponents(edges.select(col("id1"), col("id2")),
        "id1", "id2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // est tier: minHashLshDedupEdges vs the filtered pair set
    val estFull = Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16)
      .filter(col("est_jaccard") >= 0.5)
    val estThin = Dedup.minHashLshDedupEdges(flood, "id", "text", 3, 64, 16, 0.5)
    assert(compsOf(estThin) == compsOf(estFull))
    // linear in the corpus: one star edge per non-canonical member plus
    // at most C(6,2) rep pairs — where the pair set is clone-quadratic
    assert(estThin.count() <= nStars + 15)
    assert(estFull.count() > 10 * estThin.count())

    // exact tier, BOTH candidate modes, with a df cap that ENGAGES
    // (the shared fox/dog shingles have member-level df 100 > 80): the
    // weighted group-level cap must reproduce the member-level capped
    // edge set's components exactly
    for (ex <- Seq(true, false)) {
      val full = Dedup.ngramJaccardPairs(flood, "id", "text", n = 3,
        threshold = 0.5, maxShingleDf = 80, exhaustive = ex)
      val thin = Dedup.ngramJaccardDedupEdges(flood, "id", "text", n = 3,
        threshold = 0.5, maxShingleDf = 80, exhaustive = ex)
      assert(compsOf(thin) == compsOf(full), s"exhaustive=$ex")
      assert(thin.count() <= nStars + 15, s"exhaustive=$ex")
    }

    // fuzzy tier: auto-routed thin edges vs auto-routed pairs (exact
    // dup key groups + distance-1 neighbours)
    val keys = (0 until 5).flatMap(g => (0 until 10).map(k =>
        (g * 100L + k, s"key-alpha-$g"))) ++
      Seq((900L, "key-alpha-0x"), (901L, "key-alpha-11"))
    val keyDf = keys.toDF("id", "text")
    val Dedup.FuzzyRouted(fp, fe, _) = Dedup.editDistanceAuto(keyDf, "id", "text", maxDist = 1)
    assert(compsOf(fe) == compsOf(fp))
    assert(fe.count() < fp.count())

    // simhash tier: hamming is fingerprint-pure
    val shFull = Dedup.simHashPairs(flood, "id", "text", maxHamming = 6)
    val shThin = Dedup.simHashDedupEdges(flood, "id", "text", maxHamming = 6)
    assert(compsOf(shThin) == compsOf(shFull))
    assert(shThin.count() <= nStars + 15)

    // embedding tier: cosine is VECTOR-pure (the sketch is not), so
    // the thin form collapses on the vector itself; include exact
    // clones, a near-dup pair, an unrelated vector, and a ZERO vector
    // clone group (whatever NaN/zero-norm semantics cosineVerify has,
    // the self-verified star must decide it identically to the member
    // path's intra candidates)
    val vbase = Seq(
      (0L, 40, Seq.tabulate(8)(i => 1.0 / (i + 1))),
      (1L, 25, Seq.tabulate(8)(i => 1.0 / (i + 1) + (if (i == 7) 0.01 else 0.0))),
      (2L, 10, Seq.tabulate(8)(i => if (i % 2 == 0) -1.0 else 0.9 * i)),
      (3L, 5, Seq.fill(8)(0.0)),
      (4L, 1, Seq.tabulate(8)(i => -0.3 * (i + 1))))
    val vflood2 = vbase.flatMap { case (g, n, vec) =>
      (0 until n).map(k => (g * 1000L + k, vec)) }.toDF("id", "emb")
    val vFull = Dedup.embeddingNearDupPairs(vflood2, "id", "emb",
      threshold = 0.9, planes = 6, tables = 4).select(col("id1"), col("id2"))
    val vThin = Dedup.embeddingNearDupDedupEdges(vflood2, "id", "emb",
      threshold = 0.9, planes = 6, tables = 4)
    assert(compsOf(vThin) == compsOf(vFull))
    assert(vThin.count() <= vbase.map(_._2 - 1).sum.toLong + 10)

    // the flood's survivor set through the wired stage shape: thin
    // edges → components → min-id per component — identical to the
    // full pair graph's survivors by the component equality above,
    // spot-checked here against first principles (the canonical clone
    // of each merged near-dup family)
    val thinComps = compsOf(estThin)
    // a clone group is always one component, labeled by its min id
    assert((1 until 60).forall(k => thinComps(k.toLong) == thinComps(1L)))
    assert(thinComps(1L) == 0L || thinComps.contains(0L))
    assert(!thinComps.contains(5000L)) // singleton distinct doc: no edges
    assert(nDocs == flood.count())

    // the CLONE-DENSITY router: the flood routes thin (edge count
    // linear), a distinct-doc corpus routes to the pair expansion —
    // components identical on both routes by the equalities above, so
    // the router can only change plans, never survivors. The decision
    // is observed through the returned LEDGER (race-free — scraping
    // the process-global stderr swallowed other tests' output under
    // parallel execution)
    val (floodAuto, floodLedger) = Dedup.ngramJaccardDedupEdgesAutoLedger(
      flood, "id", "text",
      n = 3, threshold = 0.5, exhaustive = false, sampleSixteenths = 16)
    assert(floodAuto.count() <= nStars + 15)
    val fl = floodLedger.collect().head
    assert(fl.getAs[String]("route") == "thin", fl.toString)
    assert(fl.getAs[Double]("clone_ratio") >= 0.02)
    assert(fl.getAs[Long]("max_group") == 60L) // the largest clone group
    val distinctDocs = base.map { case (g, _, t) => (g, t + s" tail$g") }
      .toDF("id", "text")
    val (distAuto, distLedger) = Dedup.ngramJaccardDedupEdgesAutoLedger(
      distinctDocs, "id", "text",
      n = 3, threshold = 0.5, exhaustive = false, sampleSixteenths = 16)
    assert(compsOf(distAuto) == compsOf(
      Dedup.ngramJaccardDedupEdges(distinctDocs, "id", "text",
        n = 3, threshold = 0.5, exhaustive = false)))
    val dl = distLedger.collect().head
    assert(dl.getAs[String]("route") == "pairs", dl.toString)
    assert(dl.getAs[Long]("max_group") == 1L)
    // a threshold > 1.0 fails on BOTH routes, before routing (the
    // pairs arm would otherwise silently return empty — the one input
    // where the router could change observable behavior)
    for (corpus <- Seq(flood, distinctDocs))
      intercept[IllegalArgumentException] {
        Dedup.ngramJaccardDedupEdgesAutoLedger(corpus, "id", "text",
          n = 3, threshold = 1.1, exhaustive = false, sampleSixteenths = 16)
      }
  }

  test("clone-density router: a DILUTED mega clone group routes thin " +
    "via the max-sampled-group disjunct even when the corpus-wide " +
    "clone-mass ratio sits under its threshold") {
    import graft.operators.Dedup
    // one 200-member shingle-set clone group buried in 12,800 distinct
    // docs: clone_ratio = 1 - 12801/13000 ≈ 0.0153 < 0.02 (the mass
    // statistic is BLIND to it), but max_group = 200 >= 64 — exactly
    // the 10⁶-in-10⁹ web-corpus shape scaled to gate size. Distinct
    // docs are built from md5 tokens so they share no shingle with
    // anything (no near-dup noise in the linearity bound).
    val mega = spark.range(200L)
      .select(col("id"), lit("the mega boilerplate clone body that " +
        "floods the component input when expanded pairwise").as("text"))
    val rest = spark.range(1000L, 13800L)
      .select(col("id"), concat_ws(" ",
        md5(concat(col("id").cast("string"), lit("a"))),
        md5(concat(col("id").cast("string"), lit("b"))),
        md5(concat(col("id").cast("string"), lit("c"))),
        md5(concat(col("id").cast("string"), lit("d")))).as("text"))
    val corpus = mega.unionByName(rest)
    val (edges, ledger) = Dedup.ngramJaccardDedupEdgesAutoLedger(
      corpus, "id", "text",
      n = 3, threshold = 0.5, exhaustive = false, sampleSixteenths = 16)
    val l = ledger.collect().head
    assert(l.getAs[Double]("clone_ratio") < 0.02, l.toString)  // diluted
    assert(l.getAs[Long]("max_group") == 200L, l.toString)     // but seen
    assert(l.getAs[String]("route") == "thin", l.toString)
    // thin-route linearity: the mega group contributes |group| - 1
    // star edges, never |group|²/2 = 19,900 pairs; the distinct
    // remainder contributes nothing
    val n = edges.count()
    assert(n == 199L, s"expected 199 star edges, got $n")
    // and the routed edges resolve to the single true component
    val comps = graft.operators.Components
      .connectedComponents(edges, "id1", "id2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 200 && comps.values.toSet == Set(0L))
  }

  test("simhash: identical text => identical fingerprint; near-dup within hamming 6") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L)
    assert(exact.exists(_._3 == 0))
  }

  test("simhash hot-bucket view: simHashBucketStats sees the boilerplate bucket") {
    import graft.operators.Dedup
    // 30 near-identical boilerplate docs: every one lands in the same
    // pigeonhole buckets, so each bucket holds ~30 rows
    val boiler = (1L to 30L).map(i =>
      (i, s"terms of service apply to all users of product number $i"))
      .toDF("doc_id", "text")
    val stats = Dedup.simHashBucketStats(boiler, "doc_id", "text", maxHamming = 6)
    assert(stats.collect().head.getLong(2) > 10)
  }

  test("simHashCandidateStats: exact clones contribute ZERO candidate " +
    "mass (the collapse), a hamming<=max pair contributes at least one " +
    "(the pigeonhole recall guarantee), and the total is the blocking's " +
    "true self-join volume") {
    import graft.operators.Dedup
    // 3 byte-identical docs → ONE distinct fingerprint → one singleton
    // bucket per pigeonhole block (7 at maxHamming 6), no candidates
    val clones = Seq((1L, "alpha beta gamma delta"),
        (2L, "alpha beta gamma delta"), (3L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val s0 = Dedup.simHashCandidateStats(clones, "doc_id", "text", 6).head()
    assert(s0.getAs[Long]("distinct_fingerprints") == 1L, s0)
    assert(s0.getAs[Long]("buckets") == 7L, s0)
    assert(s0.getAs[Long]("candidate_pairs") == 0L, s0)
    // DISTINCT fingerprints within hamming <= 6 (the boilerplate
    // corpus: texts differing by one number token): the pigeonhole
    // guarantee says every such pair agrees on at least one whole
    // block, so the candidate mass is at least the verified
    // cross-fingerprint pair count
    val boiler = (1L to 30L).map(i =>
      (i, s"terms of service apply to all users of product number $i"))
      .toDF("doc_id", "text")
    val nearPairs = Dedup.simHashPairs(boiler, "doc_id", "text", maxHamming = 6)
      .filter(col("hamming") > 0).count()
    assert(nearPairs >= 1L, "boilerplate corpus lost its hamming>0 pairs")
    // (the DOC-pair count is not a lower bound on the FINGERPRINT-pair
    // candidate mass — a clone group expands one rep pair into many
    // doc pairs — so the recall assertion is existence, and the exact
    // accounting is the histogram equality below)
    val s1 = Dedup.simHashCandidateStats(boiler, "doc_id", "text", 6).head()
    assert(s1.getAs[Long]("candidate_pairs") >= 1L, s1)
    // internal consistency: Σ C(distinct_fingerprints, 2) over the
    // bucket histogram IS the candidate total
    val fromHist = Dedup.simHashBucketStats(boiler, "doc_id", "text", 6)
      .collect().map { r =>
        val d = r.getLong(3); d * (d - 1) / 2
      }.sum
    assert(s1.getAs[Long]("candidate_pairs") == fromHist, s1)
    // the minhash tier's counterpart (lshCandidateStats): the clone
    // corpus collapses to ONE distinct signature — one singleton bucket
    // per band (16), zero candidate mass; the boilerplate corpus's
    // near-identical texts collide in at least one band
    val l0 = Dedup.lshCandidateStats(clones, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16).head()
    assert(l0.getAs[Long]("distinct_signatures") == 1L, l0)
    assert(l0.getAs[Long]("buckets") == 16L, l0)
    assert(l0.getAs[Long]("candidate_pairs") == 0L, l0)
    val l1 = Dedup.lshCandidateStats(boiler, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16).head()
    assert(l1.getAs[Long]("distinct_signatures") == 30L, l1)
    assert(l1.getAs[Long]("candidate_pairs") >= 1L, l1)
  }

  test("hash sampling: deterministic, monotone, quota-respecting") {
    import graft.operators.Sampling
    val df = spark.range(0, 400).toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    assert(Sampling.hashSample(df, "doc_id", 0).count() == 0)
    assert(Sampling.hashSample(df, "doc_id", 16).count() == 400)
    val s4 = Sampling.hashSample(df, "doc_id", 4).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s8 = Sampling.hashSample(df, "doc_id", 8).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s4.subsetOf(s8))                  // nested: same keys stay in
    assert(s4 == Sampling.hashSample(df, "doc_id", 4).select("doc_id")
      .collect().map(_.getLong(0)).toSet)    // reproducible
    assert(s8.size > s4.size && s4.nonEmpty) // fractions roughly ordered
    // stratified: en keeps ~4/16, de everything
    val strat = Sampling.stratifiedSample(df, "doc_id", "lang", Map("en" -> 4))
    assert(strat.filter(col("lang") === "de").count() == 200)
    val en = strat.filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(en == s4.filter(_ % 2 == 0))      // same membership rule per key
  }

  test("temperature mixing keeps all of the most-upweighted group") {
    import graft.operators.Sampling
    // A: 8 rows, B: 2 rows; alpha=0.5 → shares 2:1 → T=6, f_A=0.5 (s=8),
    // f_B=1.0 (s=16 — exact-one survives the quantization epsilon)
    val df = ((1L to 8L).map(i => (i, "A")) ++ Seq((100L, "B"), (101L, "B")))
      .toDF("doc_id", "grp")
    val kept = Sampling.temperatureSample(df, "doc_id", "grp", alpha = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(kept.contains(100L) && kept.contains(101L)) // B fully kept
    val expectedA = Sampling.hashSample(df.filter(col("grp") === "A"), "doc_id", 8)
      .collect().map(_.getLong(0)).toSet
    assert(kept -- Set(100L, 101L) == expectedA) // A at exactly 8/16
  }

  test("token-budget sampling fills each group's budget exactly") {
    import graft.operators.Sampling
    val df = spark.range(0, 100).toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
      .withColumn("n", lit(10L))
    val out = Sampling.budgetSample(df, "doc_id", "lang", "n",
      Map("en" -> 100L, "de" -> 55L)).collect()
      .map(r => r.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    assert(out("en") == 10) // 100 budget / 10 each
    assert(out("de") == 5)  // 55 budget: 5 fit, 6th would exceed
    // reproducible: same rows both times
    val a = Sampling.budgetSample(df, "doc_id", "lang", "n", Map("en" -> 100L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.budgetSample(df, "doc_id", "lang", "n", Map("en" -> 100L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // monotone: a smaller budget selects a prefix of the bigger one
    val small = Sampling.budgetSample(df, "doc_id", "lang", "n", Map("en" -> 50L))
      .filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val big = Sampling.budgetSample(df, "doc_id", "lang", "n", Map("en" -> 100L))
      .filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
  }

  test("sequence packing equals the sequential fold; boundary docs flagged") {
    import graft.operators.Sampling
    // multi-partition, out-of-order input with varied sizes and a doc
    // bigger than the context (spans 3+ sequences); a zero-token doc
    // must be excluded, not packed at a point
    val sizes = Map(1L -> 100L, 2L -> 700L, 3L -> 12L, 4L -> 0L,
      5L -> 500L, 6L -> 212L, 7L -> 1L)
    val df = spark.createDataFrame(
      scala.util.Random.shuffle(sizes.toSeq).map { case (i, n) => (i, n) })
      .toDF("doc_id", "n_tokens").repartition(5)
    val got = Sampling.packSequences(df, "doc_id", "n_tokens",
      ctxLen = 256L, parts = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // sequential fold oracle
    var off = 0L
    val want = sizes.toSeq.sortBy(_._1).filter(_._2 > 0).map { case (i, n) =>
      val r = (i, (n, off, off / 256, (off + n - 1) / 256)); off += n; r
    }.toMap
    assert(got == want)
    assert(!got.contains(4L))
    // doc 2 (700 tokens at offset 100) spans sequences 0 through 3
    assert(got(2L)._3 == 0L && got(2L)._4 == 3L)
    // deterministic under a different partition count
    val again = Sampling.packSequences(df, "doc_id", "n_tokens",
      ctxLen = 256L, parts = 11)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(again == got)
  }

  test("two-phase top-k per group equals the naive global ranking") {
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    // heavily skewed: one dominant group, score ties to exercise the
    // tie-break, k larger than a small group's size
    val df = spark.range(0, 500).toDF("id")
      .withColumn("grp", when(col("id") % 50 === 0, "rare").otherwise("dominant"))
      .withColumn("score", (col("id") % 7).cast("double"))
    val got = Sampling.topKPerGroup(df, "grp", "score", k = 4, tieCol = "id")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(3))).toSet
    val naive = df.withColumn("rank", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("score").desc, col("id"))))
      .filter(col("rank") <= 4)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(3))).toSet
    assert(got == naive)
  }

  test("duplicate resolution keeps the best-quality doc per cluster") {
    import graft.operators.Sampling
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val quality = Seq((1L, 0.3), (2L, 0.9), (3L, 0.5), (4L, 0.1),
      (5L, 0.7), (6L, 0.7)).toDF("doc_id", "quality")
    val kept = Sampling.resolveDuplicates(pairs, quality).collect()
      .map(_.getLong(0)).toSet
    // cluster {1,2,3} → 2 (best quality); {5,6} → 5 (tie, lowest id);
    // singleton 4 survives
    assert(kept == Set(2L, 4L, 5L))
  }

  test("duplicate resolution: null-quality docs lose their cluster") {
    import graft.operators.Sampling
    // a null quality must sort LAST (the desc-window nulls-last
    // semantics), not win via null-first struct ordering
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    val quality = Seq((1L, java.lang.Double.valueOf(0.2)),
      (2L, null.asInstanceOf[java.lang.Double]),
      (3L, null.asInstanceOf[java.lang.Double]),
      (4L, null.asInstanceOf[java.lang.Double]))
      .toDF("doc_id", "quality")
    val kept = Sampling.resolveDuplicates(pairs, quality).collect()
      .map(_.getLong(0)).toSet
    // {1,2}: non-null 0.2 beats null; {3,4}: all-null → lowest id
    assert(kept == Set(1L, 3L))
  }

  test("WCOJ triangles: adjacency intersection equals the binary-join plan") {
    import graft.operators.Wcoj
    // 0→1→2→0 and 0→1→3→0 close; 0→1→4 does not; plus a distractor
    // wedge 5→6→7 with no closing edge
    val ab = Seq((0L, 1L), (5L, 6L)).toDF("src", "dst")
    val bc = Seq((1L, 2L), (1L, 3L), (1L, 4L), (6L, 7L)).toDF("src", "dst")
    val ca = Seq((2L, 0L), (3L, 0L)).toDF("src", "dst")
    val got = Wcoj.triangles(ab, bc, ca).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 1L, 2L), (0L, 1L, 3L)))
    // equivalence against the straightforward binary-join enumeration
    val binary = ab.select(col("src").as("a"), col("dst").as("b"))
      .join(bc.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(ca.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a"))
      .select("a", "b", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == binary)
  }

  test("WCOJ triangles: parallel edges multiply like the binary join; " +
    "celebrity vertices detour through it with identical results") {
    import graft.operators.Wcoj
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // parallel edges: 1→2 twice in bc and 2→0 twice in ca → the single
    // triangle (0,1,2) must surface 2 × 2 = 4 times (openCypher counts
    // each relationship combination as its own match row)
    val ab = Seq((0L, 1L)).toDF("src", "dst")
    val bc = Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("src", "dst")
    val ca = Seq((2L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    val binary = rows(ab.select(col("src").as("a"), col("dst").as("b"))
      .join(bc.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(ca.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a"))
      .select("a", "b", "c"))
    assert(binary.count(_ == (0L, 1L, 2L)) == 4)
    assert(rows(Wcoj.triangles(ab, bc, ca)) == binary)
    // skew guard: with maxAdjDegree = 1, vertex 1 (b-degree 2) and
    // vertex 0 (a-degree 2) are celebrities — no adjacency map forms
    // for them, the spine edge detours through the binary join, and the
    // result is unchanged
    assert(rows(Wcoj.triangles(ab, bc, ca, maxAdjDegree = 1)) == binary)
  }

  test("connected components: pairs collapse to min-id clusters") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 3L))
      .toDF("id1", "id2")
    val comps = Components.connectedComponents(pairs, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 5L -> 5L, 6L -> 5L))
    val canon = Components.canonicalPerComponent(pairs, "id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(canon == Set((1L, 1L, 4L), (5L, 5L, 2L)))
    // regime equivalence: forcing the distributed label-propagation loop
    // (driver gate 0) must yield the identical labeling
    spark.conf.set("graft.components.driverMaxEdges", "0")
    try {
      val dist = Components.connectedComponents(pairs, "id1", "id2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == comps)
    } finally spark.conf.unset("graft.components.driverMaxEdges")
  }

  test("ngram jaccard matches hand-computed value") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 4L)) == 1.0)
    // docs 1 and 2 share 7 of 8 bigrams each: J = 7 / (8 + 8 - 7) = 0.7778
    assert(math.abs(pairs((1L, 2L)) - 0.7778) < 1e-3)
  }

  test("ngram jaccard: LSH-verified pairs equal the exhaustive ground truth") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = asMap(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.5))
    val exact = asMap(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2,
      threshold = 0.5, exhaustive = true))
    // identical pair sets AND identical exact-Jaccard values: the LSH
    // path verifies with the same expression the exhaustive path uses
    assert(lsh == exact)
  }

  test("exhaustive ngram jaccard leaves no persisted RDDs behind") {
    // scope the assertion to THIS operator's run: other operators'
    // returned checkpoints (e.g. connected components' labels) are
    // legitimately alive until collected by the context cleaner
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.5,
      exhaustive = true).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"operator left persisted RDDs: $leaked")
  }

  test("cosinePairsExact window ground truth contains the LSH near-dup pairs") {
    val base = (0 until 32).map(_.toFloat / 32).toArray
    val nearDup = base.clone(); nearDup(0) += 0.001f
    val other = (0 until 32).map(i => ((i * 7919) % 32).toFloat / 32 - 0.5f).toArray
    val vecs = Seq((10L, base), (11L, nearDup), (12L, other))
      .toDF("vec_id", "embedding")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = asMap(Dedup.cosinePairsExact(vecs, "vec_id", "embedding",
      threshold = 0.999, maxIdGap = 10L))
    val lsh = asMap(Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.999, planes = 4, tables = 8))
    assert(exact.keySet == Set((10L, 11L)))
    // the shared verification stage yields bit-identical cos_sim values
    lsh.foreach { case (pair, sim) => assert(exact.get(pair).contains(sim)) }
  }

  test("brute-force ANN ranks by exact cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.7f, 0.7f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 2)
      .collect().map(_.getLong(0))
    assert(r.toSeq == Seq(1L, 3L))
  }

  test("IVF ANN recall: probed buckets recover the brute-force top-k") {
    // two well-separated clouds + a query in one of them: the probed
    // nprobe buckets must contain the true nearest neighbours
    val rnd = new scala.util.Random(3)
    def jitter(c: Array[Float]) = c.map(x => x + rnd.nextFloat() * 0.05f)
    val cloudA = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val cloudB = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val vecs = ((0L until 20L).map(i => (i, jitter(cloudA))) ++
      (20L until 40L).map(i => (i, jitter(cloudB)))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 5)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding", 0L, k = 5,
      nlist = 4, nprobe = 2).collect().map(_.getLong(0)).toSet
    assert((exact intersect ivf).size >= 4, s"recall too low: $exact vs $ivf")
    // the pruning is real: cloud B never surfaces for a cloud-A query
    assert(ivf.forall(_ < 20L))
    // an absent query id returns an empty frame (like the sibling
    // top-k operators), never a driver-side throw
    val none = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      queryVecId = 999L, k = 5, nlist = 4, nprobe = 2)
    assert(none.columns.toSeq == Seq("vec_id", "cos_sim") && none.isEmpty)
  }

  test("int8 quantized cosine tracks the float ranking") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val quant = Similarity.quantizedTopK(vecs, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    // int8 max-abs quantization perturbs cosine by <1%, so the top-10
    // sets agree on at least 8 of 10 over random vectors
    assert((exact intersect quant).size >= 8, s"$exact vs $quant")
    // codes are genuinely int8 range
    val codes = Similarity.quantize(vecs, "vec_id", "embedding")
      .selectExpr("explode(codes) c").agg(min("c"), max("c")).collect().head
    assert(codes.getByte(0) >= -127 && codes.getByte(1) <= 127)
  }

  test("embedding near-dup finds planted duplicate pair") {
    val base = (0 until 32).map(_.toFloat / 32).toArray
    val nearDup = base.clone(); nearDup(0) += 0.001f
    val other = (0 until 32).map(i => ((i * 7919) % 32).toFloat / 32 - 0.5f).toArray
    val vecs = Seq((10L, base), (11L, nearDup), (12L, other))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.999, planes = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)))
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("semantic dedup drops the high-centroid-similarity twin, keeps components alive") {
    // Two planted near-identical pairs in opposite half-spaces plus one
    // isolated vector. nlist=2 puts each pair with its own centroid;
    // within a duplicate pair the SemDeDup keep-low policy must keep
    // the member with the LOWER cosine-to-centroid and drop the other.
    val a1 = Array.tabulate(8)(i => (i + 1).toFloat)
    val a2 = a1.clone(); a2(7) += 0.05f // near-dup of a1
    val b1 = Array.tabulate(8)(i => -(i + 1).toFloat)
    val b2 = b1.clone(); b2(0) -= 0.05f // near-dup of b1
    val lone = Array.tabulate(8)(i => if (i % 2 == 0) 5f else -5f)
    val vecs = Seq((1L, a1), (2L, a2), (3L, b1), (4L, b2), (5L, lone))
      .toDF("vec_id", "embedding")
    val r = Dedup.semanticDedup(vecs, "vec_id", "embedding", nlist = 2, tau = 0.99)
      .collect().map(x => x.getAs[Long]("vec_id") ->
        ((x.getAs[Long]("cluster"), x.getAs[Double]("csim"), x.getAs[Int]("kept"))))
      .toMap
    assert(r.size == 5)
    // each pair shares a cluster; the lone vector survives wherever it lands
    assert(r(1L)._1 == r(2L)._1 && r(3L)._1 == r(4L)._1)
    assert(r(5L)._3 == 1)
    // exactly one survivor per planted pair, and it is the lower-csim member
    Seq((1L, 2L), (3L, 4L)).foreach { case (x, y) =>
      assert(r(x)._3 + r(y)._3 == 1, s"pair ($x,$y): want exactly one kept")
      val kept = if (r(x)._3 == 1) x else y
      val dropped = if (kept == x) y else x
      assert(r(kept)._2 <= r(dropped)._2,
        s"kept $kept must have the lower centroid similarity")
    }
    // hot-cluster guard: opt-in conf fires without changing results
    spark.conf.set("graft.semanticDedup.hotClusterWarn", "1")
    try {
      val r2 = Dedup.semanticDedup(vecs, "vec_id", "embedding", nlist = 2, tau = 0.99)
        .collect().map(x => x.getAs[Long]("vec_id") -> x.getAs[Int]("kept")).toMap
      assert(r2 == r.map { case (k, v) => k -> v._3 })
    } finally spark.conf.unset("graft.semanticDedup.hotClusterWarn")
  }

  test("semantic dedup: unset nlist scale-derives cluster count, bounding cluster size") {
    // skewed deterministic corpus: 200 vectors clumped in one corner,
    // 56 spread out — a FIXED small nlist would leave one huge cluster
    // (quadratic self-join); the derived nlist = ceil(n/target) samples
    // centroids proportionally from the clump, keeping clusters bounded
    val rnd = new scala.util.Random(42)
    def vec(center: Double, spread: Double) =
      Array.tabulate(8)(_ => (center + rnd.nextGaussian() * spread).toFloat)
    val rows = (0 until 200).map(i => (i.toLong, vec(10.0, 0.5))) ++
      (200 until 256).map(i => (i.toLong, vec(-5.0, 8.0)))
    val vecs = rows.toDF("vec_id", "embedding")
    spark.conf.set("graft.semanticDedup.targetClusterSize", "8")
    try {
      val r = Dedup.semanticDedup(vecs, "vec_id", "embedding", tau = 0.999)
        .groupBy("cluster").count().collect()
      // derived k = max(16, ceil(256/8)) = 32 > the old fixed 16
      assert(r.length > 16, s"expected >16 non-empty clusters, got ${r.length}")
      val maxSize = r.map(_.getLong(1)).max
      // expected size 8; deterministic corpus+md5 centroids → stable.
      // bound at 8x target: the skewed clump must NOT collapse into one
      // quadratic mega-cluster (fixed nlist=4 puts 200 rows in one)
      assert(maxSize <= 64, s"max cluster size $maxSize exceeds 8x target")
    } finally spark.conf.unset("graft.semanticDedup.targetClusterSize")
  }

  test("ngram novelty: first occurrence owns the gram, duplicates score zero") {
    val r = TextAnalysis.ngramNovelty(docs, "doc_id", "text", n = 4)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_grams"), x.getAs[Long]("n_novel"),
          x.getAs[Double]("novelty")))).toMap
    // doc 1: 9 tokens -> 6 distinct grams, all first-seen
    assert(r(1L) == ((6L, 6L, 1.0)))
    // doc 4 duplicates doc 1 verbatim: owns nothing
    assert(r(4L)._2 == 0L && r(4L)._3 == 0.0)
    // doc 2 shares 5 of its 6 grams with doc 1; only "...lazy cat" is new
    assert(r(2L)._1 == 6L && r(2L)._2 == 1L)
    assert(math.abs(r(2L)._3 - 1.0 / 6) < 1e-5)
    // unrelated docs own everything
    assert(r(3L)._3 == 1.0 && r(5L)._3 == 1.0)
  }

  test("knn label agreement flags the mislabeled point's label") {
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    def jig(eps: Float) = { val v = base.clone(); v(0) += eps; v }
    val neg = base.map(-_)
    def njig(eps: Float) = { val v = neg.clone(); v(1) += eps; v }
    val vecs = Seq(
      (1L, jig(0.00f), 0), (2L, jig(0.01f), 0), (3L, jig(0.02f), 0),
      (7L, jig(0.03f), 1), // mislabeled: sits in the label-0 cluster
      (4L, njig(0.00f), 1), (5L, njig(0.01f), 1), (6L, njig(0.02f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.knnLabelAgreement(vecs, "vec_id", "embedding", "label", k = 3)
      .collect().map(x => x.getAs[Int]("label") ->
        ((x.getAs[Long]("n_vecs"), x.getAs[Long]("n_agree")))).toMap
    // label 0: every member's 3-NN majority is label 0 (2 peers + the
    // mislabeled point can't outvote)
    assert(r(0) == ((3L, 3L)))
    // label 1: the three true members agree; the mislabeled point's
    // neighbors all vote 0 -> 3 of 4 agree
    assert(r(1) == ((4L, 3L)))
  }

  test("candidate-based knn agreement matches exact on clustered corpus") {
    // NOT (1..8): that direction has an EXACTLY-ZERO dot with md5-sign
    // hyperplanes 4 and 6 (sum of ±(1..8) cancels), so the jitter below
    // would flip those signature bits arbitrarily per member and split
    // the cluster across hamming>1 buckets. With 9 as the last
    // component every plane dot is >=1 in magnitude — far above the
    // 0.03 jitter — so each cluster is provably one hamming-0 bucket.
    val base = Array.tabulate(8)(i => if (i == 7) 9f else (i + 1).toFloat)
    def jig(eps: Float) = { val v = base.clone(); v(0) += eps; v }
    val neg = base.map(-_)
    def njig(eps: Float) = { val v = neg.clone(); v(1) += eps; v }
    // both clusters get 4 members so every vector's exact top-3 is
    // intra-cluster (a 3-member cluster's top-3 would include one
    // cross-cluster edge the LSH candidates correctly never see)
    val vecs = Seq(
      (1L, jig(0.00f), 0), (2L, jig(0.01f), 0), (3L, jig(0.02f), 0),
      (7L, jig(0.03f), 1),
      (4L, njig(0.00f), 1), (5L, njig(0.01f), 1), (6L, njig(0.02f), 1),
      (8L, njig(0.03f), 1))
      .toDF("vec_id", "embedding", "label")
    // near-identical directions share all 8 hyperplane signs, so each
    // cluster is one hamming-0 bucket and the candidate top-k equals
    // the exact top-k — the LSH form must reproduce the exact verdicts
    val r = Similarity.knnLabelAgreementLsh(
      vecs, "vec_id", "embedding", "label", k = 3, planes = 8)
      .collect().map(x => x.getAs[Int]("label") ->
        ((x.getAs[Long]("n_vecs"), x.getAs[Long]("n_agree")))).toMap
    assert(r(0) == ((3L, 3L)))
    assert(r(1) == ((5L, 4L)))
    val a = Similarity.knnAgreementAudit(
      vecs, "vec_id", "embedding", "label", k = 3, planes = 8).head()
    assert(a.getAs[Long]("n_vecs") == 8L)
    assert(a.getAs[Long]("n_cand_voted") == 8L)
    assert(a.getAs[Double]("nbr_recall") == 1.0)
    assert(a.getAs[Double]("agree_delta") == 0.0)
  }

  test("exact knn baseline fails fast when the corpus exceeds the " +
    "driver-collect cap, routing to the candidate path") {
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val vecs = Seq((1L, base, 0), (2L, base.map(-_), 1), (3L, base, 0))
      .toDF("vec_id", "embedding", "label")
    spark.conf.set("graft.similarity.exactMaxRows", "2")
    try {
      val err = intercept[IllegalArgumentException] {
        Similarity.knnLabelAgreement(vecs, "vec_id", "embedding", "label", k = 1)
      }
      assert(err.getMessage.contains("exactMaxRows"), err.getMessage)
      assert(err.getMessage.contains("knnLabelAgreementLsh"), err.getMessage)
    } finally spark.conf.unset("graft.similarity.exactMaxRows")
    // byte-estimate cap trips independently of the row cap
    spark.conf.set("graft.similarity.exactMaxBytes", "1")
    try {
      val err = intercept[IllegalArgumentException] {
        Similarity.knnLabelAgreement(vecs, "vec_id", "embedding", "label", k = 1)
      }
      assert(err.getMessage.contains("exactMaxBytes"), err.getMessage)
    } finally spark.conf.unset("graft.similarity.exactMaxBytes")
    // within the caps the baseline still runs
    val ok = Similarity.knnLabelAgreement(vecs, "vec_id", "embedding", "label", k = 1)
    assert(ok.collect().map(_.getAs[Long]("n_vecs")).sum == 3L)
  }

  test("knn vote pipeline excludes null and zero-norm vectors up front") {
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    def jig(eps: Float) = { val v = base.clone(); v(0) += eps; v }
    val vecs = Seq(
      (1L, jig(0.00f), 0), (2L, jig(0.01f), 0), (3L, jig(0.02f), 0),
      (8L, Array.fill(8)(0.0f), 0),
      (9L, null.asInstanceOf[Array[Float]], 0))
      .toDF("vec_id", "embedding", "label")
    // a zero vector has no direction (0/0 cosine); it must leave the
    // audited population instead of NaN-poisoning the pair stream
    val r = Similarity.knnLabelAgreement(vecs, "vec_id", "embedding", "label", k = 2)
      .collect()
    assert(r.map(_.getAs[Long]("n_vecs")).sum == 3L)
    assert(r.map(_.getAs[Long]("n_agree")).sum == 3L)
  }

  test("language id identifies real multilingual snippets") {
    val multi = Seq(
      (1L, "the cat sat on the mat and it was happy for a while"),
      (2L, "der Hund und die Katze sind nicht in der Küche mit mir"),
      (3L, "le chat est dans la maison et je ne suis pas dans le jardin"),
      (4L, "el perro es grande y la casa es bonita para mí y para ti"),
      (5L, "这是一个中文句子用于测试语言识别")).toDF("doc_id", "text")
    val preds = TextAnalysis.languageId(multi).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en" && preds(2L) == "de" && preds(3L) == "fr")
    assert(preds(4L) == "es" && preds(5L) == "zh")
  }

  test("repetition stats: top-2-gram fraction, dup tokens, gopher verdict") {
    val df = Seq(
      // 10 tokens, "spam spam" appears 9 times overlapping → max2=9,
      // tg=1.8, dup=0.9 → fails
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      // 24 clean distinct-ish tokens → passes
      (2L, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega")),
      // long enough but one dominating 2-gram
      (3L, Seq.fill(15)("go north").mkString(" ") + " then stop here now"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Double]("top2gram_frac") == 1.8)
    assert(r(1L).getAs[Double]("dup_token_frac") == 0.9)
    assert(r(1L).getAs[Int]("gopher_pass") == 0)
    assert(r(2L).getAs[Int]("gopher_pass") == 1)
    assert(r(2L).getAs[Double]("dup_token_frac") == 0.0)
    // doc 3: "go north" × 15 + 4 trailing tokens = 34 tokens, max2=15
    assert(r(3L).getAs[Double]("top2gram_frac") == math.rint((30.0 / 34 + 1e-11) * 1e4) / 1e4)
    assert(r(3L).getAs[Int]("gopher_pass") == 0)
    // mean word length: doc 1 is 10×4 chars / 10 tokens = 4.0
    assert(r(1L).getAs[Double]("mean_word_len") == 4.0)
  }

  test("tfidf top terms surface rare repeated words over common ones") {
    val corpus = Seq(
      (1L, "spark spark spark common word"),
      (2L, "common word here also"),
      (3L, "common word again and again")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(corpus, k = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    // "spark" is exclusive to doc 1 AND repeated → dominates; "common"
    // appears in all docs → idf ln(4/4)=0 everywhere
    assert(top(1L) == "spark")
    assert(top(3L) == "again") // doc-3-only term, tf 2
    val all = TextAnalysis.tfidfTopTerms(corpus, k = 10)
      .filter(col("term") === "common").select("tfidf")
      .collect().map(_.getDouble(0)).toSet
    assert(all == Set(0.0))
  }

  test("chunking covers every token with the configured overlap") {
    val doc = (1 to 100).map(i => s"w$i").mkString(" ")
    val out = graft.operators.TextAnalysis.chunk(
      Seq((1L, doc), (2L, "tiny doc")).toDF("doc_id", "text"),
      chunkSize = 32, stride = 24).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("chunk_text").split(" "), r.getAs[Int]("chunk_tokens")))
    // 100 tokens, C=32, S=24 → ceil(68/24)+1 = 4 chunks
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.length == 4)
    assert(d1.forall(c => c._3.length == c._4))
    assert(d1(0)._3.head == "w1" && d1(0)._3.length == 32)
    assert(d1(1)._3.head == "w25") // stride 24 → 8-token overlap
    assert(d1(0)._3.takeRight(8).toSeq == d1(1)._3.take(8).toSeq)
    assert(d1(3)._3.last == "w100") // full coverage
    assert(d1(3)._3.length == 100 - 3 * 24)
    // short doc: one chunk, whole text
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._3.toSeq == Seq("tiny", "doc"))
  }

  test("unigram NLL ranks rare-token docs as less likely") {
    val corpus = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2")).toDF("doc_id", "text")
    val nll = TextAnalysis.unigramLogProb(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("nll")).toMap
    // corpus: common×6, rare1×1, rare2×1, total 8
    val expected1 = -math.log(6.0 / 8)
    val expected2 = (2 * -math.log(6.0 / 8) + 2 * -math.log(1.0 / 8)) / 4
    assert(math.abs(nll(1L) - expected1) < 1e-3)
    assert(math.abs(nll(2L) - expected2) < 1e-3)
    assert(nll(2L) > nll(1L))
  }

  test("label centroid audit: tightness and cancelled-centroid null") {
    val vecs = Seq(
      // label 1: orthogonal pair → centroid (.5,.5), norm √.5,
      // each member at 45° → mean cos = cos(45°) ≈ 0.7071
      (1L, Seq(1.0f, 0.0f), 1),
      (2L, Seq(0.0f, 1.0f), 1),
      // label 2: exact cancellation → centroid (0,0): norm 0, cos NULL
      (3L, Seq(1.0f, 0.0f), 2),
      (4L, Seq(-1.0f, 0.0f), 2),
      // label 3: identical members → cos exactly 1
      (5L, Seq(3.0f, 4.0f), 3),
      (6L, Seq(3.0f, 4.0f), 3),
      // excluded: zero-norm and null vectors
      (7L, Seq(0.0f, 0.0f), 1),
      (8L, null.asInstanceOf[Seq[Float]], 1)
    ).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity
      .labelCentroidAudit(vecs, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("centroid_norm"),
          Option(r.getAs[Any]("mean_cos")))).toMap
    assert(out(1)._1 == 2L)
    assert(math.abs(out(1)._2 - math.sqrt(0.5)) < 1e-5)
    assert(math.abs(out(1)._3.get.asInstanceOf[Double] - math.sqrt(0.5)) < 1e-3)
    assert(out(2) == ((2L, 0.0, None)))
    assert(out(3)._1 == 2L && math.abs(out(3)._3.get.asInstanceOf[Double] - 1.0) < 1e-3)
  }

  test("as-of join: most recent at-or-before match, inclusive ties, tolerance, inner") {
    import graft.operators.AsOfJoin
    val quotes = Seq( // (sym, qts, px)
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0)).toDF("sym", "qts", "px")
    val trades = Seq( // (sym, ts, qty)
      ("A", 5L, 100L),  // before any quote → null
      ("A", 20L, 200L), // equal ts → inclusive match at 20
      ("A", 25L, 300L), // between → quote 20
      ("A", 99L, 400L), // far after → quote 30
      ("C", 50L, 500L)  // key with no quotes → null
    ).toDF("sym", "ts", "qty")
    val out = AsOfJoin.asof(trades, quotes, Seq("sym"), "ts", "qts")
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Long]("ts")) ->
        (Option(r.getAs[Any]("qts")), Option(r.getAs[Any]("px")))).toMap
    assert(out(("A", 5L)) == ((None, None)))
    assert(out(("A", 20L)) == ((Some(20L), Some(2.0))))
    assert(out(("A", 25L)) == ((Some(20L), Some(2.0))))
    assert(out(("A", 99L)) == ((Some(30L), Some(3.0))))
    assert(out(("C", 50L)) == ((None, None)))
    // tolerance: matches farther back than 10 ticks become misses
    val tol = AsOfJoin.asof(trades, quotes, Seq("sym"), "ts", "qts",
      tolerance = Some(lit(10L)))
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Long]("ts")) ->
        Option(r.getAs[Any]("qts"))).toMap
    assert(tol(("A", 25L)) == Some(20L))  // gap 5 ≤ 10
    assert(tol(("A", 99L)).isEmpty)       // gap 69 > 10 → miss
    // inner drops unmatched left rows
    val inner = AsOfJoin.asof(trades, quotes, Seq("sym"), "ts", "qts",
      joinType = "inner").collect()
    assert(inner.length == 3)
    // right columns colliding with left names get the suffix
    val q2 = quotes.withColumnRenamed("px", "qty") // collides with trades.qty
    val cols = AsOfJoin.asof(trades, q2, Seq("sym"), "ts", "qts").columns.toSeq
    assert(cols.count(_ == "qty") == 1 && cols.contains("qty_r"))
    // forward direction: earliest right at-or-after, inclusive
    val fwd = AsOfJoin.asof(trades, quotes, Seq("sym"), "ts", "qts",
      direction = "forward")
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Long]("ts")) ->
        Option(r.getAs[Any]("qts"))).toMap
    assert(fwd(("A", 5L)) == Some(10L))   // earliest quote after 5
    assert(fwd(("A", 20L)) == Some(20L))  // inclusive at equal ts
    assert(fwd(("A", 25L)) == Some(30L))
    assert(fwd(("A", 99L)).isEmpty)       // nothing after 99
  }

  test("as-of join matches a brute-force reference on random event sets") {
    import graft.operators.AsOfJoin
    val rnd = new scala.util.Random(42)
    val keys = Vector("a", "b", "c", "d")
    val leftRows = (1 to 120).map(i =>
      (i.toLong, keys(rnd.nextInt(keys.size)), rnd.nextInt(60).toLong))
    // right: distinct (key, ts) so the running-last tie rule is moot
    val rightRows = rnd.shuffle(
      for (k <- keys; t <- 0L until 60L) yield (k, t)
    ).take(90).zipWithIndex.map { case ((k, t), i) => (1000L + i, k, t) }
    val left = leftRows.toDF("lid", "k", "ts")
    val right = rightRows.toDF("rid", "k", "rts")
    for (dir <- Seq("backward", "forward")) {
      val got = AsOfJoin.asof(left, right, Seq("k"), "ts", "rts",
        direction = dir)
        .collect().map(r => r.getAs[Long]("lid") -> Option(r.getAs[Any]("rid")))
        .toMap
      val expect = leftRows.map { case (lid, k, ts) =>
        val cands = rightRows.filter(r => r._2 == k &&
          (if (dir == "backward") r._3 <= ts else r._3 >= ts))
        val best =
          if (cands.isEmpty) None
          else if (dir == "backward") Some(cands.maxBy(_._3)._1)
          else Some(cands.minBy(_._3)._1)
        lid -> best
      }.toMap
      assert(got == expect, s"direction=$dir")
    }
  }

  test("BPE training learns the hand-computed merge sequence") {
    // the Sennrich et al. corpus (no end-of-word marker):
    // low×5 lower×2 newest×6 widest×3
    val corpus = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val merges = Bpe.train(corpus, numMerges = 5)
    // hand-derived: (e,s)=9 ties (s,t)=9 → lexicographic; after es the
    // (s,t) pair is gone and (es,t)=9; then (l,o)=7 ties (o,w)=7; then
    // (lo,w)=7; then (e,w)=6 ties (n,e)=6 and (w,est)=6
    assert(merges.map(m => (m.left, m.right, m.pairCount)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L),
      ("lo", "w", 7L), ("e", "w", 6L)))
    assert(merges.map(_.rank) == Seq(1, 2, 3, 4, 5))
  }

  test("BPE train budget guard + sampled arm: an over-budget full-corpus " +
    "train fails fast routing to the sampled arm, which equals the full " +
    "trainer on the hash-sampled corpus and records an audit ledger") {
    import graft.operators.{Bpe, Sampling}
    // 400 docs, each contributing distinct words — comfortably over a
    // tiny test budget at 40 merges, under it on the md5 half-sample
    val corpus = spark.range(400L)
      .select(col("id").as("doc_id"), concat_ws(" ",
        concat(lit("alpha"), col("id").cast("string")),
        concat(lit("beta"), col("id").cast("string")),
        lit("shared common tail words")).as("text"))
    spark.conf.set("graft.bpe.trainBudget", "20000")
    try {
      // full corpus: ~804 distinct words x 40 merges ≈ 32k > 20k
      val e = intercept[IllegalArgumentException] {
        Bpe.train(corpus, numMerges = 40)
      }
      assert(e.getMessage.contains("trainBudget"), e.getMessage)
      assert(e.getMessage.contains("sampleSixteenths"), e.getMessage)
      // the sampled arm fits and IS the full trainer on the sample
      val (merges, ledger) = Bpe.trainWithLedger(corpus, numMerges = 40,
        sampleSixteenths = 6)
      val manual = Bpe.train(Sampling.hashSample(corpus, "text", 6),
        numMerges = 40)
      assert(merges == manual)
      assert(merges.nonEmpty)
      val l = ledger.collect().head
      assert(l.getAs[Int]("sample_sixteenths") == 6)
      assert(l.getAs[Int]("requested_merges") == 40)
      assert(l.getAs[Int]("learned_merges") == merges.size)
      assert(l.getAs[Long]("budget") == 20000L)
      assert(l.getAs[Long]("estimated_rows") ==
        l.getAs[Long]("distinct_words") * 40L)
      assert(l.getAs[Long]("estimated_rows") <= 20000L)
    } finally spark.conf.unset("graft.bpe.trainBudget")
    // default budget (1e9) never trips a gate-scale train
    assert(Bpe.train(corpus, numMerges = 3).size == 3)
  }

  test("BPE encode applies merges in rank order: lowest → [low, est]") {
    val corpus = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val merges = Bpe.train(corpus, numMerges = 5)
    val stats = Bpe.encodeStats(
      Seq((10L, "lowest lowest newest"), (11L, "low ew")).toDF("doc_id", "text"),
      merges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ws_tokens"), r.getAs[Long]("bpe_tokens"))).toMap
    // lowest = l o w e s t → es → est → lo → low → [low, est] (2 tokens);
    // newest = n e w est → ew → [n, ew, est] (3)
    assert(stats(10L) == ((3L, 2L + 2L + 3L)))
    // low → [low]; ew → e w → [ew]
    assert(stats(11L) == ((2L, 1L + 1L)))
    // repeated-pair greed is left-to-right non-overlapping: "x x x" with
    // merge (x,x) must give [xx, x], and "a b a b" must merge BOTH pairs
    val m2 = Seq(Bpe.Merge(1, "x", "x", 99L))
    val g = Bpe.encodeStats(Seq((1L, "xxx abab")).toDF("doc_id", "text"),
      m2 ++ Seq(Bpe.Merge(2, "a", "b", 99L))).collect().head
    // xxx → [xx, x] (2); abab → a b a b → [ab, ab] (2)
    assert(g.getAs[Long]("bpe_tokens") == 4L)
  }

  test("DSIR importance: target-like docs score positive, off-target negative") {
    val corpus = Seq(
      (1L, "good good good nice"),
      (2L, "bad bad good ugly")).toDF("doc_id", "text")
    val imp = TextAnalysis.dsirImportance(corpus, col("doc_id") === 1L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("importance")).toMap
    // corpus: good×4 nice×1 bad×2 ugly×1 (tot 8, vocab 4); target (doc 1):
    // good×3 nice×1 (tot 4). Laplace: p(good)=4/8 q(good)=5/12,
    // p(nice)=2/8 q(nice)=2/12, p(bad)=1/8 q(bad)=3/12, p(ugly)=1/8
    // q(ugly)=2/12.
    val exp1 = (3 * math.log(0.5 / (5.0 / 12)) + math.log(0.25 / (2.0 / 12))) / 4
    val exp2 = (2 * math.log(0.125 / 0.25) + math.log(0.5 / (5.0 / 12)) +
      math.log(0.125 / (2.0 / 12))) / 4
    assert(math.abs(imp(1L) - exp1) < 1e-4)
    assert(math.abs(imp(2L) - exp2) < 1e-4)
    assert(imp(1L) > 0 && imp(2L) < 0)
  }

  test("product quantization: top-k matches a plain-Scala PQ replay") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i => i -> Array.fill(8)(rnd.nextDouble()))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val (m, ksub, sd, k) = (4, 4, 2, 5)
    val got = Similarity.pqSampledTopK(df, "vec_id", "embedding",
      queryVecId = 0L, k = k, m = m, ksub = ksub)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("adc_dist")))
    // independent replay: md5-ranked sample, per-subspace argmin codes,
    // lookup-table ADC, (adc, id) top-k
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cents = vecs.sortBy { case (i, _) => (md5hex(i.toString), i) }
      .take(ksub).sortBy(_._1).map(_._2)
    def sq(a: Array[Double], b: Array[Double], off: Int) =
      (0 until sd).map(t => { val d = a(off + t) - b(t); d * d }).sum
    val sub = (mi: Int) => cents.map(_.slice(mi * sd, (mi + 1) * sd))
    val q = vecs.toMap.apply(0L)
    val want = vecs.filter(_._1 != 0L).map { case (i, v) =>
      val adc = (0 until m).map { mi =>
        val cs = sub(mi)
        val code = cs.indices.minBy(j => (sq(v, cs(j), mi * sd), j))
        sq(q, cs(code), mi * sd)
      }.sum
      (i, adc)
    }.sortBy { case (i, a) => (a, i) }.take(k)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq)
    got.zip(want).foreach { case ((_, ga), (_, wa)) =>
      assert(math.abs(ga - wa) < 1e-6) }
  }

  test("pagerank: hand-computed star graph, mass conserved with dangling nodes") {
    // symmetrized star 0—1, 0—2, 0—3: after one iteration
    // center = 0.15/4 + 0.85·(3·0.25) = 0.675, leaf = 0.15/4 + 0.85·(0.25/3);
    // after two, center = 0.15/4 + 0.85·(3·leaf1) = 0.31375, leaf = 0.22875
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val r2 = GraphAlgos.pageRank(star, iterations = 2)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(math.abs(r2(0L) - 0.31375) < 1e-9)
    Seq(1L, 2L, 3L).foreach(n => assert(math.abs(r2(n) - 0.22875) < 1e-9))
    // dangling redistribution: a→b with b sink. After one iteration
    // rank(a) = 0.075 + 0.85·(0.5/2) = 0.2875, rank(b) = 0.075 +
    // 0.85·(0.5 + 0.5/2) = 0.7125 — total mass stays exactly 1
    val dang = Seq((10L, 11L)).toDF("src", "dst")
    val d1 = GraphAlgos.pageRank(dang, iterations = 1)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(math.abs(d1(10L) - 0.2875) < 1e-9)
    assert(math.abs(d1(11L) - 0.7125) < 1e-9)
    assert(math.abs(d1.values.sum - 1.0) < 1e-12)
    // relative=true scales by n: uniform 2-cycle stays at exactly 1.0
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    GraphAlgos.pageRank(cyc, iterations = 3, relative = true)
      .collect().foreach(r => assert(math.abs(r.getAs[Double]("rank") - 1.0) < 1e-12))
    // weighted: 0→1 (w=1), 0→2 (w=3) splits node 0's rank 1/4 vs 3/4;
    // one iteration (1,2 dangling, D=2/3): rank(1) = 0.05 +
    // 0.85·(1/12 + 2/9), rank(2) = 0.05 + 0.85·(1/4 + 2/9)
    val wdf = Seq((0L, 1L, 1.0), (0L, 2L, 3.0)).toDF("src", "dst", "wt")
    val wr = GraphAlgos.pageRank(wdf, iterations = 1, weightCol = Some("wt"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(wr(1L) - (0.05 + 0.85 * (1.0 / 12 + 2.0 / 9))) < 1e-12)
    assert(math.abs(wr(2L) - (0.05 + 0.85 * (0.25 + 2.0 / 9))) < 1e-12)
    assert(math.abs(wr.values.sum - 1.0) < 1e-12)
    // personalized: chain 1↔2↔3 seeded at {1}. Two iterations:
    // r1 = (0.15, 0.85, 0); r2 = (0.15+0.85·0.425, 0.85·0.15, 0.85·0.425)
    val chain = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val pp = GraphAlgos.pageRank(chain, iterations = 2, seeds = Some(Seq(1L)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pp(1L) - 0.51125) < 1e-12)
    assert(math.abs(pp(2L) - 0.1275) < 1e-12)
    assert(math.abs(pp(3L) - 0.36125) < 1e-12)
    assert(math.abs(pp.values.sum - 1.0) < 1e-12) // mass stays on the walk
  }

  test("scd2: runs compress, intervals chain half-open, nulls are no-change") {
    import graft.operators.Scd2
    // key 1: A,A,B,A — the AA run compresses; three intervals chain.
    // key 2: null,null,X — null→null is "no change" (one interval),
    // null→X is a change. Tie column orders equal timestamps.
    val ev = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "A"),
      (2L, 10L, 5L, null), (2L, 20L, 6L, null), (2L, 30L, 7L, "X"))
      .toDF("k", "ts", "id", "status")
    val got = Scd2.intervals(ev, Seq("k"), "ts", Seq("status"),
        tieCols = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getBoolean(4))).toSet
    assert(got == Set(
      (1L, "A", 10L, 30L, false), (1L, "B", 30L, 40L, false),
      (1L, "A", 40L, -1L, true),
      (2L, null, 10L, 30L, false), (2L, "X", 30L, -1L, true)))
    // multi-attribute tracking: a change in EITHER column opens
    val ev2 = Seq((1L, 10L, "A", "x"), (1L, 20L, "A", "y"),
      (1L, 30L, "A", "y")).toDF("k", "ts", "s1", "s2")
    assert(Scd2.intervals(ev2, Seq("k"), "ts", Seq("s1", "s2"))
      .count() == 2L)
  }

  test("kcore: peeling cascades, returns in-core degrees, caps honored") {
    def sym(es: Seq[(Long, Long)]) =
      es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    // 4-clique {1,2,3,4} with a pendant chain 4—5—6. k=2: round 1
    // peels 6 (deg 1), which drops 5 to deg 1 so round 2 peels it —
    // a genuine cascade; the clique survives with in-core degree 3
    val g = sym(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)))
    val core = GraphAlgos.kCore(g, k = 2)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg")).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // maxRounds caps the cascade mid-flight: after one round 6 is
    // gone but 5 (now deg 1) is still in, proving rounds are the
    // synchronous peel the unrolled oracle replays
    val one = GraphAlgos.kCore(g, k = 2, maxRounds = 1)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg")).toMap
    assert(one == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 1L))
    // k above the degeneracy empties the graph (triangle has no 3-core)
    assert(GraphAlgos.kCore(sym(Seq((1L, 2L), (2L, 3L), (1L, 3L))), k = 3)
      .count() == 0L)
  }

  test("fuzzy join: symmetric-delete blocking has exact recall at distance 1") {
    val names = Seq((1L, "cat"), (2L, "cats"), (3L, "ct"), (4L, "dog"),
      (5L, "kitten"), (6L, "sitten"), (7L, "sittin"), (8L, "cat"))
    val got = Dedup.editDistancePairs(names.toDF("id", "name"), "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // covers all three edit kinds: (1,2) insertion, (1,3) deletion,
    // (5,6)/(6,7) substitution, (1,8) exact dup; (5,7) and (2,3) are
    // distance 2 and must be absent
    assert(got == Set((1L, 8L, 0L), (1L, 2L, 1L), (1L, 3L, 1L),
      (2L, 8L, 1L), (3L, 8L, 1L), (5L, 6L, 1L), (6L, 7L, 1L)))
    // randomized differential: dense near-match corpus vs brute force
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(11)
    val rs = (1L to 40L).map(i =>
      (i, (1 to 3 + rnd.nextInt(3)).map(_ => ('0' + rnd.nextInt(3)).toChar).mkString))
    val want = (for {
      (i, s) <- rs; (j, t) <- rs if i < j && lev(s, t) <= 1
    } yield (i, j, lev(s, t).toLong)).toSet
    val g2 = Dedup.editDistancePairs(rs.toDF("id", "name"), "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(g2 == want)
    // distance-2 form against the same brute force
    val want2 = (for {
      (i, s) <- rs; (j, t) <- rs if i < j && lev(s, t) <= 2
    } yield (i, j, lev(s, t).toLong)).toSet
    val g3 = Dedup.editDistancePairs(rs.toDF("id", "name"), "id", "name",
        maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(g3 == want2)
    assert(want2.size > want.size) // d=2 genuinely admits more pairs here
    // duplicated-id edge (documented precondition violation): a
    // repeated id spanning two near-dup strings must not surface as a
    // degenerate id1 == id2 self-pair from the clone-collapse expand
    val dup = Seq((1L, "cat"), (1L, "cats"), (2L, "dog"))
    val gd = Dedup.editDistancePairs(dup.toDF("id", "name"), "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!gd.exists(p => p._1 == p._2), gd)
  }

  test("template compaction: corpus-constant affixes are detected and " +
    "stripped without changing the fuzzy pair set") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // TPC-H-shaped template corpus: constant prefix AND suffix around
    // a low-entropy core — the worst case the router exists for
    val rnd = new scala.util.Random(7)
    val rows = (1L to 60L).map(i => (i,
      "Cust#" + (1 to 4).map(_ => ('0' + rnd.nextInt(3)).toChar).mkString + "-X"))
    val (pre, suf) = Dedup.corpusAffixes(
      rows.toDF("id", "s").select(col("s").as("s")))
    assert(pre == "Cust#", pre)
    assert(suf == "-X", suf)
    // differential: the compacted plan is bit-identical to brute force
    val want = (for {
      (i, a) <- rows; (j, b) <- rows if i < j && lev(a, b) <= 2
    } yield (i, j, lev(a, b).toLong)).toSet
    val got = Dedup.editDistancePairs(rows.toDF("id", "s"), "id", "s",
        maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // multibyte affixes: substr/length math is codepoint-based end to
    // end, so a surrogate-pair emoji template strips cleanly
    val emoji = Seq((1L, "😀😀A1"),
      (2L, "😀😀B2"),
      (3L, "😀😀A2")).toDF("id", "s")
    val ep = Dedup.editDistancePairs(emoji, "id", "s", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ep == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)), ep)
    // the collision-density detector separates template-dense keys
    // from high-entropy keys of the same count and length
    val entropic = (1L to 60L).map(i => (i,
      rnd.alphanumeric.take(11).mkString))
    val dDense = Dedup.deletionCollisionStats(
      rows.toDF("id", "s"), "s", maxDist = 2, sampleSixteenths = 16)._1
    val dSparse = Dedup.deletionCollisionStats(
      entropic.toDF("id", "s"), "s", maxDist = 2, sampleSixteenths = 16)._1
    assert(dDense > 10 * math.max(dSparse, 0.01),
      s"dense=$dDense sparse=$dSparse")
    // clone-invariance: the density models the POST-COLLAPSE blocking
    // population (distinct strings), so replicating every row 5×
    // must not inflate the estimate
    val cloned = rows.flatMap { case (i, s) =>
      (0L to 4L).map(k => (i * 10 + k, s)) }
    val dCloned = Dedup.deletionCollisionStats(
      cloned.toDF("id", "s"), "s", maxDist = 2, sampleSixteenths = 16)._1
    assert(math.abs(dCloned - dDense) < 1e-9, s"cloned=$dCloned dense=$dDense")
  }

  test("fuzzy routing seam: the density detector routes a template-dense " +
    "corpus to the MinHash tier and a high-entropy corpus to the exact " +
    "tier, logging the decision in a ledger row") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(7)
    // template corpus: constant affixes around a 5-char alphabet-3
    // core — post-compaction the short low-entropy cores collide in
    // nearly every deletion bucket, the quadratic regime the router
    // exists for
    val dense = (1L to 600L).map(i => (i,
      "Cust#" + (1 to 5).map(_ => ('0' + rnd.nextInt(3)).toChar).mkString + "-X"))
    // high-entropy corpus: 11-char alphanumeric keys — density ~0
    val sparse = (1L to 60L).map(i => (i, rnd.alphanumeric.take(11).mkString))
    val Dedup.FuzzyRouted(densePairs, _, denseLedger) = Dedup.editDistanceAuto(
      dense.toDF("id", "s"), "id", "s", maxDist = 2, sampleSixteenths = 16)
    val Dedup.FuzzyRouted(sparsePairs, _, sparseLedger) = Dedup.editDistanceAuto(
      sparse.toDF("id", "s"), "id", "s", maxDist = 2, sampleSixteenths = 16)
    // the two corpora route DIFFERENTLY, and the ledger records the
    // measurements that drove each decision
    val dl = denseLedger.collect().head
    val sl = sparseLedger.collect().head
    assert(dl.getAs[String]("tier") == "minhash", dl)
    assert(sl.getAs[String]("tier") == "exact", sl)
    assert(dl.getAs[Double]("density") > dl.getAs[Double]("density_threshold"))
    assert(sl.getAs[Double]("density") <= sl.getAs[Double]("density_threshold"))
    // exact tier ≡ editDistancePairs (bit-identical — it IS that plan)
    val sparseGot = sparsePairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sparseWant = Dedup.editDistancePairs(
      sparse.toDF("id", "s"), "id", "s", maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sparseGot == sparseWant)
    // minhash tier: verified precision is EXACT (every emitted pair is
    // a true ≤2 pair with the true distance); banding recall high on
    // char-bigram near-dups
    val truth = (for {
      (i, a) <- dense; (j, b) <- dense if i < j && lev(a, b) <= 2
    } yield (i, j, lev(a, b).toLong)).toSet
    val got = densePairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.subsetOf(truth), (got -- truth).take(5))
    assert(got.size >= (truth.size * 0.7).toInt, s"${got.size}/${truth.size}")
    // long keys route to minhash even at low density
    val long = (1L to 40L).map(i => (i, rnd.alphanumeric.take(200).mkString))
    val longLedger = Dedup.editDistanceAuto(
      long.toDF("id", "s"), "id", "s", maxDist = 2, sampleSixteenths = 16).ledger
    assert(longLedger.collect().head.getAs[String]("tier") == "minhash")
  }

  test("fuzzy routing ledger records max_bucket: a diluted mega " +
    "collision bucket is VISIBLE even when the mean-based density sits " +
    "under its threshold, and an exact key-clone mega group stays safe " +
    "on the exact tier (distinct-string collapse)") {
    import graft.operators.Dedup
    // 300 DISTINCT strings sharing one deletion bucket (they differ
    // only in the final char, so deleting it lands them all on
    // "prefix-"), diluted by 12,000 distinct high-entropy keys whose
    // deletions collide with nothing: density ≈ 300²/2 / 12300 ≈ 3.7
    // — far under 64 — but max_bucket must record the 300
    val hot = (0L until 300L).map(i =>
      (i, "prefix-" + (0x4E00 + i).toChar))
    val dilute = (1000L until 13000L).map(i =>
      (i, java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(10)))
    val ledger = Dedup.editDistanceAuto(
      (hot ++ dilute).toDF("id", "s"), "id", "s", maxDist = 1,
      sampleSixteenths = 16).ledger
    val l = ledger.collect().head
    assert(l.getAs[Double]("density") <= l.getAs[Double]("density_threshold"), l)
    assert(l.getAs[String]("tier") == "exact", l)
    assert(l.getAs[Long]("max_bucket") >= 300L, l)
    // exact KEY-CLONE mega group: 5000 byte-identical keys collapse to
    // ONE distinct string before both the measurement and the blocking
    // — density/max_bucket unmoved, and the thin survivor edges are
    // the linear star, never the 12.5M-pair clique
    val clones = (0L until 5000L).map(i => (i, "the-cloned-key"))
    val others = (10000L until 10100L).map(i =>
      (i, java.security.MessageDigest.getInstance("MD5")
        .digest(("o" + i).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)))
    val Dedup.FuzzyRouted(_, edges, cl) = Dedup.editDistanceAuto(
      (clones ++ others).toDF("id", "s"), "id", "s", maxDist = 1,
      sampleSixteenths = 16)
    val clRow = cl.collect().head
    assert(clRow.getAs[String]("tier") == "exact", clRow)
    assert(clRow.getAs[Long]("max_bucket") <= 4L, clRow)
    val nEdges = edges.count()
    assert(nEdges >= 4999L && nEdges <= 4999L + 50L, nEdges)
  }

  test("fuzzy router hysteresis: a measurement inside the ±band holds " +
    "the previous tier in BOTH directions and the ledger records the " +
    "suppressed flip; outside the band it flips; without previousTier " +
    "the raw rule is unchanged") {
    import graft.operators.Dedup
    // template-dense corpus with a stable nonzero measured density —
    // the thresholds below are DERIVED from the measurement, so the
    // spec places the density inside/outside the band exactly
    val corpus = (0L until 200L).map(i =>
      (i, f"rec-$i%03d-${(i * 7) % 10}")).toDF("id", "s")
    def route(thr: Double, prev: Option[String]) = {
      val l = Dedup.editDistanceAuto(corpus, "id", "s",
        maxDist = 1, densityThreshold = thr, maxMeanKeyLen = 1000.0,
        sampleSixteenths = 16, previousTier = prev).ledger
      l.collect().head
    }
    val d = route(64.0, None).getAs[Double]("density")
    assert(d > 1.0, s"corpus density $d too low to derive band thresholds")
    // no previousTier: the raw rule, exactly as before
    val raw = route(d / 1.05, None)
    assert(raw.getAs[String]("tier") == "minhash" &&
      !raw.getAs[Boolean]("suppressed_flip") &&
      raw.getAs[String]("previous_tier") == "", raw)
    // raw says minhash but density is within +10% of the threshold:
    // a previous "exact" holds, and the ledger says so
    val held = route(d / 1.05, Some("exact"))
    assert(held.getAs[String]("tier") == "exact" &&
      held.getAs[String]("raw_tier") == "minhash" &&
      held.getAs[Boolean]("suppressed_flip"), held)
    // confidently over (+20%): flips to minhash despite the previous
    val flip = route(d / 1.2, Some("exact"))
    assert(flip.getAs[String]("tier") == "minhash" &&
      !flip.getAs[Boolean]("suppressed_flip"), flip)
    // raw says exact but only just (within -10%): previous "minhash"
    // holds
    val held2 = route(d * 1.05, Some("minhash"))
    assert(held2.getAs[String]("tier") == "minhash" &&
      held2.getAs[String]("raw_tier") == "exact" &&
      held2.getAs[Boolean]("suppressed_flip"), held2)
    // confidently under (-23%): flips back to exact
    val flip2 = route(d * 1.3, Some("minhash"))
    assert(flip2.getAs[String]("tier") == "exact" &&
      !flip2.getAs[Boolean]("suppressed_flip"), flip2)
    // the CROSS-TABLE twin (fuzzyLinkAuto — a nightly re-linkage of a
    // near-threshold corpus alternates exactly like the dedup crawl):
    // same band rule, own measurement over the two-sided union
    val right = corpus.select((col("id") + 1000L).as("rid"),
      col("s").as("rs"))
    def linkRoute(thr: Double, prev: Option[String]) =
      Dedup.fuzzyLinkAuto(corpus, "id", "s", right, "rid", "rs",
        maxDist = 1, densityThreshold = thr, maxMeanKeyLen = 1000.0,
        sampleSixteenths = 16, previousTier = prev)._2.collect().head
    val dl = linkRoute(64.0, None).getAs[Double]("density")
    assert(dl > 1.0, s"link density $dl too low to band")
    val lHeld = linkRoute(dl / 1.05, Some("exact"))
    assert(lHeld.getAs[String]("tier") == "exact" &&
      lHeld.getAs[String]("raw_tier") == "minhash" &&
      lHeld.getAs[Boolean]("suppressed_flip"), lHeld)
    val lFlip = linkRoute(dl / 1.2, Some("exact"))
    assert(lFlip.getAs[String]("tier") == "minhash" &&
      !lFlip.getAs[Boolean]("suppressed_flip"), lFlip)
    // (result-parity across tiers is the existing contract — exact
    // recall guaranteed, minhash recall banded, both exact-verified —
    // pinned by the dd15/dd17/dd30 gates; hysteresis only picks WHICH
    // of those already-gated plans runs, so no parity re-proof here)
  }

  test("bucket-cap audit ledger: graft.lsh.bucketCapLedgerDir appends " +
    "one parquet row per dropped bucket alongside the stderr line") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files
      .createTempDirectory("graft_capledger").toFile.getAbsolutePath + "/led"
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "pack my box with five dozen assorted liquor jugs today",
      "sphinx of black quartz judge my vow says the sign")
    val flood = texts.zipWithIndex.flatMap { case (t, g) =>
      (0 until 40).map(k => (g * 10000L + k, t)) }.toDF("id", "text")
    try {
      spark.conf.set("graft.lsh.bucketCap", "0")
      spark.conf.set("graft.lsh.bucketCapLedgerDir", dir)
      Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16).count()
    } finally {
      spark.conf.unset("graft.lsh.bucketCap")
      spark.conf.unset("graft.lsh.bucketCapLedgerDir")
    }
    val led = spark.read.parquet(dir)
    assert(led.columns.toSeq == Seq("op", "cap", "bucket", "signatures"))
    val rows = led.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("op") == "lshRepPairs"))
    assert(rows.forall(_.getAs[Int]("cap") == 0))
    assert(rows.forall(_.getAs[Long]("signatures") >= 1L))
    assert(rows.forall(_.getAs[String]("bucket").startsWith("band=")))
    // default (ledger dir conf UNSET, cap still engaged and dropping
    // the same buckets): the unset-conf path must skip the write — the
    // FIRST dir's row count stays exactly what the configured run left
    // (a vacuous never-configured-dir check would pass regardless)
    try {
      spark.conf.set("graft.lsh.bucketCap", "0")
      Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16).count()
    } finally spark.conf.unset("graft.lsh.bucketCap")
    assert(spark.read.parquet(dir).count() == rows.length.toLong,
      "an unset bucketCapLedgerDir must not append ledger rows")
    // STREAMING exactly-once form: with bucketCapLedgerBatch set (the
    // curation loop tags each micro-batch), a replayed run overwrites
    // its own (batch, op) partition instead of appending — and a
    // different batch id keeps its own partition
    val dir3 = java.nio.file.Files
      .createTempDirectory("graft_capledger3").toFile.getAbsolutePath + "/led"
    try {
      spark.conf.set("graft.lsh.bucketCap", "0")
      spark.conf.set("graft.lsh.bucketCapLedgerDir", dir3)
      spark.conf.set("graft.lsh.bucketCapLedgerBatch", "5")
      Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16).count()
      val once = spark.read.parquet(dir3).count()
      assert(once == rows.length.toLong, once)
      Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16).count() // replay
      assert(spark.read.parquet(dir3).count() == once,
        "a replayed tagged write must overwrite its own batch partition")
      spark.conf.set("graft.lsh.bucketCapLedgerBatch", "6")
      Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16).count()
      val l3 = spark.read.parquet(dir3)
      assert(l3.count() == 2 * once, l3.count())
      assert(l3.select(col("batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet == Set(5L, 6L))
      // STAGE discriminator (the two-minhash-stages-one-batch hazard):
      // two stages of the SAME op in the SAME micro-batch land under
      // distinct (batch, op, stage) partitions — without the stage key
      // the second dynamic overwrite would silently delete the first
      // stage's audit rows (both write op=lshRepPairs, batch=6)
      spark.conf.set("graft.lsh.bucketCapLedgerStage", "1")
      Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16).count()
      val l4 = spark.read.parquet(dir3)
      assert(l4.count() == 3 * once,
        s"stage=1 rows must coexist with batch 6's stage=0 rows, " +
          s"got ${l4.count()} (expected ${3 * once})")
      assert(l4.filter(col("batch").cast("long") === 6L)
        .select(col("stage").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSet == Set(0, 1))
      // and a REPLAY of stage 1 stays exactly-once within its own
      // (batch, op, stage) partition
      Dedup.minHashLshPairs(flood, "id", "text", 3, 64, 16).count()
      assert(spark.read.parquet(dir3).count() == 3 * once,
        "a replayed stage-tagged write must overwrite its own partition")
    } finally {
      spark.conf.unset("graft.lsh.bucketCap")
      spark.conf.unset("graft.lsh.bucketCapLedgerDir")
      spark.conf.unset("graft.lsh.bucketCapLedgerBatch")
      spark.conf.unset("graft.lsh.bucketCapLedgerStage")
    }
  }

  test("bucket-cap broadcast and pinned-scan branches are differential: " +
    "forcing the >broadcastMax path via the spec seam returns the " +
    "identical capped pair set") {
    import graft.operators.Dedup
    // near-identical-but-DISTINCT boilerplate (30 distinct signatures
    // colliding in most bands — the flood the cap exists for) plus two
    // genuinely different docs whose pair survives in uncapped buckets
    val corpus = ((1L to 30L).map(i =>
        (i, s"terms of service apply to all users of product number $i")) ++
      Seq((100L, "alpha bravo charlie delta echo foxtrot golf hotel"),
          (101L, "alpha bravo charlie delta echo foxtrot golf india")))
      .toDF("doc_id", "text")
    def pairsWith(confs: (String, String)*): Set[(Long, Long)] = {
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        Dedup.minHashLshPairs(corpus, "doc_id", "text", 3, 64, 16)
          .select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val uncapped = pairsWith()
    val cappedBroadcast = pairsWith("graft.lsh.bucketCap" -> "5")
    // the seam: broadcastMax 0 forces every engaged cap through the
    // pinned-scan anti-join branch (unreachable at test size otherwise)
    val cappedPinned = pairsWith("graft.lsh.bucketCap" -> "5",
      "graft.lsh.bucketCapBroadcastMax" -> "0")
    assert(cappedBroadcast == cappedPinned,
      s"branches disagree: ${cappedBroadcast.diff(cappedPinned)} vs " +
        s"${cappedPinned.diff(cappedBroadcast)}")
    assert(cappedBroadcast != uncapped, "the cap never engaged — the " +
      "differential proved nothing; shrink the cap or densify the flood")
    assert(cappedBroadcast.subsetOf(uncapped)) // a cap only DROPS pairs
  }

  test("simhash candidate-budget router: simhash below budget, minhash above") {
    import graft.operators.Dedup
    // DIVERSE flood — the regime the r18 verdict flagged: every
    // replica carries 3 unique tokens, so fingerprints are distinct
    // (the clone collapse cannot absorb them) yet near-identical
    // within a family → they pile into the fixed pigeonhole buckets
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog tonight and sleeps well",
      "pack my box with five dozen assorted liquor jugs for the big party",
      "sphinx of black quartz judge my vow says the old weathered sign")
    val flood = bases.zipWithIndex.flatMap { case (t, g) =>
      (0 until 60).map { k =>
        val id = g * 10000L + k
        (id, s"$t u$id v${id * 7} w${id * 13}")
      }
    }.toDF("id", "text")
    val nFp = Dedup.simHashes(flood, "id", "text")
      .select("sim").distinct().count()
    assert(nFp >= 150L,
      s"flood not diverse enough to exercise the router: $nFp of 180")
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stats = Dedup.simHashCandidateStats(flood, "id", "text", 6).head()
    val cand = stats.getLong(2)
    assert(cand > 1000L, s"candidate mass $cand too small to route on")
    // (1) below budget — and AT the budget (> is strict): the plain
    // simhash edges, bit-identical
    val (eLow, lLow) = Dedup.simHashDedupEdgesAutoLedger(flood, "id",
      "text", maxHamming = 6, candidateBudget = cand)
    val lowRow = lLow.head()
    assert(lowRow.getAs[String]("route") == "simhash", lowRow)
    assert(lowRow.getAs[Long]("candidate_pairs") == cand, lowRow)
    assert(lowRow.getAs[Long]("distinct_fingerprints") == nFp, lowRow)
    val plain = edgeSet(
      Dedup.simHashDedupEdges(flood, "id", "text", maxHamming = 6))
    assert(edgeSet(eLow) == plain)
    // (2) over budget: the minhash tier's thin
    // edges, bit-identical to the explicit operator at the same params
    val (eMh, lMh) = Dedup.simHashDedupEdgesAutoLedger(flood, "id",
      "text", maxHamming = 6, candidateBudget = cand - 1)
    assert(lMh.head().getAs[String]("route") == "minhash", lMh.head())
    assert(edgeSet(eMh) == edgeSet(
      Dedup.minHashLshDedupEdges(flood, "id", "text", shingleSize = 3,
        numHashes = 64, bands = 16, minEstJaccard = 0.9)))
  }

  test("embedding candidate-budget router: hyperplane below budget, IVF above") {
    import graft.operators.Dedup
    // DIVERSE flood — the r19 verdict's regime: every vector is
    // DISTINCT (a deterministic per-id/per-dim perturbation of a few
    // base directions), so the vector-level clone collapse absorbs
    // nothing and n distinct signature arrays pile into the FIXED
    // tables × 2^planes bucket space
    val rnd = new scala.util.Random(7)
    val bases = Seq.fill(3)(Array.fill(16)(rnd.nextGaussian()))
    // per-dim moduli (3 + d%5): the factor VECTOR's period in id is
    // lcm(3..7) = 420, so every flood id gets a distinct perturbation
    // pattern (a single modulus would collapse to id-mod-m patterns)
    val flood = bases.zipWithIndex.flatMap { case (b, g) =>
      (0 until 60).map { k =>
        val id = g * 10000L + k
        (id, b.zipWithIndex.map { case (x, d) =>
          x * (1.0 + ((id * 31 + d) % (3 + d % 5)))
        }.toSeq)
      }
    }.toDF("id", "v")
    val st = Dedup.embeddingCandidateStats(flood, "id", "v",
      planes = 6, tables = 8).head()
    val (nSig, nBuckets, cand, memberCand) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    assert(nSig >= 150L,
      s"flood not diverse enough to exercise the router: $nSig of 180")
    assert(nBuckets <= 8L * 64L,
      s"bucket space must be bounded by tables * 2^planes: $nBuckets")
    assert(cand > 1000L, s"candidate mass $cand too small to route on")
    // the member-level verify bound dominates the rep-level join mass
    assert(memberCand >= cand, st)
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1) below budget — and AT the budget (> is strict, on BOTH
    // masses — member >= rep, so the member bound is the binding one):
    // the plain hyperplane edges, bit-identical
    val (eLow, lLow) = Dedup.embeddingNearDupDedupEdgesAutoLedger(flood,
      "id", "v", threshold = 0.4, planes = 6, tables = 8,
      candidateBudget = memberCand)
    val lowRow = lLow.head()
    assert(lowRow.getAs[String]("route") == "embedding", lowRow)
    assert(lowRow.getAs[Long]("candidate_pairs") == cand, lowRow)
    assert(lowRow.getAs[Long]("member_candidate_pairs") == memberCand, lowRow)
    assert(lowRow.getAs[Long]("distinct_signatures") == nSig, lowRow)
    val plain = edgeSet(Dedup.embeddingNearDupDedupEdges(flood, "id", "v",
      threshold = 0.4, planes = 6, tables = 8))
    assert(edgeSet(eLow) == plain)
    // (2) over budget: the IVF-clustered edges,
    // bit-identical to the explicit operator at the same nlist
    val (eIvf, lIvf) = Dedup.embeddingNearDupDedupEdgesAutoLedger(flood,
      "id", "v", threshold = 0.4, planes = 6, tables = 8,
      candidateBudget = cand - 1, nlist = 8)
    assert(lIvf.head().getAs[String]("route") == "ivf", lIvf.head())
    assert(edgeSet(eIvf) == edgeSet(
      Dedup.embeddingIvfDedupEdges(flood, "id", "v", threshold = 0.4,
        nlist = 8)))
  }

  test("fuzzy router exact-candidate-budget disjunct: a diverse-family " +
    "corpus whose per-row density trips the minhash route drops back to " +
    "the exact tier when its ABSOLUTE mass fits the opt-in budget " +
    "(bit-identical to the explicit exact operator); an insufficient " +
    "budget keeps the minhash route; default 0 disables the disjunct") {
    import graft.operators.Dedup
    // the sf1_div shape in miniature: template names, each a family of
    // 8 distinct strings pairwise within d<=1 (one appended char) —
    // per-row density is high (families share ~every deletion key) but
    // absolute mass is tiny
    val names = (0L until 80L).flatMap { i =>
      val base = f"record-$i%04d"
      (0 until 8).map(k =>
        (i * 100 + k, if (k == 0) base else base + ('a' + k).toChar))
    }.toDF("id", "s")
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // default: the density rule routes minhash on this corpus (the
    // precondition that makes the disjunct arms meaningful)
    val Dedup.FuzzyRouted(_, eDef, lDef) = Dedup.editDistanceAuto(names, "id", "s",
      maxDist = 1, densityThreshold = 4.0)
    val d0 = lDef.head()
    assert(d0.getAs[String]("tier") == "minhash", d0)
    assert(d0.getAs[Long]("exact_candidate_pairs") == -1L &&
      !d0.getAs[Boolean]("budget_override"),
      s"disabled disjunct must not measure or override: $d0")
    val mass = Dedup.edCandidateStats(names, "id", "s", maxDist = 1)
      .head().getAs[Long]("candidate_pairs")
    // budget >= mass: override to exact, bit-identical to the explicit
    // exact-tier operator, mass recorded in the ledger
    val Dedup.FuzzyRouted(_, eEx, lEx) = Dedup.editDistanceAuto(names, "id", "s",
      maxDist = 1, densityThreshold = 4.0, exactCandidateBudget = mass)
    val r1 = lEx.head()
    assert(r1.getAs[String]("tier") == "exact" &&
      r1.getAs[String]("raw_tier") == "minhash" &&
      r1.getAs[Boolean]("budget_override") &&
      r1.getAs[Long]("exact_candidate_pairs") == mass, r1)
    assert(edges(eEx) == edges(
      Dedup.editDistanceDedupEdges(names, "id", "s", maxDist = 1)))
    // budget < mass: the minhash route stands, mass still recorded
    val Dedup.FuzzyRouted(_, eMh, lMh) = Dedup.editDistanceAuto(names, "id", "s",
      maxDist = 1, densityThreshold = 4.0,
      exactCandidateBudget = mass - 1)
    val r2 = lMh.head()
    assert(r2.getAs[String]("tier") == "minhash" &&
      !r2.getAs[Boolean]("budget_override") &&
      r2.getAs[Long]("exact_candidate_pairs") == mass, r2)
    assert(edges(eMh) == edges(eDef))
  }

  test("router ledgers: each router's one-row ledger keeps its exact schema") {
    import org.apache.spark.sql.types._
    def f(name: String, t: DataType): StructField =
      StructField(name, t, nullable = t == StringType)
    val keys = Seq((1L, "alpha"), (2L, "alphb"), (3L, "omega"))
      .toDF("id", "s")
    val ngram = StructType(Seq(f("route", StringType),
      f("clone_ratio", DoubleType), f("clone_ratio_threshold", DoubleType),
      f("max_group", LongType), f("max_group_threshold", LongType),
      f("sampled_docs", LongType), f("distinct_sets", LongType),
      f("sample_sixteenths", IntegerType)))
    assert(Dedup.ngramJaccardDedupEdgesAutoLedger(docs, "doc_id", "text",
      n = 2, threshold = 0.5)._2.schema == ngram)
    val fuzzyLink = StructType(Seq(f("tier", StringType),
      f("density", DoubleType), f("density_threshold", DoubleType),
      f("mean_key_cp", DoubleType), f("max_mean_key_cp", DoubleType),
      f("max_bucket", LongType), f("sample_sixteenths", IntegerType),
      f("max_dist", IntegerType), f("raw_tier", StringType),
      f("previous_tier", StringType), f("suppressed_flip", BooleanType)))
    assert(Dedup.fuzzyLinkAuto(keys, "id", "s", keys, "id", "s")._2.schema
      == fuzzyLink)
    val ed = StructType(fuzzyLink.fields ++ Seq(
      f("exact_candidate_budget", LongType),
      f("exact_candidate_pairs", LongType), f("budget_override", BooleanType)))
    assert(Dedup.editDistanceAuto(keys, "id", "s").ledger.schema == ed)
    val simhash = StructType(Seq(f("route", StringType),
      f("distinct_fingerprints", LongType), f("buckets", LongType),
      f("candidate_pairs", LongType), f("candidate_budget", LongType),
      f("max_hamming", IntegerType)))
    assert(Dedup.simHashDedupEdgesAutoLedger(docs, "doc_id", "text",
      maxHamming = 6)._2.schema == simhash)
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.0, 1.0))).toDF("id", "v")
    val embedding = StructType(Seq(f("route", StringType),
      f("distinct_signatures", LongType), f("buckets", LongType),
      f("candidate_pairs", LongType), f("member_candidate_pairs", LongType),
      f("candidate_budget", LongType), f("planes", IntegerType),
      f("tables", IntegerType)))
    assert(Dedup.embeddingNearDupDedupEdgesAutoLedger(vecs, "id", "v",
      threshold = 0.9)._2.schema == embedding)
  }

  test("edCandidateStats: Σ C(n, 2) over deletion-neighborhood variant " +
    "keys of distinct strings — hand-checked, and an upper bound on the " +
    "verified pair count") {
    import graft.operators.Dedup
    // no corpus-constant affix (so compactTemplate is a no-op):
    // hoods ab→{ab,b,a}, ac→{ac,c,a}, xy→{xy,y,x} — only "a" is
    // shared (n=2 → 1 candidate pair), 8 distinct keys
    val df = Seq((1L, "ab"), (2L, "ac"), (3L, "xy")).toDF("id", "s")
    val st = Dedup.edCandidateStats(df, "id", "s", maxDist = 1).head()
    assert((st.getLong(0), st.getLong(1), st.getLong(2)) == ((3L, 8L, 1L)),
      st)
    // candidate mass bounds the verified pairs on any corpus
    val names = (0L until 40L).map(i => (i, f"rec-${i % 7}%02d-${i / 7}"))
      .toDF("id", "s")
    val cand = Dedup.edCandidateStats(names, "id", "s", maxDist = 1)
      .head().getLong(2)
    val pairs = Dedup.editDistancePairs(names, "id", "s", maxDist = 1).count()
    assert(cand >= pairs, s"candidates $cand < verified pairs $pairs")
  }

  test("embeddingIvfDedupEdges: with one cluster the candidate set is " +
    "all canonical pairs, so the edge graph equals the brute-force truth " +
    "relation (collapse star + every cross-vector pair at round(cos,6) " +
    ">= threshold); the derived-nlist path uses ceil(n / target)") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian()).toSeq))
    // clone group: ids 100-102 carry vec 0's exact vector → star edges
    val withClones = vecs ++ Seq(100L, 101L, 102L).map(i => (i, vecs.head._2))
    val df = withClones.toDF("id", "v")
    val got = Dedup.embeddingIvfDedupEdges(df, "id", "v",
        threshold = 0.3, nlist = 1)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth over canonical (distinct-vector) rows + star
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val canon = vecs // min id per distinct vector (clones collapse to 0)
    val truth = (for {
      (i, a) <- canon; (j, b) <- canon
      if i < j && cos(a, b) >= 0.3
    } yield (i, j)).toSet ++ Set((0L, 100L), (0L, 101L), (0L, 102L))
    assert(got == truth,
      s"missing=${truth.diff(got)} extra=${got.diff(truth)}")
    // derived nlist: 43 rows at targetClusterSize=10 → ceil = 5 but
    // min 16 floors it; at the default 1024 → 16. Differential: the
    // derived path must equal the explicit nlist=16 call
    val exp16 = Dedup.embeddingIvfDedupEdges(df, "id", "v",
        threshold = 0.3, nlist = 16)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val derived = Dedup.embeddingIvfDedupEdges(df, "id", "v",
        threshold = 0.3)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(derived == exp16)
  }

  test("band join equals the brute-force range join on random doubles") {
    import graft.operators.BandJoin
    val rnd = new scala.util.Random(23)
    val ls = (1L to 60L).map(i => (i, rnd.nextDouble() * 20 - 10))
    val rs = (100L to 140L).map(i => (i, rnd.nextDouble() * 20 - 10))
    val eps = 0.75
    val want = (for {
      (i, a) <- ls; (j, b) <- rs if math.abs(a - b) <= eps
    } yield (i, j)).toSet
    val got = BandJoin.bandJoin(
        ls.toDF("lid", "lv"), "lv", rs.toDF("rid", "rv"), "rv", eps)
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty) // the differential actually exercised pairs
    // boundary inclusivity: exactly-eps pairs survive
    val b = BandJoin.bandJoin(
        Seq((1L, 1.0)).toDF("lid", "lv"), "lv",
        Seq((2L, 1.75), (3L, 1.76)).toDF("rid", "rv"), "rv", eps)
      .select("rid").collect().map(_.getLong(0)).toSet
    assert(b == Set(2L))
  }

  test("cross-table fuzzy link finds matches across tables, not within") {
    val left = Seq((1L, "cat"), (2L, "dog"), (3L, "bird")).toDF("id", "name")
    val right = Seq((10L, "cats"), (11L, "dug"), (12L, "nope"))
      .toDF("rid", "rname")
    val got = Dedup.fuzzyLink(left, "id", "name", right, "rid", "rname")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 1L), (2L, 11L, 1L)))
    // at distance 2, dog—dug stays and bird gains none; cat—dug is 3
    val got2 = Dedup.fuzzyLink(left, "id", "name", right, "rid", "rname",
        maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2.contains((1L, 10L, 1L)) && got2.contains((2L, 11L, 1L)))
    assert(!got2.exists { case (a, b, _) => (a, b) == ((1L, 11L)) })
  }

  test("ascending salted top-k equals the plain ascending window") {
    import graft.operators.Sampling
    val df = (1L to 50L).map(i => (i, i % 5, i * 7 % 50)).toDF("id", "g", "s")
    val got = Sampling.topKPerGroup(df, "g", "s", 3, "id", ascending = true)
      .select("g", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s").asc, col("id"))
    val want = df.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 3)
      .select("g", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.size == 15)
  }

  test("importance resampling: max always kept, uniform scores keep all, " +
    "temperature is monotone") {
    import graft.operators.Sampling
    val flat = (1L to 200L).map(i => (i, 0.5)).toDF("doc_id", "score")
    // equal scores → f = exp(0) = 1 → acceptance 256/256: everything kept
    assert(Sampling.importanceResample(flat, "doc_id", "score").count() == 200L)
    val rnd = new scala.util.Random(3)
    val scored = (1L to 200L).map(i => (i, rnd.nextDouble() * 4 - 2))
      .toDF("doc_id", "score")
    def keep(t: Double) = Sampling
      .importanceResample(scored, "doc_id", "score", temperature = t)
      .collect().map(_.getLong(0)).toSet
    val (cold, warm) = (keep(0.2), keep(1.0))
    val top = scored.orderBy(col("score").desc).head().getLong(0)
    assert(cold.contains(top) && warm.contains(top)) // argmax survives any T
    assert(cold.subsetOf(warm)) // higher temperature only adds rows
    assert(cold.size < warm.size && warm.size < 200)
  }

  test("label propagation: disjoint triangles converge to min-id communities") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val lab = GraphAlgos.labelPropagation(tri, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter1: node 1 sees labels {2,3} → tie → 2; nodes 2,3 see 1.
    // iter2: everyone's neighborhood is majority-1 → all 1. Stable.
    Seq(1L, 2L, 3L).foreach(v => assert(lab(v) == 1L, s"node $v: ${lab(v)}"))
    Seq(10L, 11L, 12L).foreach(v => assert(lab(v) == 10L, s"node $v: ${lab(v)}"))
  }

  test("bigram LM bins: stupid backoff scores and tertile buckets hand-check") {
    val corpus = Seq(
      (1L, "a b a c"), // the training slice
      (2L, "a b x"),
      (3L, "a c"),
      (4L, "z")) // single token: no bigrams, absent from output
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramPerplexityBins(corpus, col("doc_id") === 1L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("nll"), r.getAs[String]("bucket")))).toMap
    // train: bigrams {a b, b a, a c}×1; unigrams a×2 b×1 c×1 (N=4, V=3).
    // doc1: s(a b)=1/2, s(b a)=1/1, s(a c)=1/2 → nll=(2·ln2)/3
    // doc2: s(a b)=1/2, s(b x) backoff=0.4·(0+1)/7 → nll=(ln2+ln(7/0.4))/2
    // doc3: s(a c)=1/2 → nll=ln2
    val n1 = 2 * math.log(2) / 3
    val n2 = (math.log(2) + math.log(7 / 0.4)) / 2
    val n3 = math.log(2)
    assert(math.abs(r(1L)._1 - n1) < 1e-4)
    assert(math.abs(r(2L)._1 - n2) < 1e-4)
    assert(math.abs(r(3L)._1 - n3) < 1e-4)
    // tertiles of {0.4621, 0.6931, 1.7777}: t1≈0.6161, t2≈1.0547
    assert(r(1L)._2 == "head" && r(3L)._2 == "middle" && r(2L)._2 == "tail")
    assert(!r.contains(4L))
  }

  test("decontaminate flags only train docs sharing an n-gram with the benchmark") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated text about spark and nothing else"),
      (3L, "we hold these truths to be self evident clearly")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "we hold these truths to be self evident"),
      (101L, "the quick brown fox leaps high")).toDF("doc_id", "text")
    val hits = Dedup.decontaminate(train, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("hits")).toMap
    // doc 1 shares exactly "the quick brown fox"; doc 3 shares five
    // 4-grams of the benchmark sentence; doc 2 is clean
    assert(hits(1L) == 1L)
    assert(hits(3L) == 5L)
    assert(!hits.contains(2L))
  }

  test("minhash index at rest: a new batch probes the stored corpus bands") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx")
      .toFile.getAbsolutePath
    Dedup.minHashIndexWrite(docs, "doc_id", "text", dir,
      shingleSize = 2, numHashes = 64, bands = 32)
    val newBatch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // dup of corpus 1/4
      (101L, "entirely novel text about nothing seen before yet"))
      .toDF("doc_id", "text")
    val hits = Dedup.minHashIndexLookup(spark, dir, newBatch, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the exact duplicate collides with both stored copies at est 1.0
    assert(hits((100L, 1L)) == 1.0 && hits((100L, 4L)) == 1.0)
    // near-dup corpus doc 2 may or may not band-collide; the novel doc
    // must not match anything
    assert(!hits.keySet.exists(_._1 == 101L), s"novel doc matched: $hits")
  }

  test("minhash index append: the crawl loop (lookup, filter, append) composes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhapp")
      .toFile.getAbsolutePath
    Dedup.minHashIndexWrite(docs, "doc_id", "text", dir,
      shingleSize = 2, numHashes = 64, bands = 32)
    val batch = Seq(
      (200L, "the quick brown fox jumps over the lazy dog"), // dup of corpus 1/4
      (201L, "entirely novel text about nothing seen before yet"))
      .toDF("doc_id", "text")
    val dupNewIds = Dedup.minHashIndexLookup(spark, dir, batch, "doc_id", "text")
      .select(col("new_id").as("doc_id")).distinct()
    val survivors = batch.join(dupNewIds, Seq("doc_id"), "left_anti")
    // the streaming arm's admit, as batch 0: the survivors (a lazy plan
    // over the index) are signed and land as batch=0, after the
    // build's batch=-1
    Dedup.minHashIndexPut(spark, dir, survivors, "doc_id", "text", batch = 0L)
    // the admitted doc is now findable; the dropped duplicate is not in
    // the index (a copy of it still matches the ORIGINAL corpus doc)
    val probe = Seq((300L, "entirely novel text about nothing seen before yet"))
      .toDF("doc_id", "text")
    val hits = Dedup.minHashIndexLookup(spark, dir, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((300L, 201L)), s"got $hits")
  }

  test("LSH index append: probe after append equals a full rebuild") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0 || col("vec_id") === 0)
    val batch = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") =!= 0)
    val qv = emb.filter(col("vec_id") === 0L)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .head().getSeq[Double](0)
    val dirA = java.nio.file.Files.createTempDirectory("graft_lshapp").toString
    Similarity.lshIndexWrite(base, "vec_id", "embedding", dirA, planes = 8)
    Similarity.lshIndexAppend(spark, dirA, batch, "vec_id", "embedding")
    val dirB = java.nio.file.Files.createTempDirectory("graft_lshfull").toString
    Similarity.lshIndexWrite(emb, "vec_id", "embedding", dirB, planes = 8)
    def rows(d: String) = Similarity.lshIndexTopK(spark, d, qv, 5,
      excludeId = Some(0L), idColName = "vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(dirA) == rows(dirB),
      "incremental index must probe identically to a full rebuild")
  }

  test("IVF index append assigns to the frozen centroids: identical to a " +
    "rebuild that samples the same centroids") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // centroid sampling is the top-nlist ids in (md5(id), id) order over
    // whatever corpus is present at build time; keep those ids in the
    // BASE so the base build and the full rebuild sample the SAME
    // centroid set — then append-assign must be exactly rebuild
    val centroidIds = emb
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
      .limit(8).select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val batchIds = emb.select(col("vec_id")).collect().map(_.getLong(0))
      .filterNot(centroidIds).filterNot(_ == 0L).sorted.take(20).toSet
    val base = emb.filter(!col("vec_id").isin(batchIds.toSeq: _*))
    val batch = emb.filter(col("vec_id").isin(batchIds.toSeq: _*))
    val qv = emb.filter(col("vec_id") === 0L)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .head().getSeq[Double](0)
    val dirA = java.nio.file.Files.createTempDirectory("graft_ivfapp").toString
    Similarity.ivfSampledIndexWrite(base, "vec_id", "embedding", dirA, nlist = 8)
    Similarity.ivfSampledIndexAppend(spark, dirA, batch, "vec_id", "embedding")
    val dirB = java.nio.file.Files.createTempDirectory("graft_ivffull").toString
    Similarity.ivfSampledIndexWrite(emb, "vec_id", "embedding", dirB, nlist = 8)
    def rows(d: String) = Similarity.ivfSampledIndexTopK(spark, d, qv, 5,
      nprobe = 3, excludeId = Some(0L), idColName = "vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(dirA) == rows(dirB),
      "append-assign must equal a same-centroid rebuild")
  }

  test("duplicated spans: cross-doc windows merge into maximal spans; gaps split islands") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),        // shares a..f 3-grams with doc 2
      (2L, "x x a b c d e f y y"),
      (3L, "zz ww qq rr ss tt"),          // nothing shared
      (4L, "a b c q q q a b c"))          // two disjoint shared spans
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, "doc_id", "text", minSpan = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans == Set(
      (1L, 1L, 6L, 6L),   // every 3-window of tokens 1..6 occurs in doc 2
      (2L, 3L, 8L, 6L),
      (4L, 1L, 3L, 3L),   // "a b c" twice, separated by an unshared gap
      (4L, 7L, 9L, 3L)))
  }

  test("cut spans: keep-first cut-the-rest rebuilds docs without duplicated text") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),   // canonical host of the shared 3-grams
      (2L, "x x a b c d e f y y"),
      (3L, "zz ww qq rr ss tt"),
      (4L, "a b c q q q a b c"))
      .toDF("doc_id", "text")
    val r = Dedup.cutDuplicatedSpans(d, "doc_id", "text", minSpan = 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("n_cut"),
          x.getAs[String]("clean_text")))).toMap
    assert(r(1L) == ((10L, 0L, "a b c d e f g h i j"))) // first occurrence survives
    assert(r(2L) == ((10L, 6L, "x x y y")))             // tokens 3..8 cut
    assert(r(3L) == ((6L, 0L, "zz ww qq rr ss tt")))
    assert(r(4L) == ((9L, 6L, "q q q")))                // both copies of "a b c" cut
  }

  test("paragraph dedup keeps corpus-wide first occurrences and rebuilds docs") {
    val d = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),     // beta already seen in doc 1
      (3L, "unique\n\nalpha")) // empty paragraph ignored; alpha is a dup
      .toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        ((x.getAs[Long]("n_paras"), x.getAs[Long]("n_dropped"),
          x.getAs[String]("clean_text")))).toMap
    assert(r(1L) == ((3L, 0L, "alpha\nbeta\ngamma")))
    assert(r(2L) == ((2L, 1L, "delta")))
    assert(r(3L) == ((2L, 1L, "unique")))
  }

  test("paragraph dedup survives a pathologically hot paragraph (skew)") {
    // 20k documents all sharing one boilerplate paragraph — the shape
    // that kills a row_number-per-hash window at corpus scale. The
    // min(struct) aggregate + join-back must keep exactly one copy.
    val d = (1L to 20000L)
      .map(i => (i, s"boilerplate subscribe footer\nunique-$i"))
      .toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(d, "doc_id", "text")
    assert(r.count() == 20000L)
    val first = r.filter($"id" === 1L).collect().head
    assert(first.getAs[Long]("n_dropped") == 0L)
    assert(first.getAs[String]("clean_text") == "boilerplate subscribe footer\nunique-1")
    val later = r.filter($"id" === 12345L).collect().head
    assert(later.getAs[Long]("n_dropped") == 1L)
    assert(later.getAs[String]("clean_text") == "unique-12345")
    import org.apache.spark.sql.functions.sum
    assert(r.agg(sum($"n_dropped")).collect().head.getLong(0) == 19999L)
  }

  test("PII redaction replaces and counts emails, IPv4s, phones") {
    val d = Seq(
      (1L, "mail john.doe+x@mail.co or 10.0.0.1 maybe 555-123-4567 ok"),
      (2L, "no pii here, just 1234 and a.b"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(d).collect()
      .map(x => x.getLong(0) ->
        ((x.getAs[Long]("n_emails"), x.getAs[Long]("n_ips"),
          x.getAs[Long]("n_phones"), x.getAs[String]("redacted")))).toMap
    assert(r(1L) == ((1L, 1L, 1L, "mail <EMAIL> or <IP> maybe <PHONE> ok")))
    assert(r(2L) == ((0L, 0L, 0L, "no pii here, just 1234 and a.b")))
  }

  test("fingerprint is stable under whitespace reflow") {
    val variants = Seq(
      (1L, "Hello   world  foo"),
      (2L, "hello world foo"),
      (3L, "  HELLO\tworld   FOO  ")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(variants).collect().map(_.getString(1)).distinct
    assert(fps.length == 1)
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq((1L, "hello, world! it's 42 degrees")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df).collect().head
    assert(r.getAs[Int]("ws_tokens") == 5)
    assert(r.getAs[Int]("bpe_tokens") == 9) // hello , world ! it ' s 42 degrees
  }

  test("multimodal: feature extraction over binary column, batched") {
    import graft.operators.Multimodal
    val rows = Seq(
      (1L, "image", "fakepng-1".getBytes, ("image/png", 64, 64, null: java.lang.Long)),
      (2L, "image", "fakepng-2".getBytes, ("image/png", 32, 32, null: java.lang.Long)),
      (3L, "audio", null: Array[Byte], ("audio/wav", 0, 0, java.lang.Long.valueOf(1500L))))
      .toDF("media_id", "kind", "content", "meta")
      .withColumn("meta", struct(col("meta._1").as("mime"), col("meta._2").as("width"),
        col("meta._3").as("height"), col("meta._4").as("duration_ms")))
    val out = Multimodal.extractFeatures(rows, dims = 8, batchBytes = 4)
    val collected = out.collect()
    assert(collected.length == 3)
    val f1 = collected.find(_.getLong(0) == 1L).get.getSeq[Float](4)
    val f1b = Multimodal.extractFeatures(rows, dims = 8).collect()
      .find(_.getLong(0) == 1L).get.getSeq[Float](4)
    assert(f1 == f1b)           // deterministic across batch sizes
    assert(f1.length == 8)
    val fNull = collected.find(_.getLong(0) == 3L).get.getSeq[Float](4)
    assert(fNull.forall(_ == 0.0f)) // null content -> zero vector
  }

  test("multimodal: real image decode — features, probe, resize (JDK codecs)") {
    import graft.operators.Multimodal
    def png(rgb: Int, w: Int = 8, h: Int = 8): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, "image", png(0xFFFFFF)),  // white
      (2L, "image", png(0x000000)),  // black
      (3L, "audio", Array[Byte](1, 2, 3)))
      .toDF("media_id", "kind", "content")
    // features are real luminance: white ≈ 1, black ≈ 0
    val feats = Multimodal.extractFeatures(rows, dims = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    assert(feats(1L).forall(_ > 0.99f))
    assert(feats(2L).forall(_ < 0.01f))
    assert(feats(3L).length == 4) // undecodable audio takes the stub kernel
    // probe reads real dimensions + mime from the bytes
    val probed = Multimodal.probeMeta(rows).collect()
      .map(r => r.getLong(0) -> r.getStruct(3)).toMap
    assert(probed(1L).getString(0) == "image/png")
    assert(probed(1L).getInt(1) == 8 && probed(1L).getInt(2) == 8)
    assert(probed(3L).isNullAt(0)) // audio bytes are not an image
    // resize re-encodes at the target size; output decodes again
    val resized = Multimodal.resizeImages(rows, 4, 4).collect()
      .map(r => r.getLong(0) -> r.get(3)).toMap
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      resized(1L).asInstanceOf[Array[Byte]]))
    assert(back.getWidth == 4 && back.getHeight == 4)
    assert(resized(3L) == null)
  }

  test("multimodal: real audio decode — RMS features + duration probe (JDK codecs)") {
    import graft.operators.Multimodal
    import javax.sound.sampled._
    // 16-bit signed little-endian PCM WAV from synthetic samples
    def wav(samples: Array[Double], sampleRate: Float = 8000f,
            channels: Int = 1): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate, 16, channels, true, false)
      val data = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        val v = math.round(s * 32767).toInt.max(-32768).min(32767)
        data(i * 2) = (v & 0xFF).toByte
        data(i * 2 + 1) = ((v >> 8) & 0xFF).toByte
      }
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(data),
        fmt, samples.length / channels)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val sr = 8000
    // 440 Hz sine at amplitude 0.5 for 1 s: 110 full cycles per
    // quarter-second cell, so every RMS cell is exactly 0.5/sqrt(2)
    // up to 16-bit quantization
    val sine = wav(Array.tabulate(sr)(i =>
      0.5 * math.sin(2 * math.Pi * 440 * i / sr)))
    // constant 0.25 for 0.5 s: RMS of every cell is exactly 0.25
    val dc = wav(Array.fill(sr / 2)(0.25))
    // stereo with right = -left: the mono average cancels to silence
    val stereo = wav(Array.tabulate(sr * 2)(i =>
      (if (i % 2 == 0) 0.3 else -0.3) * math.sin(2 * math.Pi * 440 * (i / 2) / sr)),
      channels = 2)
    val rows = Seq(
      (1L, "audio", sine), (2L, "audio", dc), (3L, "audio", stereo))
      .toDF("media_id", "kind", "content")
    val feats = Multimodal.extractFeatures(rows, dims = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    val sineRms = 0.5 / math.sqrt(2)
    assert(feats(1L).forall(f => math.abs(f - sineRms) < 1e-3))
    assert(feats(2L).forall(f => math.abs(f - 0.25) < 1e-3))
    assert(feats(3L).forall(f => math.abs(f) < 1e-3)) // channels cancel
    // duration probe reads the real header: 8000 frames @ 8 kHz = 1 s
    val probed = Multimodal.probeMeta(rows).collect()
      .map(r => r.getLong(0) -> r.getStruct(3)).toMap
    assert(probed(1L).getString(0) == "audio/wav")
    assert(probed(1L).isNullAt(1) && probed(1L).isNullAt(2))
    assert(probed(1L).getLong(3) == 1000L)
    assert(probed(2L).getLong(3) == 500L)
  }

  test("multimodal: the decode seam is content-dispatched, not " +
    "extension-gated — TIFF/BMP images and AIFF audio (the rest of the " +
    "JDK's offline codec surface) decode through the same operators") {
    import graft.operators.Multimodal
    import javax.sound.sampled._
    def img(fmt: String, rgb: Int, w: Int = 8, h: Int = 8): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = im.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    def aiff(samples: Array[Double], sampleRate: Float = 8000f): Array[Byte] = {
      // AIFF is 16-bit BIG-endian PCM
      val fmt = new AudioFormat(sampleRate, 16, 1, true, true)
      val data = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        val v = math.round(s * 32767).toInt.max(-32768).min(32767)
        data(i * 2) = ((v >> 8) & 0xFF).toByte
        data(i * 2 + 1) = (v & 0xFF).toByte
      }
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(data),
        fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.AIFF, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, "image", img("tiff", 0xFFFFFF)),
      (2L, "image", img("bmp", 0x000000)),
      (3L, "audio", aiff(Array.fill(4000)(0.25))))
      .toDF("media_id", "kind", "content")
    val feats = Multimodal.extractFeatures(rows, dims = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    assert(feats(1L).forall(_ > 0.99f), feats(1L))  // white TIFF
    assert(feats(2L).forall(_ < 0.01f), feats(2L))  // black BMP
    assert(feats(3L).forall(f => math.abs(f - 0.25) < 1e-3), feats(3L))
    val probed = Multimodal.probeMeta(rows).collect()
      .map(r => r.getLong(0) -> r.getStruct(3)).toMap
    assert(probed(1L).getInt(1) == 8 && probed(1L).getInt(2) == 8)
    assert(probed(3L).getLong(3) == 500L) // 4000 frames @ 8 kHz
  }

  test("multimodal: injectable decoder seam — a custom codec chains in front of the JDK one") {
    import graft.operators.Multimodal
    // stand-in for an ffmpeg-linked build: claims video payloads only,
    // returns a recognizable constant vector
    object FakeVideoCodec extends Multimodal.MediaDecoder {
      def decode(kind: String, content: Array[Byte], dims: Int): Option[Array[Float]] =
        if (kind == "video" && content != null) Some(Array.fill(dims)(0.75f))
        else None
    }
    def png(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, 8, 8); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, "video", Array[Byte](9, 9, 9)),
      (2L, "image", png(0xFFFFFF)),
      (3L, "audio", Array[Byte](1, 2, 3))) // compressed-ish: nobody claims it
      .toDF("media_id", "kind", "content")
    val chained = FakeVideoCodec.orElse(Multimodal.JdkDecoder)
    // small batchBytes forces multiple refills through the same chain
    val feats = Multimodal.extractFeatures(rows, dims = 4, batchBytes = 2,
      decoder = chained).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    assert(feats(1L).forall(_ == 0.75f))   // custom codec claimed video
    assert(feats(2L).forall(_ > 0.99f))    // JDK image decode still real
    // unclaimed payload falls to the deterministic stub — identical to
    // the default-decoder run, proving fallback order is stable
    val default = Multimodal.extractFeatures(rows, dims = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    assert(feats(3L) == default(3L))
    assert(default(1L) != feats(1L))       // without the codec, video stubs
  }

  test("multimodal: frame sampling expands by duration") {
    import graft.operators.Multimodal
    val vids = Seq(
      (1L, "video", Array[Byte](1), ("video/mp4", 0, 0, java.lang.Long.valueOf(2500L))),
      (2L, "image", Array[Byte](2), ("image/png", 8, 8, null: java.lang.Long)))
      .toDF("media_id", "kind", "content", "meta")
      .withColumn("meta", struct(col("meta._1").as("mime"), col("meta._2").as("width"),
        col("meta._3").as("height"), col("meta._4").as("duration_ms")))
    val frames = Multimodal.sampleFrames(vids, everyMs = 1000L)
    val ms = frames.select("frame_ms").collect().map(_.getLong(0)).sorted
    assert(ms.toSeq == Seq(0L, 1000L, 2000L)) // image row filtered out
  }

  test("triangle stats: counts, degrees, and cc on known graphs") {
    import graft.operators.GraphAlgos
    // K4 on 1..4 (every node: 3 triangles, degree 3, cc 1) plus a
    // pendant 5-1 (node 5: degree 1, cc 0) plus a triangle-free
    // square 6-7-8-9 (cc 0 everywhere)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = GraphAlgos.triangleStats(edges).collect()
      .map(x => x.getAs[Long]("node") ->
        ((x.getAs[Long]("triangles"), x.getAs[Long]("degree"),
          x.getAs[Double]("cc")))).toMap
    assert(r.size == 9)
    assert(r(1L) == ((3L, 4L, 0.5)))     // K4 member + pendant: 3/C(4,2)
    assert(r(2L) == ((3L, 3L, 1.0)))
    assert(r(3L) == ((3L, 3L, 1.0)))
    assert(r(5L) == ((0L, 1L, 0.0)))
    assert(r(6L) == ((0L, 2L, 0.0)))     // square: wedges but no triangles
  }

  test("bipartite projection: shared-neighbor weights and the celebrity guard") {
    import graft.operators.GraphAlgos
    // parts 1,2 share orders 10,11 (weight 2); 2,3 share 11 (weight 1);
    // order 99 contains every part — a celebrity right node
    val edges = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (3L, 11L),
      (1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L))
      .toDF("left", "right")
    val full = GraphAlgos.bipartiteProject(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(full == Map((1L, 2L) -> 3L, (1L, 3L) -> 2L, (2L, 3L) -> 2L,
      (1L, 4L) -> 1L, (2L, 4L) -> 1L, (3L, 4L) -> 1L))
    // capping right degree at 3 drops order 99 before the join
    val guarded = GraphAlgos.bipartiteProject(edges, maxRightDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(guarded == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("sssp: hand graph distances, unreachable nodes excluded") {
    import graft.operators.GraphAlgos
    // 1→2 (w5), 1→3 (w1), 3→2 (w1): via-3 beats direct; 4↔5 unreachable
    val und = Seq((1L, 2L, 5L), (1L, 3L, 1L), (2L, 3L, 1L), (4L, 5L, 2L))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "weight")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val d = GraphAlgos.sssp(edges, seeds, maxRounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 2L, 3L -> 1L)) // 2 via 3, not w5 direct
    // empty seed set → empty result, not an NPE from a null sum() in
    // the convergence signature
    val empty = Seq.empty[Tuple1[Long]].toDF("node")
    assert(GraphAlgos.sssp(edges, empty, maxRounds = 3).count() == 0L)
    assert(GraphAlgos.multiSourceHopDistances(
      edges.select(col("src"), col("dst")), empty, maxRounds = 3).count() == 0L)
  }

  test("sssp: double weights are cast to long (truncated); ids must be integral") {
    import graft.operators.GraphAlgos
    // 1→2 (w5.9), 1→3 (w1.2), 3→2 (w1.7) truncate to 5, 1, 1: 2 via 3
    // at 2 (rounding would give 3, raw double bits a huge number)
    val edges = Seq((1L, 2L, 5.9), (1L, 3L, 1.2), (3L, 2L, 1.7))
      .toDF("src", "dst", "weight")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val d = GraphAlgos.sssp(edges, seeds, maxRounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 2L, 3L -> 1L))
    val floats = edges.withColumn("weight", col("weight").cast("float"))
    assert(GraphAlgos.sssp(floats, seeds, maxRounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == d)
    intercept[IllegalArgumentException] {
      GraphAlgos.sssp(edges.withColumn("src", col("src").cast("double")), seeds, 10)
    }
  }

  test("centroid drift: self-drift is identity; a shifted class moves; " +
    "one-sided labels surface with null drift") {
    import graft.operators.Similarity
    val old = Seq(
      (1, Seq(1.0f, 0.0f), "a"), (2, Seq(0.0f, 1.0f), "a"),
      (3, Seq(1.0f, 1.0f), "b"))
      .toDF("vec_id", "embedding", "label")
    // same corpus on both sides: cosine 1, shift 0
    val self = Similarity.labelCentroidDrift(old, old, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[String]("label") ->
        ((r.getAs[Double]("centroid_cos"), r.getAs[Double]("centroid_shift")))).toMap
    assert(self("a") == ((1.0, 0.0)) && self("b") == ((1.0, 0.0)))
    // class a's centroid rotates 90 degrees; class c appears, b vanishes
    val nw = Seq(
      (10, Seq(-1.0f, 0.0f), "a"), (11, Seq(0.0f, -1.0f), "a"),
      (12, Seq(2.0f, 0.0f), "c"))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.labelCentroidDrift(old, nw, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[String]("label") -> r).toMap
    // a: centroid (0.5,0.5) -> (-0.5,-0.5): cosine -1, shift sqrt(2)
    assert(rows("a").getAs[Double]("centroid_cos") == -1.0)
    assert(math.abs(rows("a").getAs[Double]("centroid_shift") - math.sqrt(2.0)) < 1e-5)
    assert(rows("a").getAs[Long]("n_old") == 2L && rows("a").getAs[Long]("n_new") == 2L)
    // b only old, c only new: counts one-sided, drift null
    assert(rows("b").getAs[Long]("n_new") == 0L && rows("b").isNullAt(
      rows("b").fieldIndex("centroid_cos")))
    assert(rows("c").getAs[Long]("n_old") == 0L && rows("c").isNullAt(
      rows("c").fieldIndex("centroid_shift")))
  }

  test("mmrTopK widens int ids; rejects string ids up front") {
    import graft.operators.Similarity
    val vecs = Seq(
      (0, Seq(1.0f, 0.0f)), (1, Seq(0.9f, 0.1f)),
      (2, Seq(0.8f, 0.2f)), (3, Seq(0.0f, 1.0f)))
    val intIds = vecs.toDF("vec_id", "embedding") // vec_id is IntegerType
    val got = Similarity.mmrTopK(intIds, "vec_id", "embedding",
        queryVecId = 0L, k = 2, shortlist = 3).collect()
      .map(r => r.getAs[Long]("vec_id")).toSet
    val longIds = vecs.map { case (i, v) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val want = Similarity.mmrTopK(longIds, "vec_id", "embedding",
        queryVecId = 0L, k = 2, shortlist = 3).collect()
      .map(r => r.getAs[Long]("vec_id")).toSet
    assert(got == want && got.size == 2)
    val strIds = vecs.map { case (i, v) => (i.toString, v) }
      .toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.mmrTopK(strIds, "vec_id", "embedding", 0L, 2, shortlist = 3)
    }
    assert(err.getMessage.contains("integral"))
  }

  test("interval join equals brute-force inequality join on random intervals") {
    import graft.operators.IntervalJoin
    val rnd = new scala.util.Random(42)
    val l = (1 to 300).map(i => (i.toLong, "k" + rnd.nextInt(3), {
      val s = rnd.nextInt(10000).toLong; (s, s + rnd.nextInt(500)) })).map {
      case (id, k, (s, e)) => (id, k, s, e) }.toDF("l_id", "key", "ls", "le")
    val r = (1 to 300).map(i => (i.toLong, "k" + rnd.nextInt(3), {
      val s = rnd.nextInt(10000).toLong; (s, s + rnd.nextInt(2000)) })).map {
      case (id, k, (s, e)) => (id, k, s, e) }.toDF("r_id", "key", "rs", "re")
    val expect = l.join(r, l("key") === r("key") &&
        col("ls") <= col("re") && col("rs") <= col("le"))
      .select(col("l_id"), col("r_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // cell width far from interval scale in both directions still
    // exact, and tiny chunk sizes (forcing chunk-boundary crossings in
    // the two-level expansion) change nothing
    for (cell <- Seq(100L, 1000L); chunk <- Seq(2, 1024)) {
      val got = IntervalJoin.overlapJoin(l, "ls", "le", r, "rs", "re",
          Seq("key"), cell, chunk).select(col("l_id"), col("r_id"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(got == expect, s"cell=$cell chunk=$chunk: ${got.size} vs ${expect.size}")
    }
  }

  test("hll distinct: within the m=256 error regime, duplicate-insensitive, " +
       "partition-invariant") {
    import graft.operators.Sketches
    val n = 20000
    val base = spark.range(0, n).toDF("v").withColumn("g", lit("x"))
    def est(df: org.apache.spark.sql.DataFrame): Double =
      Sketches.hllDistinct(df, Seq("g"), "v").collect()(0).getDouble(1)
    val e = est(base)
    assert(math.abs(e - n) / n < 0.10, s"estimate $e for $n")  // 1.04/sqrt(256)=6.5%
    // duplicates do not move the registers
    assert(est(base.unionAll(base).unionAll(base)) == e)
    // partitioning does not move the estimate (max is commutative)
    assert(est(base.repartition(17)) == e)
  }

  test("quality rules count known violations; nulls fail predicates, not FKs") {
    import graft.operators.Quality
    val child = Seq((1L, Option(10L), Option(0.05)), (2L, Option(10L), None),
      (3L, Option(99L), Option(0.5)), (4L, None, Option(0.05)),
      (4L, Option(20L), Option(0.05)))
      .toDF("id", "parent_id", "ratio")
    val parent = Seq(Tuple1(10L), Tuple1(20L)).toDF("pid")
    val r = Quality.report(
        Quality.notNull(child, Seq("parent_id")),
        Quality.unique(child, Seq("id")),
        Quality.foreignKey(child, "parent_id", parent, "pid"),
        Quality.inRange(child, "ratio", 0.0, 0.1),
        Quality.satisfies(child, "r", col("ratio") <= 0.1))
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getInt(2)))).toMap
    assert(r("not_null:parent_id") == ((1L, 0)))
    assert(r("unique:id") == ((1L, 0)))          // id 4 twice -> 1 surplus
    assert(r("fk:parent_id") == ((1L, 0)))       // 99 orphan; null NOT counted
    assert(r("range:ratio") == ((1L, 0)))        // 0.5 out; null not counted
    assert(r("satisfies:r") == ((2L, 0)))        // 0.5 fails AND null fails
  }

  test("hll registers merge losslessly: merged batches equal one pass") {
    import graft.operators.Sketches
    val a = spark.range(0, 8000).toDF("v").withColumn("g", lit("x"))
    val b = spark.range(5000, 12000).toDF("v").withColumn("g", lit("x"))
    val onePass = Sketches.hllDistinct(a.unionAll(b), Seq("g"), "v")
      .collect()(0).getDouble(1)
    val merged = Sketches.hllFromRegisters(
      Sketches.hllMergeRegisters(
        Sketches.hllRegisters(a, Seq("g"), "v"),
        Sketches.hllRegisters(b, Seq("g"), "v")),
      Seq("g")).collect()(0).getDouble(1)
    assert(merged == onePass)
  }

  test("count-min: one-sided error, exact on heavy hitters vs a skewed stream") {
    import graft.operators.Sketches
    // zipf-ish: key k appears ceil(2000/k) times for k in 1..200
    val rows = (1 to 200).flatMap(k => Seq.fill(math.ceil(2000.0 / k).toInt)(k.toLong))
    val df = rows.toDF("v")
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val est = Sketches.cmsEstimates(df, "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    // CMS guarantee: never an undercount
    est.foreach { case (k, e) => assert(e >= exact(k), s"undercount at $k") }
    // at d=4, w=512 with 200 keys, the top hitters should be exact
    assert(est(1L) == exact(1L) && est(2L) == exact(2L))
    // null keys are excluded explicitly (not silently hashed to null
    // cells): counters and probe agree, non-null estimates unchanged
    val withNulls = rows.map(Option(_)).toDF("v")
      .unionAll(Seq.fill(5)(None: Option[Long]).toDF("v"))
    val estN = Sketches.cmsEstimates(withNulls, "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(estN == est)
  }

  test("gap fill: chunked calendar equals naive sequence; zero/forward fills") {
    import graft.operators.TimeSeries
    // key a: buckets 0,30,90 (gaps at 10,20,40..80); key b: single bucket
    val df = Seq(("a", 0L, 5L, 1.5), ("a", 30L, 2L, 2.5), ("a", 90L, 1L, 3.5),
      ("b", 50L, 7L, 9.9)).toDF("k", "t", "n", "v")
    for (chunk <- Seq(1, 2, 3, 100)) {  // boundary-crossing chunk sizes
      val r = TimeSeries.gapFill(df, Seq("k"), "t", step = 10L,
        zeroFill = Seq("n"), forwardFill = Seq("v"), chunk = chunk)
        .collect().map(x => (x.getString(0), x.getLong(1)) ->
          ((x.getLong(2), x.getDouble(3)))).toMap
      assert(r.size == 11, s"chunk=$chunk: ${r.size} rows")   // 10 for a, 1 for b
      assert(r(("a", 0L)) == ((5L, 1.5)))
      assert(r(("a", 10L)) == ((0L, 1.5)))   // zero count, forward-filled v
      assert(r(("a", 40L)) == ((0L, 2.5)))
      assert(r(("a", 90L)) == ((1L, 3.5)))
      assert(r(("b", 50L)) == ((7L, 9.9)))
    }
  }

  test("scd2 merge equals full rebuild on random change streams") {
    import graft.operators.Scd2
    val rnd = new scala.util.Random(7)
    // keys 1..20 with random status streams; ts collisions within a key
    // are frequent by construction (ts drawn from a small range), so
    // the tie column is load-bearing; keys 18-20 appear ONLY after the
    // split (new-key path), key 1 only before (untouched path)
    val events = (1 to 20).flatMap { k =>
      val n = if (k == 1) 6 else 12
      (1 to n).map { i =>
        val ts = if (k == 1) rnd.nextInt(50).toLong
                 else if (k >= 18) 100L + rnd.nextInt(50)
                 else rnd.nextInt(150).toLong
        (k.toLong, ts, "S" + rnd.nextInt(3), (k * 1000 + i).toLong)
      }
    }
    val df = events.toDF("key", "ts", "status", "tie")
    val full = Scd2.intervals(df, Seq("key"), "ts", Seq("status"), Seq("tie"))
    val early = df.filter(col("ts") < 100)
    val late = df.filter(col("ts") >= 100)
    val merged = Scd2.merge(
      Scd2.intervals(early, Seq("key"), "ts", Seq("status"), Seq("tie")),
      late, Seq("key"), "ts", Seq("status"), Seq("tie"))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSet
    assert(canon(merged) == canon(full))
  }

  test("zorder: morton code interleaves bits exactly") {
    import graft.operators.Layout
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (4095L, 4095L))
      .toDF("x", "y")
    val got = df.withColumn("z", Layout.zValue(Seq(col("x"), col("y")), 12))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def morton(x: Long, y: Long): Long =
      (0 until 12).map(j => (((x >> j) & 1L) << (2 * j)) |
        (((y >> j) & 1L) << (2 * j + 1))).reduce(_ | _)
    got.foreach { case ((x, y), z) => assert(z == morton(x, y), s"($x,$y)") }
  }

  test("zorder layout shrinks per-partition bounding boxes on both dims") {
    import graft.operators.Layout
    // 64x64 uniform grid; 16 partitions. A z-ordered layout keeps each
    // partition inside a ~16x16 box; a single-column range layout gets
    // a 4-wide stripe on x but the FULL 64 range on y.
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    def boxSum(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("p", spark_partition_id())
        .groupBy(col("p"))
        .agg(((max(col("x")) - min(col("x")) + 1) *
          (max(col("y")) - min(col("y")) + 1)).as("box"))
        .agg(sum(col("box"))).collect()(0).getLong(0)
    val zs = boxSum(Layout.zorder(grid, Seq(col("x"), col("y")), 6, 16))
    val rs = boxSum(grid.repartitionByRange(16, col("x")))
    // z: 16 boxes of ~256 cells = ~4096; x-range: 16 stripes of 4x64 = 4096
    // cells but each box is 256 on y — compare the MAX per-dim extent
    assert(zs <= rs, s"z=$zs stripe=$rs")
    val zBoxes = Layout.zorder(grid, Seq(col("x"), col("y")), 6, 16)
      .withColumn("p", spark_partition_id())
      .groupBy(col("p"))
      .agg((max(col("y")) - min(col("y")) + 1).as("yext"))
      .agg(max(col("yext"))).collect()(0).getLong(0)
    assert(zBoxes <= 32, s"max y-extent of a z partition was $zBoxes (stripe layout: 64)")
  }

  test("bloom semi join equals plain leftsemi on long and string keys") {
    import graft.operators.BloomJoin
    val big = spark.range(0, 5000).toDF("k")
      .withColumn("s", concat(lit("key-"), col("k")))
    val small = spark.range(0, 5000, 7).toDF("j")
      .withColumn("t", concat(lit("key-"), col("j")))
    val expectLong = big.join(small, col("k") === col("j"), "leftsemi")
      .select("k").collect().map(_.getLong(0)).toSet
    val gotLong = BloomJoin.semiJoin(big, col("k"), small, col("j"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(gotLong == expectLong && gotLong.size == small.count())
    val gotStr = BloomJoin.semiJoin(big, col("s"), small, col("t"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(gotStr == expectLong)
  }

  test("bloom anti join equals plain leftanti; no false negatives at high fpp") {
    import graft.operators.BloomJoin
    val big = spark.range(0, 3000).toDF("k")
    val small = spark.range(0, 3000, 11).toDF("j")
    val expect = big.join(small, col("k") === col("j"), "leftanti")
      .collect().map(_.getLong(0)).toSet
    // deliberately lousy fpp: correctness must come from the exact
    // post-join on the might-contain sliver, not from sketch accuracy
    val got = BloomJoin.antiJoin(big, col("k"), small, col("j"), fpp = 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("bloom prefilter prunes most non-matching rows before the join") {
    import graft.operators.BloomJoin
    val big = spark.range(0, 20000).toDF("k")
    val small = spark.range(0, 20000, 100).toDF("j") // 1% match rate
    val bytes = BloomJoin.buildBloomBytes(small, col("j"), fpp = 0.01)
    val kept = big.filter(BloomJoin.mightContain(bytes, col("k"))).count()
    // 200 true + ~1% fp of 19800 — far below the unfiltered 20000
    assert(kept >= 200 && kept < 1200, s"prefilter kept $kept rows")
  }

  test("fuzzy-link routing seam: cross-table density routes like the " +
    "self-join router; the exact tier is bit-identical to fuzzyLink") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(13)
    // high-entropy sides: exact route, output ≡ fuzzyLink. Seed left
    // strings, derive some rights within distance 1 so links exist.
    val ls = (1L to 50L).map(i => (i, rnd.alphanumeric.take(10).mkString))
    val rs = ls.take(20).zipWithIndex.map { case ((_, s), k) =>
      (100L + k, s.updated(3, '!')) } ++
      (200L to 220L).map(i => (i, rnd.alphanumeric.take(10).mkString))
    val (links, ledger) = Dedup.fuzzyLinkAuto(
      ls.toDF("id", "s"), "id", "s", rs.toDF("id", "s"), "id", "s",
      maxDist = 1, sampleSixteenths = 16)
    val lrow = ledger.collect().head
    assert(lrow.getAs[String]("tier") == "exact")
    // the link ledger carries the same dilution-visibility statistic
    // as the self-join router's (high-entropy keys: tiny buckets)
    assert(lrow.getAs[Long]("max_bucket") >= 1L &&
      lrow.getAs[Long]("max_bucket") <= 4L, lrow)
    val got = links.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Dedup.fuzzyLink(ls.toDF("id", "s"), "id", "s",
        rs.toDF("id", "s"), "id", "s", maxDist = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && want.nonEmpty)
    // template-dense sides: minhash route; verified precision exact,
    // links a subset of brute-force truth with high banding recall
    val dl = (1L to 300L).map(i => (i,
      "Cust#" + (1 to 5).map(_ => ('0' + rnd.nextInt(3)).toChar).mkString + "-X"))
    val dr = (1000L to 1300L).map(i => (i,
      "Cust#" + (1 to 5).map(_ => ('0' + rnd.nextInt(3)).toChar).mkString + "-X"))
    val (dLinks, dLedger) = Dedup.fuzzyLinkAuto(
      dl.toDF("id", "s"), "id", "s", dr.toDF("id", "s"), "id", "s",
      maxDist = 2, sampleSixteenths = 16)
    assert(dLedger.collect().head.getAs[String]("tier") == "minhash")
    val truth = (for {
      (i, a) <- dl; (j, b) <- dr if lev(a, b) <= 2
    } yield (i, j, lev(a, b).toLong)).toSet
    val dGot = dLinks.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dGot.subsetOf(truth), (dGot -- truth).take(5))
    assert(dGot.size >= (truth.size * 0.7).toInt, s"${dGot.size}/${truth.size}")
  }

  test("streaming fuzzy crawl differential: random short-alphabet " +
    "corpora under random batchings match a driver-side reference model " +
    "of the arrival-order semantics (cross-batch probe + intra min-id)") {
    import graft.operators.Dedup
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // reference model: per batch, drop anything within 1 of an
    // ADMITTED string, then union-find the rest on lev<=1 pairs with
    // min-id canonical; survivors' strings join the admitted set
    def model(batches: Seq[Seq[(Long, String)]]): Set[Long] = {
      val admitted = scala.collection.mutable.Set.empty[String]
      val out = scala.collection.mutable.Set.empty[Long]
      batches.foreach { b =>
        val pre = b.filterNot { case (_, s) =>
          admitted.exists(t => lev(s, t) <= 1) }
        val parent = scala.collection.mutable.Map(
          pre.map { case (i, _) => i -> i }: _*)
        def find(x: Long): Long =
          if (parent(x) == x) x
          else { val r = find(parent(x)); parent(x) = r; r }
        for { (i, s) <- pre; (j, t) <- pre if i < j && lev(s, t) <= 1 } {
          val (ri, rj) = (find(i), find(j))
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
        val survivors = pre.filter { case (i, _) => find(i) == i }
        survivors.foreach { case (i, s) => out += i; admitted += s }
      }
      out.toSet
    }
    val rnd = new scala.util.Random(17)
    (0 until 3).foreach { trial =>
      // 3-letter alphabet, length 3-4: dense with exact dups, dist-1
      // chains, and cross-batch collisions; batches may come up EMPTY
      // (the empty-path regression of round 14's advice)
      val docs = (1L to 24L).map(i => (i,
        (1 to 3 + rnd.nextInt(2)).map(_ => ('a' + rnd.nextInt(3)).toChar)
          .mkString))
      val assign = docs.map(d => (rnd.nextInt(3), d))
      val batches = (0 until 3).map(k =>
        assign.filter(_._1 == k).map(_._2))
      val idx = s"${java.nio.file.Files.createTempDirectory("graft_fzd")}/ix"
      var got = Set.empty[Long]
      batches.zipWithIndex.foreach { case (b, bi) =>
        val df = b.toDF("id", "s")
        val (surv, admit) = Dedup.fuzzyCrawlBatch(spark, idx, df,
          "id", "s", batchId = bi.toLong, maxDist = 1)
        got ++= surv.select("id").collect().map(_.getLong(0))
        admit(surv.select(col("id")))
      }
      assert(got == model(batches),
        s"trial $trial: $got vs ${model(batches)} (batches: $batches)")
    }
  }

  test("fuzzy index-at-rest compaction: hood partitions consolidate " +
    "under batch=-1 with bit-identical probe links") {
    import graft.operators.BatchCompaction
    val d = s"${java.nio.file.Files.createTempDirectory("graft_fzc")}/index"
    Dedup.fuzzyIndexPut(spark,
      d, Seq("martha stewart", "david bowie").toDF("k"), "k",
      batch = 0L, maxDist = 1)
    Dedup.fuzzyIndexPut(spark, d, Seq("someone else").toDF("k"), "k",
      batch = 1L)
    val probe = Seq((1L, "martha stewar"), (2L, "someone elsx"),
      (3L, "unrelated")).toDF("id", "s")
    def links(): Seq[(Long, String, Long)] =
      Dedup.fuzzyIndexMatches(spark, d, probe, "id", "s")
        .orderBy("id", "k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val before = links()
    assert(before == Seq((1L, "martha stewart", 1L),
      (2L, "someone else", 1L)), before)
    val stats = BatchCompaction.compactIndex(spark, d, upTo = 1L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(stats.contains("hood"), stats)
    assert(new java.io.File(s"$d/hood/batch=-1").isDirectory)
    assert(!new java.io.File(s"$d/hood/batch=0").exists())
    assert(!new java.io.File(s"$d/hood/batch=1").exists())
    assert(links() == before)
  }

  test("compaction CRASH WINDOW is repaired BEFORE the next probe reads " +
    "the index: tmp written, marker committed, batch partitions deleted, " +
    "rename never ran — the probe still sees every admitted key") {
    import graft.operators.BatchCompaction
    val d = s"${java.nio.file.Files.createTempDirectory("graft_fzx")}/index"
    Dedup.fuzzyIndexPut(spark,
      d, Seq("martha stewart", "david bowie").toDF("k"), "k",
      batch = 0L, maxDist = 1)
    Dedup.fuzzyIndexPut(spark, d, Seq("someone else").toDF("k"), "k",
      batch = 1L)
    val probe = Seq((1L, "martha stewar"), (2L, "someone elsx"),
      (3L, "unrelated")).toDF("id", "s")
    def links(): Seq[(Long, String, Long)] =
      Dedup.fuzzyIndexMatches(spark, d, probe, "id", "s")
        .orderBy("id", "k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val before = links()
    assert(before.map(_._1).toSet == Set(1L, 2L), before)
    // SIMULATE compactDir dying in the window the r14 advisor flagged:
    // consolidated rows fully in .compact_tmp, _compact_commit marker
    // written, old batch partitions deleted — the rename to batch=-1
    // never ran. A probe reading the raw directory now would see an
    // index missing EVERY admitted key and silently re-admit dups.
    val hood = s"$d/hood"
    val consolidated = spark.read.parquet(hood)
      .filter(col("batch") <= 1).drop("batch").coalesce(1)
    consolidated.write.parquet(s"$hood/.compact_tmp")
    val fs = new org.apache.hadoop.fs.Path(hood)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$hood/_compact_commit")
    val out = fs.create(marker, true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$hood/batch=0"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$hood/batch=1"), true)
    // the probe path repairs first (matchStrings → recoverDir), so the
    // links are bit-identical to the healthy index
    assert(links() == before, "probe read the broken mid-compaction index")
    assert(new java.io.File(s"$hood/batch=-1").isDirectory)
    assert(!fs.exists(marker))
    assert(!new java.io.File(s"$hood/.compact_tmp").exists())
    // and renameOrThrow fails LOUDLY on a rename the filesystem
    // refuses, leaving the marker protocol able to retry — an
    // unchecked false here is how recovery would misclassify a live
    // tmp as garbage (permanent data loss)
    // (local fs reports the missing source itself; object stores
    // return false and hit renameOrThrow's own message — both are
    // loud IOExceptions, which is the contract)
    val err = intercept[java.io.IOException] {
      BatchCompaction.renameOrThrow(fs,
        new org.apache.hadoop.fs.Path(s"$hood/.does_not_exist"),
        new org.apache.hadoop.fs.Path(s"$hood/.dst"))
    }
    assert(err.getMessage.contains(".does_not_exist") ||
      err.getMessage.contains("rename"), err.getMessage)
  }

  test("map-side IVF assignment parity: distance ties go to the LOWER " +
    "centroid id and malformed vectors (null / wrong length) degrade to " +
    "the lowest centroid — the relational window's exact rules") {
    import graft.operators.Similarity
    // md5 rank of small ids (the sampledCentroids order): 6 < 19 < 9 <
    // 11 < 7 < 4 — so nlist=2 samples ids {6, 19} as centroids
    val df = Seq[(Long, Seq[Double])](
      (4L, Seq(1.0, 0.0)),   // EXACTLY between both centroids → tie
      (6L, Seq(0.0, 0.0)),   // centroid itself
      (7L, null),            // null vector → null distance everywhere
      (11L, Seq(5.0)),       // wrong dimensionality
      (9L, Seq(1.9, 0.0)),   // strictly nearer 19
      (19L, Seq(2.0, 0.0))). // centroid itself
      toDF("id", "v")
    val got = Similarity.ivfSampledAssign(df, "id", "v", nlist = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 6L, 6L -> 6L, 7L -> 6L, 11L -> 6L,
      9L -> 19L, 19L -> 19L), got)
  }

  test("fuzzyCrawlBatch pins the minhash sketch params from the index " +
    "_meta: a crawl configured with DIFFERENT num_hashes/bands than the " +
    "seed keeps the seed's, so sketch and outer _meta can never drift") {
    val d = s"${java.nio.file.Files.createTempDirectory("graft_fzm")}/index"
    // ~80-char keys: the dd25 certain-recall regime (char-bigram jaccard
    // >= ~0.97 at dist<=1, miss probability ~1e-10 even at 16 hashes)
    val k1 = "the quick brown fox jumps over the lazy dog while " +
      "the band plays on through the night"
    val k2 = "completely different second seed key about winter " +
      "mornings and the sound of distant trains"
    Dedup.fuzzyIndexPut(spark, d, Seq(k1, k2).toDF("k"), "k",
      batch = -1L, maxDist = 1, tier = "minhash", numHashes = 16, bands = 8)
    def rec(dir: String, kind: String) = IndexStore.open(spark, dir, kind).get
    val om0 = rec(d, "fuzzy")
    assert(om0.params("tier") == "minhash" &&
      (om0.int("num_hashes"), om0.int("bands")) == (16, 8))
    // crawl with caller params 64/32 (the defaults): one near-dup of k1
    // (one char deleted) and one fresh key
    val batch = Seq((1L, k1.dropRight(1)), (2L, "a genuinely new key"))
      .toDF("id", "s")
    val (surv, admit) = Dedup.fuzzyCrawlBatch(spark, d, batch,
      "id", "s", batchId = 0L, maxDist = 1, numHashes = 64, bands = 32)
    val kept = surv.select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), s"cross-batch minhash probe missed: $kept")
    admit(surv.select(col("id")))
    // the admitted sketch kept the SEED's params, not the caller's
    val sm = rec(s"$d/sketch", "minhash")
    assert((sm.int("num_hashes"), sm.int("bands")) == (16, 8),
      s"sketch _meta drifted: $sm")
    val om = rec(d, "fuzzy")
    assert((om.int("num_hashes"), om.int("bands")) == (16, 8))
    // and the newly admitted key is findable at the pinned params
    val hits = Dedup.fuzzyIndexMatches(spark, d,
        Seq((9L, "a genuinely new kez")).toDF("id", "s"), "id", "s")
      .select("k").collect().map(_.getString(0)).toSet
    assert(hits == Set("a genuinely new key"), hits)
  }

  test("graft.iter.checkpointDir routes loop pins through reliable " +
    "checkpoints: results unchanged, and free() RECLAIMS superseded " +
    "rounds' checkpoint directories (bounded disk, not one dir/round)") {
    import graft.operators.IterPin
    val dir = java.nio.file.Files.createTempDirectory("graft_relck")
      .toFile.getAbsolutePath
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val wedges = edges.withColumn("weight", col("src") + col("dst"))
    val seeds = Seq(1L, 4L).toDF("node")
    // the RDD-state loops (sssp, LPA, BFS, kCore) pin through the same route
    val vertexLoops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "sssp" -> (() => GraphAlgos.sssp(wedges, seeds, maxRounds = 6)),
      "labelPropagation" -> (() => GraphAlgos.labelPropagation(edges, iterations = 6)),
      "multiSourceHopDistances" ->
        (() => GraphAlgos.multiSourceHopDistances(edges, seeds, maxRounds = 6)),
      "kCore" -> (() => GraphAlgos.kCore(edges, k = 2, maxRounds = 6)))
    val local = GraphAlgos.pageRank(edges, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val localVertex = vertexLoops.map { case (_, run) =>
      val r = run()
      try r.collect().toSet finally IterPin.free(r)
    }
    spark.conf.set("graft.iter.checkpointDir", dir)
    try {
      val reliable = GraphAlgos.pageRank(edges, iterations = 6)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(reliable == local) // bit-identical either pin route
      // superseded rounds' directories were deleted by free(): only
      // the surviving pins' rdd-* dirs remain — without the reclaim,
      // a 6-iteration run leaves one directory PER ROUND (plus the
      // invariant pins) on exactly the filesystems the conf targets.
      // Counted under the context's checkpoint dir: it is set once per
      // context, possibly by an earlier suite under another conf value
      def rddDirs(f: java.io.File): Long =
        if (!f.isDirectory) 0L
        else (if (f.getName.startsWith("rdd-")) 1L else 0L) +
          Option(f.listFiles).map(_.map(rddDirs).sum).getOrElse(0L)
      def ckptDirs(): Long = rddDirs(new java.io.File(new java.net.URI(
        spark.sparkContext.getCheckpointDir.get).getPath))
      val remaining = ckptDirs()
      assert(remaining <= 2, s"$remaining rdd-* checkpoint dirs remain " +
        "after a 6-iteration pageRank (retention leak)")
      vertexLoops.zip(localVertex).foreach { case ((name, run), want) =>
        val before = ckptDirs()
        val r = run()
        assert(r.collect().toSet == want, s"$name differs under reliable pins")
        val kept = ckptDirs() - before
        assert(kept >= 1 && kept <= 2,
          s"$kept rdd-* checkpoint dirs remain after a 6-round $name")
        IterPin.free(r)
        assert(ckptDirs() < before + kept, s"$name's result pin was not freed")
      }
      // components through the same route (distributed regime)
      val prev = spark.conf.getOption("graft.components.driverMaxEdges")
      spark.conf.set("graft.components.driverMaxEdges", "1")
      try {
        val comps = Components.connectedComponents(
            edges.select(col("src").as("a"), col("dst").as("b")), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
      } finally prev match {
        case Some(v) => spark.conf.set("graft.components.driverMaxEdges", v)
        case None => spark.conf.unset("graft.components.driverMaxEdges")
      }
    } finally spark.conf.unset("graft.iter.checkpointDir")
  }

  test("iterative loops bound their checkpoint retention: after an " +
    "operator returns, at most its RESULT's blocks stay pinned") {
    import graft.operators.IterPin
    // deterministic block-manager accounting: persistent-RDD count
    // before vs after each operator, result fully consumed. Without
    // the per-round frees every superseded state vector (and on exit
    // the edge-sized loop pins) stays in the block manager until GC
    // happens to collect the RDD handle — the measured heap-pressure
    // term of the r12 sf10 study. ContextCleaner runs async, so drain
    // any stragglers from OTHER suites first for a stable baseline.
    val sc = spark.sparkContext
    def pinned(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val rnd = new scala.util.Random(3)
    val edges = (1 to 4000).map(_ =>
        (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(p => p._1 != p._2).toDF("src", "dst")
      .localCheckpoint() // input pinned by the TEST, not the operator
    def leaked(run: => org.apache.spark.sql.DataFrame): Int = {
      val base = pinned() // re-baselined per operator: a result whose
      // plan reads its final pin (kCore) legitimately leaves one block
      val r = run
      r.count() // consume
      val extra = (pinned() -- base).size
      // free the result pin too before the next operator runs
      IterPin.free(r)
      extra
    }
    // pageRank/LPA/sssp/BFS return ONE pinned vector; over 6-8 rounds
    // the old code retained 3-4 state checkpoints + 2 edge-sized pins
    assert(leaked(GraphAlgos.pageRank(edges, iterations = 6)) <= 1)
    assert(leaked(GraphAlgos.labelPropagation(edges, iterations = 6)) <= 1)
    assert(leaked(GraphAlgos.sssp(
      edges.withColumn("weight", lit(1L)),
      Seq(1L).toDF("node"), maxRounds = 6)) <= 1)
    assert(leaked(GraphAlgos.multiSourceHopDistances(
      edges, Seq(1L, 2L).toDF("node"), maxRounds = 6)) <= 1)
    // kCore's result reads its final edge pin: result + final state
    assert(leaked(GraphAlgos.kCore(edges, k = 2, maxRounds = 8)) <= 1)
    // components: distributed regime (cap lowered under the edge count)
    val prev = spark.conf.getOption("graft.components.driverMaxEdges")
    spark.conf.set("graft.components.driverMaxEdges", "1")
    try assert(leaked(Components.connectedComponents(
      edges.select(col("src").as("a"), col("dst").as("b")), "a", "b")) <= 1)
    finally prev match {
      case Some(v) => spark.conf.set("graft.components.driverMaxEdges", v)
      case None => spark.conf.unset("graft.components.driverMaxEdges")
    }
  }

  /** Asserts that each loop, run at 1, 2 and 4 rounds (a cap it always
    * reaches), schedules rounds + one fixed set-up jobs, the same count
    * on two runs; jobs are charged per job group.
    */
  private def assertJobPerRound(
      loops: Seq[(String, Int => org.apache.spark.sql.DataFrame)]): Unit = {
    import graft.operators.IterPin
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftshim.ListenerBridge
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, _ + _))
    }
    sc.addSparkListener(listener)
    try loops.foreach { case (name, run) =>
      val perRounds = Seq(1, 2, 4).map { k =>
        k -> (1 to 2).map { rep =>
          val group = s"vertexloop-$name-$k-$rep"
          sc.setJobGroup(group, group)
          try IterPin.free(run(k)) finally sc.clearJobGroup()
          assert(ListenerBridge.waitUntilEmpty(spark, 10000L))
          jobs.getOrDefault(group, 0)
        }
      }
      perRounds.foreach { case (k, runs) =>
        assert(runs.distinct.size == 1, s"$name at $k rounds: jobs differ $runs")
      }
      val setup = perRounds.map { case (k, runs) => runs.head - k }.distinct
      assert(setup.size == 1 && setup.head >= 0,
        s"$name: jobs minus rounds is not one fixed set-up: $perRounds")
    } finally sc.removeSparkListener(listener)
  }

  test("sssp, BFS and label propagation run one Spark job per round plus " +
    "a fixed set-up, and the same count on every run") {
    // a path 1 -> ... -> 9 never converges within 4 rounds, and a 2-cycle
    // swaps its labels every round: each loop runs exactly its cap
    val path = (1L to 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val flip = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    assertJobPerRound(Seq(
      "sssp" -> (k => GraphAlgos.sssp(path.withColumn("weight", lit(2L)), seeds, k)),
      "bfs" -> (k => GraphAlgos.multiSourceHopDistances(path, seeds, k)),
      "lpa" -> (k => GraphAlgos.labelPropagation(flip, k))))
  }

  test("pageRank, kCore and distributed components run one Spark job per " +
    "round plus a fixed set-up, and the same count on every run") {
    def sym(n: Long) = (1L until n).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    // pageRank runs its iterations; the 2-core of a 9-node path peels
    // one node from each end per round (5 rounds to empty); pointer
    // jumping on a 64-node path still relabels its far end in round 4
    val prev = spark.conf.getOption("graft.components.driverMaxEdges")
    spark.conf.set("graft.components.driverMaxEdges", "0")
    try assertJobPerRound(Seq(
      "pageRank" -> (k => GraphAlgos.pageRank(sym(9), iterations = k)),
      "kCore" -> (k => GraphAlgos.kCore(sym(9), k = 2, maxRounds = k)),
      "components" -> (k => Components.connectedComponents(
        sym(64).select(col("src").as("a"), col("dst").as("b")), "a", "b", maxIter = k))))
    finally prev match {
      case Some(v) => spark.conf.set("graft.components.driverMaxEdges", v)
      case None => spark.conf.unset("graft.components.driverMaxEdges")
    }
  }
}

