package graft

import org.apache.spark.sql.functions._

import graft.operators.IterPin

/** Scaling-exponent harness for the dedup SURVIVOR-selection paths
  * (VERDICT r16 item 3): times the connectivity-thin edge operators
  * and the router's two arms on a ScaleData corpus so their absolute
  * scaling exponents can be recorded alongside the r12-r15 families in
  * PERFORMANCE.md. Run once per scale:
  *
  *   sbt "runMain graft.ScaleData /root/testdata/sf0.1 /tmp/graft_sf1_full 10"
  *   sbt "runMain graft.ScaleData /root/testdata/sf0.1 /tmp/graft_sf10 100"
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1_full sbt "runMain graft.ScaleEdges"
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_GRAFT_SHUFFLE=128 \
  *     sbt "runMain graft.ScaleEdges"
  *
  * DIVERSE-corpus arm (r19): the clone corpora above let the collapse
  * absorb replicas, masking the distinct-fingerprint regime real web
  * data lives in — generate the unique-token variants (documents only)
  * and rerun the documents ops there, naming the regime in the
  * PERFORMANCE.md adjudication:
  *
  *   sbt "runMain graft.ScaleData /root/testdata/sf0.1 /tmp/graft_sf1_div 10 diverse"
  *   sbt "runMain graft.ScaleData /root/testdata/sf0.1 /tmp/graft_sf10_div 100 diverse"
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1_div sbt "runMain graft.ScaleEdges \
  *     minhash_thin_edges,simhash_thin_edges,simhash_candidates,minhash_candidates,simhash_auto_routed"
  *
  * Emits ONE JSON line {"sf_dir":…,"queries":{name:sec},"rows":{name:n}}
  * — rows are reported because the ScaleData corpus's TRUE near-dup
  * pair set grows ~replicas² per document group (each base doc gains
  * `replicaK`-marked variants at j≈0.9+), so a super-linear wall-clock
  * exponent must be read against the output growth, not assumed to be
  * a plan defect (the r12 dd02/dd04 adjudication).
  */
object ScaleEdges {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1_full")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64")
    // optional arg: comma-separated op names, so a new op's sf10 run
    // doesn't re-pay the already-recorded suite (the Bench `only` aid)
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    val spark = Bench.localSession(cpus, shuffle)
    import graft.operators.Dedup
    // LAZY table handles: spark.read.parquet infers schema EAGERLY, so
    // an unconditional read of customer/embeddings would fail a
    // documents-only `only` rerun outright if those files are absent
    // from the sf dir — defeating the arg's purpose of not re-paying
    // unrelated work. Each table is opened on first use by an op the
    // `only` filter actually selected.
    lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // two passes, min (the first pass pays JIT/codegen; the min is the
    // steady-state plan cost).
    // SPARK_GRAFT_SCALE_RUNS=1 for multi-minute sf10 arms where the
    // doubled wall outweighs the warmup bias (record the bias caveat
    // next to the artifact when used).
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    def timed(name: String)(body: => Long): Unit = {
      if (!only.forall(_.contains(name))) return
      val runs = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        val s = (System.nanoTime() - t0) / 1e9
        IterPin.freeAll(spark)
        System.gc()
        (s, n)
      }
      times(name) = runs.map(_._1).min
      rows(name) = runs.head._2
      println(f"[scale-edges] $name: ${times(name)}%.1fs rows=${runs.head._2}")
    }

    // the streaming survivor arm (signature-estimated, thin)
    timed("minhash_thin_edges")(
      Dedup.minHashLshDedupEdges(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16,
        minEstJaccard = 0.8).count())
    // the batch stage's two router arms at the wired configuration
    // (LSH candidates, exact-verified at the Jaccard threshold)
    timed("ngram_thin_edges")(
      Dedup.ngramJaccardDedupEdges(docs, "doc_id", "text", n = 3,
        threshold = 0.8, exhaustive = false).count())
    timed("ngram_pairs_arm")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.8, exhaustive = false)
        .select(col("id1"), col("id2")).count())
    // the router itself (sampling aggregate + whichever arm it picks;
    // the routing line on stderr records the decision + statistics)
    timed("ngram_auto_routed")(
      Dedup.ngramJaccardDedupEdgesAutoLedger(docs, "doc_id", "text", n = 3,
        threshold = 0.8, exhaustive = false)._1.count())

    // The three thin survivor arms r17 measured only BY ANALOGY
    // (VERDICT r17 item 1), at their wired configurations. The fuzzy
    // auto-routed thin path runs on the replicated customer names —
    // ScaleData offsets c_custkey but keeps c_name, so every name is
    // an exact clone group of size `replicas` plus its natural lev<=1
    // neighbors: TRUE thin output grows ~linearly in replicas (star
    // edges), unlike the documents corpora's ~replicas² truth.
    lazy val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    timed("fuzzy_thin_edges_auto")(
      Dedup.editDistanceAuto(cust, "c_custkey", "c_name",
        maxDist = 1).edges.count())
    // the fuzzy EXACT tier bypassing the density router — the control
    // arm of the r20 diverse sweep: on the diverse-name corpus the
    // density statistic sits just over its threshold (70.4 vs 64 at
    // sf1_div) and routes to the minhash tier, while the exact
    // symmetric-delete candidate mass (fuzzy_candidates below) stays
    // small because its key space grows with the corpus — this arm
    // prices what that near-threshold routing decision costs
    timed("fuzzy_thin_edges_exact")(
      Dedup.editDistanceDedupEdges(cust, "c_custkey", "c_name",
        maxDist = 1).count())
    // the router WITH the r20 opt-in absolute-mass disjunct: on the
    // diverse corpus the density rule says minhash, the measured exact
    // mass fits the budget, and the route drops back to the exact
    // tier — this wall prices the disjunct (exact arm + one pre-flight
    // aggregate) against the 603 s sf1_div misroute it avoids
    timed("fuzzy_thin_edges_budget")(
      Dedup.editDistanceAuto(cust, "c_custkey", "c_name",
        maxDist = 1, exactCandidateBudget = 2000000000L).edges.count())
    // simhash thin edges on the marked documents (dd03's maxHamming=6)
    timed("simhash_thin_edges")(
      Dedup.simHashDedupEdges(docs, "doc_id", "text",
        maxHamming = 6).count())
    // the blocking's candidate mass (Σ C(bucket, 2) over the collapsed
    // pigeonhole buckets — what the verification stage actually pays;
    // reported as ROWS so the simhash wall exponent can be adjudicated
    // against candidate growth, not guessed from output growth)
    timed("simhash_candidates")(
      Dedup.simHashCandidateStats(docs, "doc_id", "text", maxHamming = 6)
        .head().getAs[Long]("candidate_pairs"))
    // same lens for the minhash tier at the thin arm's configuration
    // (adjudicates r17's 1.59 minhash exponent against measured
    // candidate growth instead of inference)
    timed("minhash_candidates")(
      Dedup.lshCandidateStats(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16)
        .head().getAs[Long]("candidate_pairs"))
    // the candidate-budget ROUTER at its default budget: on the clone
    // corpora sf10 already crosses 2e9 measured candidates, and the
    // DIVERSE corpora cross it harder — the stderr routing line +
    // this wall record what the guard buys vs the raw simhash arm
    timed("simhash_auto_routed")(
      Dedup.simHashDedupEdgesAutoLedger(docs, "doc_id", "text",
        maxHamming = 6)._1.count())
    // embedding near-dup thin edges (dd05's threshold/planes/tables):
    // replicas carry IDENTICAL vectors, so each base vector is an exact
    // clone group of size `replicas` — star edges linear in replicas,
    // rep pairs constant in the base corpus
    lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    timed("embedding_thin_edges")(
      Dedup.embeddingNearDupDedupEdges(emb, "vec_id", "embedding",
        threshold = 0.4, planes = 6, tables = 8).count())
    // the hyperplane blocking's candidate mass (Σ C(bucket, 2) over
    // collapsed signature-array reps — what the verification stage
    // pays; the r19 verdict's one weak mark measured in its real
    // regime on the ensureDiverse perturbed-vector corpus)
    timed("embedding_candidates")(
      Dedup.embeddingCandidateStats(emb, "vec_id", "embedding",
        planes = 6, tables = 8).head().getAs[Long]("candidate_pairs"))
    // the embedding candidate-budget router at its default budget
    // (the stderr routing line + this wall record what the guard buys
    // vs the raw hyperplane arm)
    timed("embedding_auto_routed")(
      Dedup.embeddingNearDupDedupEdgesAutoLedger(emb, "vec_id", "embedding",
        threshold = 0.4, planes = 6, tables = 8)._1.count())
    // the fuzzy tier's symmetric-delete candidate mass (the regime
    // audit's control arm: this key space GROWS with the corpus, so
    // mass should track true near-dup structure, not a bucket count)
    timed("fuzzy_candidates")(
      Dedup.edCandidateStats(cust, "c_custkey", "c_name", maxDist = 1)
        .head().getAs[Long]("candidate_pairs"))
    // the embedding router's IVF arm on its own — what the
    // route buys when the hyperplane arm's fixed bucket space goes
    // quadratic (same exact-cosine predicate, cluster-local blocking)
    timed("embedding_ivf_edges")(
      Dedup.embeddingIvfDedupEdges(emb, "vec_id", "embedding",
        threshold = 0.4).count())

    val json =
      s"""{"sf_dir":"$sfDir","queries":{${times.map { case (k, v) =>
        s""""$k":${f"$v%.2f"}""" }.mkString(",")}},""" +
      s""""rows":{${rows.map { case (k, v) =>
        s""""$k":$v""" }.mkString(",")}}}"""
    println(json)
    spark.stop()
  }
}
