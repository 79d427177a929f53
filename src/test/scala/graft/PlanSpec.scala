package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

import graft.queries.{RelationalQueries, TpchGraph}

/** Physical-plan quality gates: these assert the *shape* of the plans
  * Catalyst produces for our operators — the properties that decide
  * whether the same code survives a 1000-executor / 100 TB run
  * (pushdown reaching the scan, broadcast for small dims, top-k without
  * a global sort, column pruning through the Cypher var-prefix scheme).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("Cypher WHERE predicate reaches the parquet scan (PushedFilters)") {
    val df = TpchGraph.engine(spark, dir).query(
      "MATCH (c:Customer) WHERE c.c_acctbal > 5000 RETURN c.c_name AS n")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(c_acctbal,5000"),
      s"filter not pushed:\n$p")
  }

  test("Cypher projection prunes unused columns at the scan (ReadSchema)") {
    val df = TpchGraph.engine(spark, dir).query(
      "MATCH (c:Customer) RETURN c.c_name AS n")
    val p = plan(df)
    // only the projected column is read — the var-prefix scheme must not
    // defeat Catalyst's ColumnPruning
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("c_name") && !readSchema.contains("c_acctbal"),
      s"scan reads too much:\n$readSchema")
  }

  test("small dimension joins broadcast (no shuffle of the big side)") {
    val df = RelationalQueries.queries("q15_star_join")(spark, dir)
    assert(plan(df).contains("BroadcastHashJoin"))
  }

  test("ORDER BY + LIMIT compiles to TakeOrderedAndProject") {
    val df = TpchGraph.engine(spark, dir).query(
      """MATCH (o:Order) RETURN o.o_orderkey AS k, o.o_totalprice AS p
         ORDER BY p DESC LIMIT 5""")
    assert(plan(df).contains("TakeOrderedAndProject"))
  }

  test("EXISTS compiles to a semi join, NOT EXISTS to an anti join") {
    val eng = TpchGraph.engine(spark, dir)
    val semi = plan(eng.query(
      "MATCH (c:Customer) WHERE EXISTS { (c)-[:PLACED]->(o:Order) } RETURN count(*) AS n"))
    assert(semi.contains("LeftSemi"))
    val anti = plan(eng.query(
      "MATCH (c:Customer) WHERE NOT EXISTS { (c)-[:PLACED]->(o:Order) } RETURN count(*) AS n"))
    assert(anti.contains("LeftAnti"))
  }

  test("aggregation runs partial (map-side) before the exchange") {
    val df = TpchGraph.engine(spark, dir).query(
      "MATCH (c:Customer) RETURN c.c_mktsegment AS s, count(*) AS n")
    val p = plan(df)
    val firstHashAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstHashAgg >= 0 && exchange >= 0)
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"no partial aggregation:\n$p")
  }

  test("inline property predicate is pushed, not post-filtered") {
    val df = TpchGraph.engine(spark, dir).query(
      "MATCH (c:Customer {c_mktsegment: 'MACHINERY'}) RETURN count(*) AS n")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("EqualTo(c_mktsegment,MACHINERY"),
      s"inline prop not pushed:\n$p")
  }

  test("multi-label scan: label predicate prunes non-matching branch scans") {
    // n:Nation OR n:Region constant-folds per union branch — of the 8
    // registered labels only 2 tables may survive in the physical plan
    val df = TpchGraph.engine(spark, dir).query(
      "MATCH (n) WHERE n:Nation OR n:Region RETURN n.__label AS l, count(*) AS c")
    val p = plan(df)
    val scans = p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
    assert(scans == 2, s"expected 2 surviving scans, got $scans:\n$p")
  }

  test("positive spanning EXISTS avoids nested-loop joins (equi lowering)") {
    val df = TpchGraph.engine(spark, dir).query(
      """MATCH (r:Region)
         OPTIONAL MATCH (n:Nation) WHERE EXISTS { (n)-[:IN_REGION]->(r) }
         RETURN r.r_name AS region, count(n) AS k""")
    val p = plan(df)
    assert(!p.contains("NestedLoopJoin"),
      s"witness membership should lower to an equi join:\n$p")
  }

  test("WCOJ triangle plan builds adjacency sets, not the open wedge") {
    spark.conf.set("graft.wcoj.enabled", "true")
    try {
      val df = TpchGraph.engine(spark, dir).query(
        """MATCH (a:Nation)-[:NEXT_N]->(b:Nation)-[:NEXT_N]->(c:Nation)-[:PREV_N]->(a)
           RETURN count(*) AS n""")
      val p = plan(df)
      // the leapfrog shape: neighbor→multiplicity adjacency-map
      // aggregates feeding a key-intersect + explode (Generate), never
      // edge⋈edge first
      assert(p.contains("map_from_entries"), s"no adjacency-map aggregate:\n$p")
      assert(p.contains("array_intersect") && p.contains("Generate"),
        s"no intersect/explode step:\n$p")
    } finally spark.conf.unset("graft.wcoj.enabled")
  }

  test("persisted ANN indexes: probe scans PRUNE to probe-bucket partitions " +
    "and match the inline operators") {
    import org.apache.spark.sql.functions.{col, transform}
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 0L)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .head().getSeq[Double](0)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val lshPath = java.nio.file.Files.createTempDirectory("graft_lshidx").toString
    Similarity.lshIndexWrite(emb, "vec_id", "embedding", lshPath, planes = 8)
    val probe = Similarity.lshIndexTopK(spark, lshPath, qv, 5,
      excludeId = Some(0L), idColName = "vec_id")
    val p = plan(probe)
    // the __bucket IN (...) predicate must be a PARTITION filter (prunes
    // whole directories), not a data filter over a full scan
    assert(p.contains("PartitionFilters") &&
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString.contains("__bucket"),
      s"no partition pruning on __bucket:\n$p")
    // identical results to the inline (scan-everything) operator
    assert(rows(probe) == rows(Similarity.lshTopK(emb, "vec_id", "embedding",
      0L, 5, planes = 8)))

    val ivfPath = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    Similarity.ivfSampledIndexWrite(emb, "vec_id", "embedding", ivfPath, nlist = 8)
    val iprobe = Similarity.ivfSampledIndexTopK(spark, ivfPath, qv, 5,
      nprobe = 2, excludeId = Some(0L), idColName = "vec_id")
    val ip = plan(iprobe)
    assert(ip.contains("PartitionFilters") &&
      ip.linesIterator.filter(_.contains("PartitionFilters")).mkString.contains("__bucket"),
      s"no partition pruning on __bucket:\n$ip")
    assert(rows(iprobe) == rows(Similarity.ivfSampledTopK(emb, "vec_id",
      "embedding", 0L, 5, nlist = 8, nprobe = 2)))

    val pqPath = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    Similarity.pqIndexWrite(emb, "vec_id", "embedding", pqPath,
      nlist = 8, m = 8, ksub = 16)
    val pprobe = Similarity.pqIndexTopK(spark, pqPath, qv, 5, nprobe = 2,
      excludeId = Some(0L), idColName = "vec_id")
    val pp = plan(pprobe)
    assert(pp.contains("PartitionFilters") &&
      pp.linesIterator.filter(_.contains("PartitionFilters")).mkString.contains("__bucket"),
      s"no partition pruning on __bucket:\n$pp")
    // with every bucket probed, the pure-code probe (no float vectors
    // read) equals the inline operator's ADC ranking exactly
    val pfull = Similarity.pqIndexTopK(spark, pqPath, qv, 5, nprobe = 8,
      excludeId = Some(0L), idColName = "vec_id")
    assert(rows(pfull) == Similarity.pqSampledTopK(emb, "vec_id", "embedding",
      0L, 5, m = 8, ksub = 16)
      .select(col("vec_id"), col("adc_dist")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("IVF coarse assignment is MAP-SIDE: no window, no shuffle, no join — " +
    "on the public assign operator AND inside the vector-index write plan") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // 1. the public operator: scan → project(nearest_centroids) only.
    //    The old plan exchanged nlist× the corpus through a row_number
    //    window (the r14 plan-shape finding) — gate that it never
    //    comes back.
    val p = plan(Similarity.ivfSampledAssign(emb, "vec_id", "embedding", 8))
    assert(p.contains("nearest_centroids"), s"kernel expr absent:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Window") &&
      !p.contains("Join"),
      s"assignment must be one map-side codegen stage:\n$p")
    assert(p.contains("[codegen id"),
      s"assignment fell out of whole-stage codegen:\n$p")
    // 2. the streaming vector-index put (the per-micro-batch 100 TB
    //    path): capture the vecs write's executed plan and assert the
    //    same shape — scan of the pinned batch → project → write, with
    //    no shuffle exchange and no window between them
    val plans = scala.collection.mutable.Buffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val vdir = s"${java.nio.file.Files.createTempDirectory("graft_vput")}/idx"
    spark.listenerManager.register(listener)
    try {
      Similarity.vecIndexPut(spark, vdir, emb, "vec_id", "embedding",
        batch = -1L, nlist = 8)
      // execution listeners fire asynchronously — wait for the write's
      // plan (the one evaluating the assignment kernel) to arrive
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def writePlan: Option[String] = plans.synchronized {
        plans.find(_.contains("nearest_centroids"))
      }
      while (writePlan.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val wp = writePlan.getOrElse(
        fail("vecs write plan never reached the execution listener"))
      assert(!wp.contains("Exchange hashpartitioning") &&
        !wp.contains("ShuffleExchange") && !wp.contains("Window") &&
        !wp.contains("Join"),
        s"index write must not shuffle the corpus:\n$wp")
    } finally spark.listenerManager.unregister(listener)
    // 3. value parity: the written buckets ARE the public operator's
    //    clusters (same corpus, same nlist → same sampled centroids,
    //    same argmin)
    val put = spark.read.parquet(s"$vdir/vecs")
      .select(col("id"), col("__bucket").cast("long").as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asg = Similarity.ivfSampledAssign(emb, "vec_id", "embedding", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(put == asg, "index buckets diverge from the assign operator")
  }

  test("streaming index probes broadcast the BATCH side: the at-rest " +
    "index streams through one scan, never a sort-merge shuffle " +
    "(exact key index and vector bucket index)") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Similarity
    import spark.implicits._
    // both probe sides are LogicalRDD-rooted in production (the batch
    // is checkpointed), which carries default unknown-size stats —
    // left to itself Catalyst sort-merge-joins and shuffles the whole
    // index every micro-batch; the probe cores force the broadcast
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe").toString
    // exact: an at-rest key index vs a pinned batch
    spark.range(0, 1000).selectExpr("cast(id as string) as text")
      .write.parquet(s"$tmp/keys")
    val idxKeys = spark.read.parquet(s"$tmp/keys")
    val batch = Seq("5", "6", "nope").toDF("text").localCheckpoint(true)
    val pe = plan(graft.etl.CurationStages
      .exactProbeHits(idxKeys, batch, "text", small = true))
    assert(pe.contains("BroadcastHashJoin") && !pe.contains("SortMergeJoin"),
      s"exact probe shuffles the index:\n$pe")
    // vector: an at-rest bucket index vs a pinned probe batch
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val vdir = s"$tmp/vidx"
    Similarity.vecIndexPut(spark, vdir, emb, "vec_id", "embedding",
      batch = -1L, nlist = 8)
    val idx = spark.read.parquet(s"$vdir/vecs")
      .select(col("__bucket"), col("v").as("iv"))
    val probe = emb.limit(5)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("__bucket", lit(0L))
      .localCheckpoint(true)
    val pv = plan(Similarity.vecProbeDups(idx, probe, nd = 0, tau = 0.9,
      small = true))
    assert(pv.contains("BroadcastHashJoin") && !pv.contains("SortMergeJoin"),
      s"vector probe shuffles the index:\n$pv")
    // minhash: BOTH at-rest sides of the probe — the band files AND
    // the signature table — must stream, never sort-merge (the
    // candidate side is pinned, counted, and broadcast under the gate)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mdir = s"$tmp/midx"
    graft.operators.Dedup.minHashIndexWrite(docs, "doc_id", "text", mdir,
      shingleSize = 3, numHashes = 16, bands = 8)
    val pm = plan(graft.operators.Dedup.minHashIndexLookup(spark, mdir,
      docs.limit(20), "doc_id", "text"))
    assert(pm.contains("BroadcastHashJoin") && !pm.contains("SortMergeJoin"),
      s"minhash probe shuffles an at-rest side:\n$pm")
  }

  test("PQ ADC top-k is shuffle-free: map-only encode/score, broadcast query, " +
    "TakeOrdered") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Similarity.pqSampledTopK(emb, "vec_id", "embedding",
      queryVecId = 0L, k = 10, m = 8, ksub = 16))
    // both native expressions present, evaluated in the scan stage
    assert(p.contains("pq_encode") && p.contains("pq_adc"), s"PQ exprs absent:\n$p")
    // candidate scoring must not shuffle: the only exchange is the
    // 1-row query broadcast, and top-k is per-partition heaps + driver
    // merge, never a global sort
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("SortMergeJoin"),
      s"unexpected shuffle in the PQ scoring path:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("semantic decontamination broadcasts the benchmark vectors, never shuffles") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") % 29 =!= 0),
      emb.filter(col("vec_id") % 29 === 0), "vec_id", "embedding", tau = 0.2))
    assert(p.contains("BroadcastNestedLoopJoin"), s"bench side not broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("SortMergeJoin"),
      s"train corpus shuffled:\n$p")
  }

  test("decontamination broadcasts the benchmark gram set, never the corpus") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.operators.Dedup.decontaminate(
      docs.filter(col("doc_id") % 29 =!= 0),
      docs.filter(col("doc_id") % 29 === 0), "doc_id", "text", n = 4)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"gram join not broadcast:\n$p")
    // the training side must not be exchanged before the join — the only
    // exchange below the aggregate belongs to the benchmark distinct
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("shingle generation stays inside whole-stage codegen (no CodegenFallback HOF)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Dedup.shingleRows(docs, "doc_id", "text", 3)
    val p = plan(rows)
    // transform()/aggregate() would appear as interpreted lambda exprs;
    // the codegen path is explode (Generate) + element_at/concat_ws
    assert(!p.contains("transform("), s"interpreted HOF in shingle path:\n$p")
    assert(p.contains("Generate") && p.contains("element_at"), s"unexpected shape:\n$p")
  }

  test("PII redaction is a shuffle-free scan (no Exchange in the plan)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.TextAnalysis.redactPii(docs))
    assert(!p.contains("Exchange"), s"redaction should run at scan speed:\n$p")
    assert(p.contains("[codegen id"), s"regex chain fell out of codegen:\n$p")
  }

  test("span dedup: duplicated-gram detection partial-aggregates map-side " +
    "and joins positions on the gram hash, never all-pairs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.duplicatedSpans(docs, "doc_id", "text", 4))
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"gram (min,max) aggregate not map-side combined:\n$p")
    assert(p.contains("LeftSemi"), s"position marking should be a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"all-pairs shape in span dedup:\n$p")
  }

  test("paragraph dedup first-occurrence is a skew-safe aggregate, never a window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.paragraphDedup(docs, "doc_id", "text"))
    // a row_number window partitioned by paragraph hash would serialize a
    // boilerplate paragraph's entire occurrence set into one task; the
    // canonical pick must be a map-side-combinable min(struct) aggregate
    // feeding an AQE-skew-splittable join-back
    assert(!p.contains("Window"), s"hot-key window in paragraph dedup:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"canonical-occurrence aggregate not map-side combined:\n$p")
  }

  test("exhaustive Jaccard and dedup-resolution avoid hot-key windows") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // shingle-df / set-size counting must be aggregates, not windows
    // over the shingle key (a boilerplate gram would serialize)
    val pj = plan(graft.operators.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.5))
    assert(!pj.contains("Window"), s"hot-key window in Jaccard counting:\n$pj")
    // survivor pick per component must be the min-struct aggregate (a
    // boilerplate mega-cluster is one component)
    import org.apache.spark.sql.functions.col
    val pairs = graft.operators.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.5).select("id1", "id2")
    val pr = plan(graft.operators.Sampling.resolveDuplicates(
      pairs, graft.operators.TextAnalysis.qualityScore(docs)))
    assert(!pr.contains("Window"), s"hot-key window in dedup resolution:\n$pr")
  }

  test("budget sampling's heavy window is bucketed, never per-group only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Sampling.budgetSample(
      docs, "doc_id", "lang", "n_chars", Map("en" -> 1000L)))
    // the corpus-scale cumsum must partition on (group, bucket) — a
    // bare per-group window would sort the dominant language in one
    // task; only the ≤256-rows-per-group bucket-prefix window may
    // partition on the group alone (it runs over the AGGREGATED table)
    val windowSpecs = "Window".r.findAllMatchIn(p).size
    assert(p.contains("__bkt"), s"bucketed cumsum missing from plan:\n$p")
    assert(windowSpecs >= 2, s"expected local+prefix windows:\n$p")
  }

  test("top-k per group salts its corpus-scale ranking window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Sampling.topKPerGroup(
      docs, "lang", "n_chars", k = 3, tieCol = "doc_id"))
    // the window over the raw corpus must partition on (group, salt);
    // only the bounded phase-2 re-rank may partition on the group alone
    assert(p.contains("__salt"), s"unsalted corpus-scale ranking:\n$p")
  }

  test("composed curation pipeline plans clean: no cartesian, benchmark " +
    "grams broadcast, semi/anti joins for the gates") {
    val df = graft.queries.PipelineQueries
      .queries("tx13_curation_pipeline")(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in composed plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"benchmark gram set not broadcast:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"gates should be semi/anti joins:\n$p")
  }

  test("co-bucketed tables join with zero exchanges; one-sided bucketing " +
    "shuffles only the other side") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val edges = (0L until 2000L).map(i => (i % 100, (i * 7) % 100))
      .toDF("src", "dst")
    val nodes = (0L until 100L).map(i => (i, s"n$i")).toDF("id", "name")
    graft.etl.BucketedGraphStore.writeBucketed(edges, "bgs_edges",
      Seq("src"), buckets = 8, sortCols = Seq("src"))
    graft.etl.BucketedGraphStore.writeBucketed(nodes, "bgs_nodes",
      Seq("id"), buckets = 8, sortCols = Seq("id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val both = graft.etl.BucketedGraphStore.table(spark, "bgs_nodes")
        .join(graft.etl.BucketedGraphStore.table(spark, "bgs_edges"),
          col("id") === col("src"))
      val pBoth = plan(both)
      assert(!pBoth.contains("Exchange"),
        s"co-bucketed join should not shuffle either side:\n$pBoth")
      assert(both.count() == 2000L)
      // one-sided: a plain frame joins the bucketed edges — exactly one
      // exchange (the plain side); the bucketed scan is never shuffled
      val plain = (0L until 100L).map(i => (i, i * 2)).toDF("id", "w")
      val one = plain.join(
        graft.etl.BucketedGraphStore.table(spark, "bgs_edges"),
        col("id") === col("src"))
      val pOne = plan(one)
      // count tree nodes only (the formatted detail section repeats
      // each operator name once more)
      val exchanges = pOne.linesIterator.count(l =>
        l.matches(""".*[+:]- Exchange .*""") && !l.contains("Reused"))
      assert(exchanges == 1,
        s"expected exactly the plain side to shuffle, got $exchanges:\n$pOne")
      assert(one.count() == 2000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bgs_edges")
      spark.sql("DROP TABLE IF EXISTS bgs_nodes")
    }
  }

  test("pagerank's edge-side build over a bucketed edge table is exchange-free") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val edges = (0L until 2000L).map(i => (i % 100, (i * 7) % 100))
      .toDF("src", "dst")
    graft.etl.BucketedGraphStore.writeBucketed(edges, "bgs_pr_edges",
      Seq("src"), buckets = 8, sortCols = Seq("src"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // edges ⋈ per-src outdegree (the weight split pageRank's
      // adjacency holds) — over a bucketed table BOTH the aggregate and
      // the self-join run on co-located buckets, so the build never
      // shuffles the edge table at all
      val e = graft.etl.BucketedGraphStore.table(spark, "bgs_pr_edges")
      val od = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val w = e.join(od, Seq("src"))
        .select(col("src").as("node"), col("dst"), col("outdeg"))
      val p = plan(w)
      assert(!p.contains("Exchange"),
        s"bucketed pagerank build should not shuffle the edge table:\n$p")
      assert(w.count() == 2000L)
      // and the per-iteration rank update over that operand agrees with
      // the plain-frame operator end-to-end
      val viaBucketed = graft.operators.GraphAlgos.pageRank(e, iterations = 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val viaPlain = graft.operators.GraphAlgos.pageRank(edges, iterations = 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(viaBucketed.keySet == viaPlain.keySet)
      viaPlain.foreach { case (k, v) =>
        assert(math.abs(viaBucketed(k) - v) < 1e-12) }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bgs_pr_edges")
    }
  }

  test("compiled Cypher hop over a bucketed edge table keeps the shuffle elision " +
    "through the var-prefix renames") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val people = (0L until 100L).map(i => (i, s"p$i")).toDF("pid", "name")
    val knows = (0L until 2000L).map(i => (i % 100, (i * 13) % 100))
      .toDF("src", "dst")
    graft.etl.BucketedGraphStore.writeBucketed(people, "bgs_people",
      Seq("pid"), buckets = 8, sortCols = Seq("pid"))
    graft.etl.BucketedGraphStore.writeBucketed(knows, "bgs_knows",
      Seq("src"), buckets = 8, sortCols = Seq("src"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val catalog = new graft.model.GraphCatalog()
        .addEntity("Person", graft.etl.BucketedGraphStore.table(spark, "bgs_people"),
          idCol = "pid")
        .addRelationship("KNOWS", graft.etl.BucketedGraphStore.table(spark, "bgs_knows"),
          srcCol = "src", dstCol = "dst",
          srcLabel = Some("Person"), dstLabel = Some("Person"))
      val df = new CypherEngine(spark, catalog).query(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS an, b.name AS bn")
      val p = plan(df)
      // the a↔KNOWS join is keyed on the bucketed src: the node scan is
      // bucketed on pid with the same count, so NEITHER side of that
      // first join may shuffle; only the dst-side join is allowed an
      // exchange. Tree-node count: ≤ 2 exchanges total (dst probe + b
      // side), and the bucketed edge scan must not sit under one keyed
      // on src.
      val exchanges = p.linesIterator.count(l =>
        l.matches(""".*[+:]- Exchange .*""") && !l.contains("Reused"))
      assert(exchanges <= 2, s"hop over bucketed tables shuffled everything:\n$p")
      assert(!p.contains("hashpartitioning(src#"),
        s"edge src side re-shuffled despite bucketing:\n$p")
      assert(df.count() == 2000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bgs_people")
      spark.sql("DROP TABLE IF EXISTS bgs_knows")
    }
  }

  test("bucket layout survives a catalog snapshot: a bucketed-edge " +
    "catalog round-tripped through CatalogStore.save/load still plans " +
    "co-located joins with zero exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val people = (0L until 100L).map(i => (i, s"p$i")).toDF("pid", "name")
    val knows = (0L until 2000L).map(i => (i % 100, (i * 13) % 100))
      .toDF("src", "dst")
    graft.etl.BucketedGraphStore.writeBucketed(people, "bgs_rt_people",
      Seq("pid"), buckets = 8, sortCols = Seq("pid"))
    graft.etl.BucketedGraphStore.writeBucketed(knows, "bgs_rt_knows",
      Seq("src"), buckets = 8, sortCols = Seq("src"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt_cat")
      .toFile.getAbsolutePath
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val catalog = new graft.model.GraphCatalog()
        .addEntity("Person",
          graft.etl.BucketedGraphStore.table(spark, "bgs_rt_people"),
          idCol = "pid")
        .addRelationship("KNOWS",
          graft.etl.BucketedGraphStore.table(spark, "bgs_rt_knows"),
          srcCol = "src", dstCol = "dst",
          srcLabel = Some("Person"), dstLabel = Some("Person"))
      graft.model.CatalogStore.save(spark, catalog, dir)
      val reloaded = graft.model.CatalogStore.load(spark, dir)
      // the reloaded tables must CARRY the bucket spec — the pid=src
      // join plans with zero exchanges, exactly as pre-snapshot
      // (before the manifest recorded specs, this silently degraded
      // to two full shuffles)
      val joined = reloaded.entity("Person").df
        .join(reloaded.relationship("KNOWS").df, col("pid") === col("src"))
      val p = plan(joined)
      assert(!p.contains("Exchange"),
        s"snapshot round-trip lost the bucket layout:\n$p")
      assert(joined.count() == 2000L)
      // and the compiled-Cypher hop inherits it, same as pre-snapshot
      val hop = new CypherEngine(spark, reloaded).query(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS an, b.name AS bn")
      val ph = plan(hop)
      assert(!ph.contains("hashpartitioning(src#"),
        s"edge src side re-shuffled after snapshot reload:\n$ph")
      assert(hop.count() == 2000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bgs_rt_people")
      spark.sql("DROP TABLE IF EXISTS bgs_rt_knows")
    }
  }

  test("pattern comprehension compiles to one grouped collect + one join-back") {
    val df = TpchGraph.engine(spark, dir).query(
      """MATCH (r:Region)
         RETURN r.r_name AS name, size([(n:Nation)-[:IN_REGION]->(r) | n.n_name]) AS k""")
    val p = plan(df)
    // a per-row subquery would show repeated aggregates; the hoisted form
    // has exactly one collect_list aggregate pair (partial + final)
    val collects = p.linesIterator.count(_.contains("collect_list"))
    assert(collects > 0 && collects <= 4, s"unexpected collect_list count $collects:\n$p")
    assert(p.contains("Join LeftOuter") || p.contains("LeftOuter"),
      s"no left join-back:\n$p")
  }

  test("interval join plans as an equi-join: no nested-loop, no cartesian") {
    val df = RelationalQueries.queries("q35_interval_join")(spark, dir)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join fell back to a product join:\n$p")
    assert(p.contains("Join") || p.contains("HashJoin"), s"no join at all:\n$p")
  }

  test("bloom semi join: might_contain prefilter sits in the scan stage, " +
       "before any exchange") {
    val df = RelationalQueries.queries("q34_bloom_semijoin")(spark, dir)
    val p = plan(df)
    assert(p.contains("might_contain"), s"no bloom prefilter in plan:\n$p")
    // the prefilter must appear in the lineitem branch BEFORE its first
    // exchange: in formatted explain, the Filter node carrying
    // might_contain must reference the parquet scan subtree directly
    val lines = p.linesIterator.toVector
    val filterIdx = lines.indexWhere(_.contains("might_contain"))
    assert(filterIdx >= 0)
    // cheap structural proxy: the plan still broadcasts or shuffles the
    // dim side somewhere AFTER the filter line (filter not post-join)
    assert(lines.drop(filterIdx).exists(l =>
        l.contains("Exchange") || l.contains("Broadcast")),
      s"bloom filter appears after all exchanges (post-join?):\n$p")
  }

  test("fuzzy index probe BROADCASTS the batch's deletion hood: the " +
    "at-rest index side streams through one scan, never a shuffle") {
    import graft.operators.Dedup
    import spark.implicits._
    val idx = s"${java.nio.file.Files.createTempDirectory("graft_fzp")}/index"
    Dedup.fuzzyIndexPut(spark, idx,
      Seq("martha stewart", "david bowie", "someone else").toDF("k"),
      "k", batch = 0L, maxDist = 1)
    val probe = Seq((1L, "martha stewar"), (2L, "unrelated")).toDF("id", "s")
    val df = Dedup.fuzzyIndexMatches(spark, idx, probe, "id", "s")
    val p = plan(df)
    // the size gate must have forced the broadcast: a sort-merge
    // fallback here means the INDEX side gets shuffled — at 100 TB the
    // exact cost the index-at-rest layout exists to avoid
    assert(p.contains("BroadcastHashJoin"), s"no broadcast in probe:\n$p")
    assert(df.count() == 1L)
  }

  test("zorder re-layout is one range exchange + local sort, no global sort") {
    import org.apache.spark.sql.functions._
    val base = spark.range(0, 1000).toDF("x").withColumn("y", col("x") * 7 % 1000)
    val df = graft.operators.Layout.zorder(base, Seq(col("x"), col("y")), 10, 8)
    val p = plan(df)
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      s"no range exchange:\n$p")
    // the sort must be local (within partitions): formatted explain marks
    // global sorts with "Sort [global=true" / local with global=false
    assert(!p.contains("global=true"), s"global sort in layout plan:\n$p")
  }
}
