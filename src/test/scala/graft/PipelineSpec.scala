package graft

import java.nio.file.Files

import graft.etl.{PipelineConfig, PipelineRunner}
import graft.operators.IndexStore

/** ETL runner parity (`nmetl run` / `validate`, SURVEY §3.2) against
  * the reference's fixture shapes (FIXTURES §A.3/§A.4).
  */
class PipelineSpec extends SparkSpec {

  private def tmpDir: String =
    Files.createTempDirectory("graft_etl").toFile.getAbsolutePath

  private def writeFixtures(dir: String): Unit = {
    // sample.csv / pipe variant / json-lines — reference fixture shapes
    Files.writeString(java.nio.file.Paths.get(s"$dir/people.csv"),
      "id,name,age,company_id\n1,Alice,30,10\n2,Bob,25,10\n3,Carol,35,11\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/companies.psv.csv"),
      "id|name\n10|Acme\n11|Globex\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/works.jsonl"),
      """{"id":1,"src":1,"dst":10}
        |{"id":2,"src":2,"dst":10}
        |{"id":3,"src":3,"dst":11}
        |""".stripMargin)
  }

  private def yaml(dir: String, out: String): String =
    s"""version: 1
       |project:
       |  name: test_pipeline
       |  description: fixture pipeline
       |sources:
       |  entities:
       |    - id: people
       |      uri: file://$dir/people.csv
       |      entity_type: Person
       |      id_col: id
       |      schema_hints: {age: BIGINT}
       |    - id: companies
       |      uri: $dir/companies.psv.csv
       |      entity_type: Company
       |      id_col: id
       |  relationships:
       |    - id: works
       |      uri: $dir/works.jsonl
       |      relationship_type: WORKS_AT
       |      source_col: src
       |      target_col: dst
       |      id_col: id
       |queries:
       |  - id: summary
       |    inline: |
       |      MATCH (p:Person)-[:WORKS_AT]->(c:Company)
       |      RETURN c.name AS company, count(p) AS n, round(avg(p.age), 1) AS avg_age
       |  - id: adults
       |    inline: "MATCH (p:Person) WHERE p.age >= 30 RETURN p.name AS name"
       |output:
       |  - query_id: summary
       |    uri: $out/summary.csv
       |    format: csv
       |""".stripMargin

  test("full pipeline: csv/pipe-csv/jsonl sources -> cypher -> csv sink") {
    val dir = tmpDir; val out = tmpDir
    writeFixtures(dir)
    val config = PipelineConfig.parse(yaml(dir, out))
    assert(config.name == "test_pipeline" && config.entities.size == 2)

    val result = PipelineRunner.run(spark, config)
    val summary = result.queries("summary").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // pipe-delimited csv parsed, WORKS_AT json edges joined
    assert(summary == Map("Acme" -> ((2L, 27.5)), "Globex" -> ((1L, 35.0))))
    assert(result.outputsWritten == Seq(s"$out/summary.csv"))
    val written = spark.read.option("header", "true").csv(s"$out/summary.csv")
    assert(written.count() == 2)
  }

  test("curation stages run from YAML: gate -> dedup -> budget, chained " +
    "decontamination, sink written") {
    import spark.implicits._
    val dir = tmpDir; val out = tmpDir
    // distinct-word text so quality (ttr x length saturation) is high
    val wordsA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val wordsB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val nearA = (1 to 39).map(i => s"alpha$i").mkString(" ") + " changed"
    Seq(
      (1L, wordsA),            // survives everything
      (2L, wordsA),            // exact dup of 1 -> exact_dedup drops
      (3L, nearA),             // near-dup of 1 -> minhash_dedup drops
      (4L, "a a a a a"),       // low quality -> quality_gate drops
      (5L, wordsB)             // survives gate+dedup; decontaminated later
    ).toDF("doc_id", "text").write.parquet(s"$dir/docs.parquet")
    Seq((100L, wordsB)).toDF("doc_id", "text")
      .write.parquet(s"$dir/bench.parquet")
    val cfg = PipelineConfig.parse(
      s"""project:
         |  name: curation_test
         |curation:
         |  - id: curated
         |    input: file://$dir/docs.parquet
         |    stages:
         |      - op: quality_gate
         |        min_quality: 0.5
         |      - op: exact_dedup
         |      - op: minhash_dedup
         |      - op: token_budget
         |        budget: 1000
         |    output: file://$out/curated.parquet
         |  - id: decontaminated
         |    input: curated
         |    stages:
         |      - op: decontaminate
         |        benchmark_uri: file://$dir/bench.parquet
         |""".stripMargin)
    assert(cfg.curation.size == 2 && cfg.curation.head.stages.size == 4)
    val result = PipelineRunner.run(spark, cfg)
    val curated = result.queries("curated").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(curated == Set(1L, 5L), s"curated = $curated")
    // chained pipeline consumed the first one's frame, then dropped the
    // benchmark-contaminated doc
    val decon = result.queries("decontaminated").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(decon == Set(1L), s"decontaminated = $decon")
    // the inline sink wrote the curated frame
    assert(result.outputsWritten.contains(s"file://$out/curated.parquet"))
    val written = spark.read.parquet(s"$out/curated.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(written == Set(1L, 5L))
  }

  test("minhash_dedup stage: ledger_dir appends the routing row and " +
    "the YAML thresholds reach the router") {
    import graft.etl.{CurationStages, CurationStageDef}
    import spark.implicits._
    val led = s"${java.nio.file.Files.createTempDirectory("graft_mdl")}/led"
    val docs = ((0 until 30).map(k => (k.toLong, "the same clone body here")) ++
      Seq((100L, "something else entirely different words"),
          (101L, "a third unrelated document body text"))).toSeq
      .toDF("doc_id", "text")
    val out = CurationStages.apply(spark, docs, "doc_id", "text",
      CurationStageDef("minhash_dedup", Map(
        "threshold" -> "0.5", "ledger_dir" -> led, "sample_sixteenths" -> "16",
        "clone_ratio_threshold" -> "0.5", "max_sampled_group" -> "1000000")))
    // one survivor from the 30-clone group + the two distinct docs
    assert(out.count() == 3L)
    val row = spark.read.parquet(led).collect().head
    // clone_ratio ≈ 0.9 >= the YAML-raised 0.5 → thin; the raised
    // max_sampled_group proves the param flowed (1e6 can't trigger)
    assert(row.getAs[String]("route") == "thin", row)
    assert(row.getAs[Double]("clone_ratio_threshold") == 0.5)
    assert(row.getAs[Long]("max_group_threshold") == 1000000L)
    // a threshold > 1 fails at stage level, before any route runs
    intercept[IllegalArgumentException] {
      CurationStages.apply(spark, docs, "doc_id", "text",
        CurationStageDef("minhash_dedup", Map("threshold" -> "1.5"))).count()
    }
  }

  test("curation stages: pii_redact rewrites text in place; sample and " +
    "langid filter rows; unknown op rejected") {
    import spark.implicits._
    import graft.etl.{CurationPipelineDef, CurationStageDef, CurationStages}
    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog were friends with the cat"),
      (2L, "reach me at bob@example.com or 415-555-0199 for the details"),
      (3L, "der schnelle braune fuchs und der faule hund sind die freunde")
    ).toDF("doc_id", "text")
    val red = CurationStages(spark, docs, "doc_id", "text",
      CurationStageDef("pii_redact", Map.empty))
    assert(red.columns.toSet == Set("doc_id", "text"))
    val t2 = red.filter($"doc_id" === 2L).select("text").head().getString(0)
    assert(t2.contains("<EMAIL>") && t2.contains("<PHONE>") &&
      !t2.contains("example.com"))
    val en = CurationStages(spark, docs, "doc_id", "text",
      CurationStageDef("langid_filter", Map("allow" -> "en")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(en.contains(1L) && !en.contains(3L), s"en = $en")
    val sampled = CurationStages(spark, docs, "doc_id", "text",
      CurationStageDef("sample", Map("sixteenths" -> "16")))
    assert(sampled.count() == 3L) // 16/16 keeps everything
    val err = intercept[IllegalArgumentException] {
      CurationStages(spark, docs, "doc_id", "text",
        CurationStageDef("nope", Map.empty))
    }
    assert(err.getMessage.contains("unknown curation op"))
    // a budget cut keeps the hash-order prefix within the token budget
    val budgeted = CurationStages(spark, docs, "doc_id", "text",
      CurationStageDef("token_budget", Map("budget" -> "13")))
    val kept = budgeted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < 3, s"kept = $kept")
    assert(budgeted.columns.toSet == Set("doc_id", "text"))
    // span_cut rewrites a boilerplate-sharing doc's text; the canonical
    // (lowest id,pos) occurrence keeps its copy
    val boiler = "subscribe to our newsletter for updates"
    val spanDocs = Seq(
      (1L, s"unique alpha words here $boiler"),
      (2L, s"$boiler and other beta content follows")).toDF("doc_id", "text")
    val cut = CurationStages(spark, spanDocs, "doc_id", "text",
        CurationStageDef("span_cut", Map("min_span" -> "4")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(cut(1L).contains("subscribe"), cut(1L))   // canonical survives
    assert(!cut(2L).contains("newsletter"), cut(2L)) // duplicate cut
    assert(cut(2L).contains("beta content"), cut(2L))
    // paragraph_dedup keeps the first occurrence of a repeated paragraph
    val paraDocs = Seq(
      (1L, "intro text\nshared legal footer"),
      (2L, "different body\nshared legal footer")).toDF("doc_id", "text")
    val pd = CurationStages(spark, paraDocs, "doc_id", "text",
        CurationStageDef("paragraph_dedup", Map.empty))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(pd(1L).contains("shared legal footer"), pd(1L))
    assert(!pd(2L).contains("footer"), pd(2L))
  }

  test("curation fuzzy_dedup stage: auto-routed edit-distance dedup keeps " +
    "one representative per fuzzy cluster and writes the routing ledger") {
    import spark.implicits._
    import graft.etl.{CurationStageDef, CurationStages}
    val ledgerDir = s"$tmpDir/ledger"
    // short-key corpus (the stage's use case: titles/names/urls):
    // {1,2,3} within distance 1 of each other, 4 distinct, 5 an exact
    // dup of 4 (distance 0 — same cluster)
    val keys = Seq(
      (1L, "acme corporation"),
      (2L, "acme corporatio"),   // deletion
      (3L, "acmé corporation"),  // substitution
      (4L, "globex industries"),
      (5L, "globex industries")
    ).toDF("doc_id", "text")
    val kept = CurationStages(spark, keys, "doc_id", "text",
        CurationStageDef("fuzzy_dedup",
          Map("max_dist" -> "1", "ledger_dir" -> ledgerDir)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L), kept)
    val ledger = spark.read.parquet(ledgerDir).collect()
    assert(ledger.length == 1)
    assert(ledger.head.getAs[String]("tier") == "exact") // entropy route
  }

  test("curation semantic_dedup stage: embedding near-dups resolve to the " +
    "SemDeDup canonical; text columns pass through untouched") {
    import spark.implicits._
    import graft.etl.{CurationStageDef, CurationStages}
    val docs = Seq(
      (1L, "first doc", Seq(1.0, 0.0)),
      (2L, "near dup of first", Seq(0.999, 0.01)),
      (3L, "orthogonal doc", Seq(0.0, 1.0)))
      .toDF("doc_id", "text", "emb")
    val kept = CurationStages(spark, docs, "doc_id", "text",
      CurationStageDef("semantic_dedup",
        Map("vec_col" -> "emb", "tau" -> "0.95", "nlist" -> "1")))
    assert(kept.columns.toSet == Set("doc_id", "text", "emb"))
    // SemDeDup keeps the LOWEST-centroid-similarity member of each
    // neighborhood (farthest from centroid — the diversity rule of
    // Abbas et al. 2023, dd14's oracle): centroid is vector 1, so the
    // slightly-off near-dup 2 survives and 1 drops. The STREAMING
    // semantic_dedup arm keeps min-id instead (arrival order — a crawl
    // cannot re-rank history), documented on semanticCrawlBatch.
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
    // missing vec_col is a clear error, not a late analysis failure
    val err = intercept[IllegalArgumentException] {
      CurationStages(spark, docs, "doc_id", "text",
        CurationStageDef("semantic_dedup", Map.empty))
    }
    assert(err.getMessage.contains("vec_col"))
  }

  test("curation span_cut and paragraph_dedup pass empty / delimiter-only " +
    "docs through unchanged (rewrite stages never drop rows)") {
    import spark.implicits._
    import graft.etl.{CurationStageDef, CurationStages}
    val boiler = "subscribe to our newsletter for updates"
    val docs = Seq(
      (1L, s"unique alpha words here $boiler"),
      (2L, s"$boiler and other beta content follows"),
      (3L, ""),      // token-less: no span_cut output row
      (4L, "\n\n")   // delimiter-only: no paragraph_dedup output row
    ).toDF("doc_id", "text")
    val cut = CurationStages(spark, docs, "doc_id", "text",
        CurationStageDef("span_cut", Map("min_span" -> "4")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(cut.keySet == Set(1L, 2L, 3L, 4L), cut.keySet)
    // doc 3 survives; doc 4 survives as its token-stream rebuild (the
    // stage's documented whitespace-collapse — the point is no DROP)
    assert(cut(3L) == "", cut(3L))
    assert(!cut(2L).contains("newsletter"), cut(2L)) // rewrite still happens
    val pd = CurationStages(spark, docs, "doc_id", "text",
        CurationStageDef("paragraph_dedup", Map.empty))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(pd.keySet == Set(1L, 2L, 3L, 4L), pd.keySet)
    assert(pd(3L) == "" && pd(4L) == "\n\n")
  }

  test("audit_uri: a run leaves a queryable parquet audit artifact") {
    val dir = tmpDir; val out = tmpDir
    writeFixtures(dir)
    val config = PipelineConfig.parse(
      s"""project: {name: audited, audit_uri: $out/_audit}
         |sources:
         |  entities:
         |    - {id: people, uri: $dir/people.csv, entity_type: Person, id_col: id}
         |queries:
         |  - {id: adults, inline: "MATCH (p:Person) WHERE p.age >= 30 RETURN p.name AS name"}
         |  - {id: everyone, inline: "MATCH (p:Person) RETURN p.name AS name, p.age AS age"}
         |output:
         |  - {query_id: adults, uri: $out/adults.parquet}
         |  - {query_id: everyone, uri: $out/everyone.parquet}
         |""".stripMargin)
    assert(config.auditUri.contains(s"$out/_audit"))
    PipelineRunner.run(spark, config)
    val audit = IndexStore.side(spark, out, "_audit")
    // one caller-timed row per sink write, labeled with its pipeline
    // query id and successful
    val sinks = audit.filter("action like 'sink:%' and status = 'success'")
      .select("label").collect().map(_.getString(0)).toSet
    assert(sinks == Set("adults", "everyone"))
    // the listener recorded the underlying write actions too (plan
    // hash + shuffle metrics rows, label-independent)
    assert(audit.count() >= 2)
    // the listener is detached after the run: further actions on the
    // session must not grow a flushed-and-finished audit
    spark.range(3).count()
    org.apache.spark.sql.graftshim.ListenerBridge.waitUntilEmpty(spark, 5000L)
    assert(IndexStore.side(spark, out, "_audit").count() == audit.count())
    // audit_daily: true lays the sink out day-partitioned so
    // retention-bounded analytics (regressions sinceMillis) can prune
    val config2 = PipelineConfig.parse(
      s"""project: {name: audited2, audit_uri: $out/_daudit, audit_daily: true}
         |sources:
         |  entities:
         |    - {id: people, uri: $dir/people.csv, entity_type: Person, id_col: id}
         |queries:
         |  - {id: adults, inline: "MATCH (p:Person) WHERE p.age >= 30 RETURN p.name AS name"}
         |output:
         |  - {query_id: adults, uri: $out/adults2.parquet}
         |""".stripMargin)
    assert(config2.auditDaily)
    PipelineRunner.run(spark, config2)
    val daily = IndexStore.side(spark, out, "_daudit")
    assert(daily.columns.contains("audit_date"))
    assert(daily.count() >= 1)
  }

  test("audit survives a failing sink: the failure row is flushed") {
    val dir = tmpDir; val out = tmpDir
    writeFixtures(dir)
    val config = PipelineConfig.parse(
      s"""project: {name: audited_fail, audit_uri: $out/_audit}
         |sources:
         |  entities:
         |    - {id: people, uri: $dir/people.csv, entity_type: Person, id_col: id}
         |queries:
         |  - {id: q, inline: "MATCH (p:Person) RETURN p.name AS name"}
         |output:
         |  - {query_id: q, uri: $out/bad.xyz, format: nope}
         |""".stripMargin)
    intercept[IllegalArgumentException](PipelineRunner.run(spark, config))
    val audit = IndexStore.side(spark, out, "_audit")
    val fail = audit.filter("status = 'failure' and label = 'q'").collect()
    assert(fail.length == 1 && fail.head.getAs[String]("error").contains("nope"))
  }

  test("ScaleData replication preserves FK structure and fixes dims") {
    val out = tmpDir
    ScaleData.ensure(spark, "/root/testdata/sf0.001", out, replicas = 2)
    def t(n: String) = spark.read.parquet(s"$out/$n.parquet")
    def src(n: String) = spark.read.parquet(s"/root/testdata/sf0.001/$n.parquet")
    val (cust, ord, li, part, nat) =
      (t("customer"), t("orders"), t("lineitem"), t("part"), t("nation"))
    // replicas are disjoint FK-closed subgraphs: no dangling keys
    assert(ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti").isEmpty)
    assert(li.join(part, li("l_partkey") === part("p_partkey"), "left_anti").isEmpty)
    assert(li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti").isEmpty)
    // nation-keyed FKs stay valid against the FIXED dimension
    assert(cust.join(nat, cust("c_nationkey") === nat("n_nationkey"), "left_anti").isEmpty)
    // counts: facts scale, dims do not
    assert(li.count() == 2 * src("lineitem").count())
    assert(nat.count() == src("nation").count())
    // replica documents are near-dups (marker token), not exact dups
    val d = t("documents")
    assert(d.count() == 2 * src("documents").count())
    assert(d.filter(org.apache.spark.sql.functions.col("text")
      .endsWith(" replica1")).count() == src("documents").count())
  }

  test("env substitution and missing-var error") {
    assert(PipelineConfig.substituteEnv("path: ${HOME_X}/f", Map("HOME_X" -> "/tmp")) ==
      "path: /tmp/f")
    assertThrows[IllegalArgumentException](
      PipelineConfig.substituteEnv("${NOPE_VAR}", Map.empty))
  }

  test("dependency reordering: consumer runs after producer") {
    val dir = tmpDir
    writeFixtures(dir)
    val config = PipelineConfig.parse(
      s"""project: {name: dep}
         |sources:
         |  entities:
         |    - {id: people, uri: $dir/people.csv, entity_type: Person, id_col: id}
         |queries:
         |  - id: reads_derived
         |    inline: "MATCH (s:Senior) RETURN count(*) AS n"
         |  - id: makes_derived
         |    inline: "MATCH (p:Person) WHERE p.age >= 30 CREATE (s:Senior {name: p.name})"
         |""".stripMargin)
    val result = PipelineRunner.run(spark, config)
    // would throw "unknown label: Senior" if run in config order
    assert(result.queries("reads_derived").collect().head.getLong(0) == 2L)
  }

  test("validate reports problems without running") {
    val dir = tmpDir
    writeFixtures(dir)
    val bad = PipelineConfig.parse(
      s"""project: {name: bad}
         |sources:
         |  entities:
         |    - {id: ghost, uri: $dir/missing.csv, entity_type: X, id_col: id}
         |queries:
         |  - {id: broken, inline: "MATCH (p:Person RETURN p"}
         |output:
         |  - {query_id: nosuch, uri: /tmp/x.csv}
         |""".stripMargin)
    val problems = PipelineRunner.validate(spark, bad)
    assert(problems.exists(_.contains("file not found")))
    assert(problems.exists(_.startsWith("query broken")))
    assert(problems.exists(_.contains("unknown query_id")))
  }

  test("schema evolution: drift detection, compatibility verdicts, lineage versions") {
    import graft.etl.SchemaEvolution
    val dir = tmpDir
    val out = tmpDir
    val base = tmpDir
    writeFixtures(dir)
    val config = PipelineConfig.parse(yaml(dir, out))
    // baseline: first snapshot of every source, version 1
    val snaps = PipelineRunner.snapshotSchemas(spark, config, base)
    assert(snaps.map(_._2).forall(_ == 1) && snaps.map(_._1).toSet ==
      Set("people", "companies", "works"))
    // unchanged source → verdict unchanged, no drift entries
    val r0 = PipelineRunner.driftReports(spark, config, base)
    assert(r0.forall(r => r.verdict == "unchanged" && r.drifts.isEmpty))
    assert(PipelineRunner.validate(spark, config, Some(base)).isEmpty)

    // drift the people source: drop `age` (breaking), add `email`
    // (compatible) — schema_hints still cast age, so remove the hint too
    Files.writeString(java.nio.file.Paths.get(s"$dir/people.csv"),
      "id,name,company_id,email\n1,Alice,10,a@x\n2,Bob,10,b@x\n3,Carol,11,c@x\n")
    val drifted = PipelineConfig.parse(yaml(dir, out)
      .replace("      schema_hints: {age: BIGINT}\n", ""))
    val rep = PipelineRunner.driftReports(spark, drifted, base)
      .find(_.sourceId == "people").get
    assert(rep.verdict == "breaking" && rep.baselineVersion == 1)
    assert(rep.drifts.exists(d => d.column == "age" && d.kind == "removed" &&
      d.compatibility == "breaking"))
    assert(rep.drifts.exists(d => d.column == "email" && d.kind == "added" &&
      d.compatibility == "compatible"))
    val problems = PipelineRunner.validate(spark, drifted, Some(base))
    assert(problems.exists(p => p.contains("people") &&
      p.contains("breaking schema drift")), problems.mkString("; "))

    // widening retype grades as compatible evolution, not breaking
    val v1 = new org.apache.spark.sql.types.StructType()
      .add("id", "int", nullable = false).add("score", "int")
    val v2 = new org.apache.spark.sql.types.StructType()
      .add("id", "int", nullable = true).add("score", "bigint")
    val ds = SchemaEvolution.diff(v1, v2)
    assert(ds.map(d => (d.column, d.kind, d.compatibility)).toSet == Set(
      ("id", "nullability", "widening"), ("score", "retyped", "widening")))
    // lineage: snapshotting again appends version 2 and check compares
    // against the LATEST version
    SchemaEvolution.snapshot(base, "people", v1)
    assert(SchemaEvolution.latest(base, "people").get._1 == 2)
    assert(SchemaEvolution.check(base, "people", v2).verdict == "compatible")
  }

  test("schema merger: 3 drifted sources widen to one readable superset; " +
    "conflicts are reported per strategy") {
    import graft.etl.SchemaMerger
    import org.apache.spark.sql.types._
    // three drifting feeds of the same logical table: age int → bigint →
    // string-typed export; email appears in only two; score int vs double
    val s1 = new StructType()
      .add("id", "int", nullable = false).add("age", "int")
      .add("score", "int")
    val s2 = new StructType()
      .add("id", "int", nullable = false).add("age", "bigint")
      .add("email", "string").add("score", "double")
      .add("tags", ArrayType(StringType))
    val s3 = new StructType()
      .add("id", "bigint", nullable = false).add("age", "string")
      .add("email", "string").add("score", "int")
      .add("tags", "string")
    val m = SchemaMerger.merge(Seq(s1, s2, s3))
    // id widens int→bigint and stays required (present, non-null everywhere)
    assert(m.schema("id").dataType == LongType && !m.schema("id").nullable)
    // {int, bigint, string}: string IS the legal widening target (every
    // atomic type up-casts to string under Catalyst's rules)
    assert(m.schema("age").dataType == StringType)
    // email missing from s1 → nullable in the merge
    assert(m.schema("email").nullable)
    // int up-casts to double → widened (double beats string: narrowest wins)
    assert(m.schema("score").dataType == DoubleType)
    // array<string> vs string has NO up-cast path either way → fallback
    assert(m.schema("tags").dataType == StringType)
    assert(m.conflicts.map(c => c.column -> c.resolution).toSet == Set(
      "id" -> "widened", "age" -> "widened", "score" -> "widened",
      "tags" -> "string_fallback"))
    assert(m.lossy.map(_.column) == Seq("tags"))
    // every source reads losslessly under the merged schema (data check):
    // union-by-name after casting to the merge must round-trip each feed
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val d1 = Seq((1, 30, 10)).toDF("id", "age", "score")
    val casted = d1.select(m.schema.fields.map(f =>
      (if (d1.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    assert(casted.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      m.schema.fields.map(f => f.name -> f.dataType).toSeq)
    assert(casted.collect().head.toSeq == Seq(1L, "30", 10.0, null, null))
    // strategy variants
    assert(SchemaMerger.merge(Seq(s1, s3), SchemaMerger.PreferFirst)
      .schema("age").dataType == IntegerType)
    assert(SchemaMerger.merge(Seq(s1, s3), SchemaMerger.PreferLast)
      .schema("age").dataType == StringType)
    intercept[IllegalArgumentException] {
      SchemaMerger.merge(Seq(s1, s3), SchemaMerger.Fail)
    }
  }

  test("lineage graph: impact, provenance, topological order, and " +
    "column-level breakage analysis") {
    import graft.etl.LineageGraph
    import org.apache.spark.sql.types._
    val peopleSchema = new StructType()
      .add("id", "bigint").add("age", "bigint").add("email", "string")
    val g = new LineageGraph()
    g.addNode("people", "source", Some(peopleSchema))
      .addNode("orders", "source")
      .addNode("q_age_stats", "query")
      .addNode("q_join", "query")
      .addNode("sink_report", "sink")
      .addNode("sink_export", "sink")
    g.addEdge("people", "q_age_stats", columns = Set("id", "age"))
      .addEdge("people", "q_join", columns = Set("id", "email"))
      .addEdge("orders", "q_join")
      .addEdge("q_age_stats", "sink_report")
      .addEdge("q_join", "sink_export")
    assert(g.sources.map(_.id).toSet == Set("people", "orders"))
    assert(g.sinks.map(_.id).toSet == Set("sink_report", "sink_export"))
    assert(g.impact("people").map(_.id).toSet ==
      Set("q_age_stats", "q_join", "sink_report", "sink_export"))
    assert(g.provenance("sink_export").map(_.id).toSet ==
      Set("q_join", "people", "orders"))
    val topo = g.topological.map(_.id)
    assert(topo.indexOf("people") < topo.indexOf("q_age_stats") &&
      topo.indexOf("q_age_stats") < topo.indexOf("sink_report"))
    // column slice: age feeds only the stats query and its sink
    assert(g.columnImpact("people", "age").map(_.id).toSet ==
      Set("q_age_stats", "sink_report"))
    assert(g.columnImpact("people", "email").map(_.id).toSet ==
      Set("q_join", "sink_export"))
    // "the feed NARROWED age to int overnight — what breaks?" (a retype
    // to string would grade as widening: atomics up-cast to string)
    val drifted = new StructType()
      .add("id", "bigint").add("age", "int").add("email", "string")
    val broken = g.breakage("people", drifted)
    assert(broken.size == 1)
    val (drift, affected) = broken.head
    assert(drift.column == "age" && drift.compatibility == "breaking")
    assert(affected.map(_.id).toSet == Set("q_age_stats", "sink_report"))
    // a widening drift breaks nothing
    val widened = new StructType()
      .add("id", "bigint").add("age", "decimal(20,0)").add("email", "string")
    assert(g.breakage("people", widened).isEmpty)
  }

  test("neo4j bulk-import CSV export: ID spaces, labels, rel types") {
    import spark.implicits._
    val person = Seq((1L, "Alice"), (2L, "Bob")).toDF("pid", "name")
    val knows = Seq((1L, 2L)).toDF("src", "dst")
    val cat = new graft.model.GraphCatalog()
      .addEntity("Person", person, idCol = "pid")
      .addRelationship("KNOWS", knows, srcCol = "src", dstCol = "dst",
        srcLabel = Some("Person"), dstLabel = Some("Person"))
    val out = tmpDir
    val dirs = graft.etl.Neo4jSink.exportBulkCsv(cat, out)
    assert(dirs.exists(_.endsWith("nodes_Person")) &&
      dirs.exists(_.endsWith("rels_KNOWS")))
    val nodes = spark.read.option("header", "true").csv(s"$out/nodes_Person")
    assert(nodes.columns.contains("pid:ID(Person)") && nodes.columns.contains(":LABEL"))
    assert(nodes.count() == 2)
    val rels = spark.read.option("header", "true").csv(s"$out/rels_KNOWS")
    assert(rels.columns.toSet ==
      Set(":START_ID(Person)", ":END_ID(Person)", ":TYPE"))
    assert(rels.head().getString(2) == "KNOWS")
  }

  test("neo4j mapping contract: column→property renames, coercions, null semantics") {
    import spark.implicits._
    import graft.etl.Neo4jSink
    import graft.etl.Neo4jSink.{ConnectorConfig, NodeMapping, RelationshipMapping}
    // reference NodeMapping example (sinks/neo4j.py:66-73): id_column
    // "pid" under id_property "id", property renames full_name→name
    val people = Seq(
      (java.lang.Long.valueOf(1L), "Alice Smith", java.lang.Long.valueOf(30L),
        9.5, true, Seq("a", "b")),
      (java.lang.Long.valueOf(2L), "Bob Jones", null.asInstanceOf[java.lang.Long],
        8.0, false, Seq("c")),
      (null.asInstanceOf[java.lang.Long], "Ghost", java.lang.Long.valueOf(99L),
        0.0, false, Seq.empty[String]))
      .toDF("pid", "full_name", "age", "score", "active", "tags")
    val nm = NodeMapping("Person", idColumn = "pid",
      propertyColumns = Map("name" -> "full_name", "age" -> "age",
        "score" -> "score", "active" -> "active", "tags" -> "tags"))
    val out = tmpDir
    val dir = Neo4jSink.writeNodes(people, nm, out)
    val nodes = spark.read.option("header", "true").csv(dir)
    // header contract: merge key in the label's id space, properties
    // under their NEO4J names with types from the Spark schema
    assert(nodes.columns.toSet == Set("id:ID(Person)", "active:boolean",
      "age:long", "name:string", "score:double", "tags:string[]", ":LABEL"))
    // null-merge-key rows are SKIPPED (reference _build_node_rows)
    assert(nodes.count() == 2)
    val alice = nodes.filter(nodes("id:ID(Person)") === "1").head()
    assert(alice.getAs[String]("name:string") == "Alice Smith")
    assert(alice.getAs[String]("age:long") == "30")
    assert(alice.getAs[String]("active:boolean") == "true")
    assert(alice.getAs[String]("tags:string[]") == "a;b") // array delimiter
    // null property values -> absent (empty CSV field), reference _drop_nulls
    assert(nodes.filter(nodes("id:ID(Person)") === "2").head()
      .getAs[String]("age:long") == null)

    // relationship mapping: endpoint id columns + property rename
    val knows = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L), 2015L),
      (java.lang.Long.valueOf(1L), null.asInstanceOf[java.lang.Long], 2016L))
      .toDF("src_pid", "tgt_pid", "since_year")
    val rm = RelationshipMapping("KNOWS", "Person", "Person",
      sourceIdColumn = "src_pid", targetIdColumn = "tgt_pid",
      propertyColumns = Map("since" -> "since_year"))
    val rdir = Neo4jSink.writeRelationships(knows, rm, out)
    val rels = spark.read.option("header", "true").csv(rdir)
    assert(rels.columns.toSet ==
      Set(":START_ID(Person)", ":END_ID(Person)", "since:long", ":TYPE"))
    assert(rels.count() == 1) // null endpoint skipped
    assert(rels.head().getAs[String]("since:long") == "2015")
    assert(rels.head().getAs[String](":TYPE") == "KNOWS")

    // identifier validation: backtick breakout + NFKC confusables rejected
    intercept[IllegalArgumentException](NodeMapping("Per`son", "pid"))
    intercept[IllegalArgumentException](NodeMapping("Per｀son", "pid")) // fullwidth `
    intercept[IllegalArgumentException](NodeMapping("P{x}", "pid"))
    intercept[IllegalArgumentException](
      RelationshipMapping("K[0]", "A", "B", "s", "t"))

    // the connector seam is the SAME mapped frame through a different
    // format string: an unresolvable format must fail at format lookup
    // (proving the swap is config-only), not in graft code
    val seam = intercept[Exception](Neo4jSink.writeNodes(people, nm,
      s"$out/live", ConnectorConfig("org.neo4j.spark",
        Map("url" -> "bolt://localhost:7687"))))
    assert(seam.getMessage.toLowerCase.contains("org.neo4j.spark") ||
      seam.getMessage.toLowerCase.contains("data source"))
  }

  test("JDBC source reads from an embedded Derby database") {
    // Derby ships on Spark's classpath (Hive metastore dependency), so
    // the SqlDataSource path runs for real with zero network egress —
    // the same spark.read.jdbc plan a postgres/mysql URI produces
    val db = s"$tmpDir/derbydb"
    System.setProperty("derby.stream.error.file", s"$db.log")
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    val st = conn.createStatement()
    st.execute("CREATE TABLE people (id INT, name VARCHAR(32), age INT)")
    st.execute("INSERT INTO people VALUES (1,'Alice',30),(2,'Bob',25),(3,'Carol',35)")
    st.close(); conn.close()

    // query pushdown: the SQL executes inside the database
    val q = PipelineRunner.readSource(spark, s"jdbc:derby:$db",
      query = Some("SELECT id, name FROM people WHERE age >= 30"))
    assert(q.collect().map(_.getString(1)).sorted.toSeq == Seq("Alice", "Carol"))

    // whole-table read via #table fragment, scheme shorthand, and a
    // schema hint cast applied after load
    val t = PipelineRunner.readSource(spark, s"derby:$db#people",
      schemaHints = Map("age" -> "BIGINT"))
    assert(t.count() == 3)
    assert(t.schema("age").dataType == org.apache.spark.sql.types.LongType)

    // a JDBC entity participates in the graph like any file source
    val cat = new graft.model.GraphCatalog()
      .addEntity("DbPerson", PipelineRunner.readSource(
        spark, s"derby:$db#people").withColumnRenamed("ID", "id"), idCol = "id")
    val eng = new CypherEngine(spark, cat)
    val rows = eng.query(
      "MATCH (p:DbPerson) WHERE p.AGE > 28 RETURN count(*) AS n").collect()
    assert(rows.head.getLong(0) == 2L)
  }

  test("orc and raw-text source/sink round-trips through readSource/writeSink") {
    val dir = tmpDir
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    PipelineRunner.writeSink(df, s"$dir/t.orc", format = None)
    val back = PipelineRunner.readSource(spark, s"$dir/t.orc")
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta"))
    // raw-text corpus: one row per line in `value`, shaped by `query`
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/corpus.txt"), "hello world\nsecond line\n")
    val txt = PipelineRunner.readSource(spark, s"$dir/corpus.txt",
      query = Some("SELECT value AS text, length(value) AS n FROM source"))
    assert(txt.orderBy("n").collect().map(_.getString(0)).toSeq ==
      Seq("hello world", "second line"))
  }

  test("on_error: warn skips a broken source") {
    val dir = tmpDir
    writeFixtures(dir)
    val config = PipelineConfig.parse(
      s"""project: {name: lenient}
         |sources:
         |  entities:
         |    - {id: people, uri: $dir/people.csv, entity_type: Person, id_col: id}
         |    - {id: ghost, uri: $dir/missing.csv, entity_type: Ghost, id_col: id, on_error: warn}
         |queries:
         |  - {id: q, inline: "MATCH (p:Person) RETURN count(*) AS n"}
         |""".stripMargin)
    val result = PipelineRunner.run(spark, config)
    assert(result.queries("q").collect().head.getLong(0) == 3L)
  }
}
