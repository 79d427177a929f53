package graft

import org.apache.spark.sql.Row

import graft.model.GraphCatalog

/** Engine semantics on the reference's hello-world graph (FIXTURES.md
  * §A.1: Person/Company/KNOWS/WORKS_FOR with reserved __ID__ columns).
  */
class CypherEngineSpec extends SparkSpec {

  private lazy val engine: CypherEngine = {
    import spark.implicits._
    val person = Seq(
      (0L, "Alice", 30L, "eng", 100.0),
      (1L, "Bob", 25L, "eng", 80.0),
      (2L, "Carol", 35L, "sales", 90.0),
      (3L, "Dan", 28L, "sales", 85.0))
      .toDF("__ID__", "name", "age", "dept", "salary")
    val company = Seq((0L, "Acme"), (1L, "Globex"))
      .toDF("__ID__", "name")
    val knows = Seq((0L, 0L, 1L, 2015L), (1L, 1L, 2L, 2018L), (2L, 2L, 3L, 2020L))
      .toDF("__ID__", "__SOURCE__", "__TARGET__", "since")
    val worksFor = Seq((0L, 0L, 0L), (1L, 1L, 0L), (2L, 2L, 1L))
      .toDF("__ID__", "__SOURCE__", "__TARGET__")
    val catalog = new GraphCatalog()
      .addEntity("Person", person)
      .addEntity("Company", company)
      .addRelationship("KNOWS", knows,
        srcLabel = Some("Person"), dstLabel = Some("Person"))
      .addRelationship("WORKS_FOR", worksFor,
        srcLabel = Some("Person"), dstLabel = Some("Company"))
    new CypherEngine(spark, catalog)
  }

  private def rows(q: String, params: Map[String, Any] = Map.empty): Seq[Row] =
    engine.query(q, params).collect().toSeq

  test("strict labels (default): unknown label/type fails loudly") {
    intercept[NoSuchElementException] {
      rows("MATCH (n:Nope) RETURN n.name AS name")
    }
    intercept[NoSuchElementException] {
      rows("MATCH (a:Person)-[:NOPE]->(b:Person) RETURN a.name AS name")
    }
  }

  test("graft.strictLabels=false: unknown label/type matches empty (openCypher parity)") {
    spark.conf.set("graft.strictLabels", "false")
    try {
      // unknown label: empty match, property access compiles to null
      assert(rows("MATCH (n:Nope) RETURN n.name AS name").isEmpty)
      // unknown relationship type: empty match
      assert(rows("MATCH (a:Person)-[:NOPE]->(b:Person) RETURN a.name AS name").isEmpty)
      // OPTIONAL MATCH over an unknown type keeps left rows with nulls;
      // the bare (a) re-mention inherits its binding's label (the
      // unknown type declares no endpoint labels to infer from)
      val opt = rows(
        """MATCH (a:Person) OPTIONAL MATCH (a)-[:NOPE]->(b:Person)
           RETURN a.name AS name, b.name AS bname""")
      assert(opt.size == 4 && opt.forall(_.isNullAt(1)))
      // the same queries still resolve KNOWN labels correctly
      assert(rows("MATCH (n:Person) RETURN n.name AS name").size == 4)
    } finally spark.conf.set("graft.strictLabels", "true")
  }

  test("bound node variable re-mention inherits its label (no rel-declared endpoints)") {
    import spark.implicits._
    // LIKES declares NO endpoint labels, so (a) is only resolvable
    // through its earlier binding — within one MATCH (later path) and
    // across MATCH clauses
    val person = Seq((0L, "Alice"), (1L, "Bob")).toDF("__ID__", "name")
    val likes = Seq((0L, 0L, 1L)).toDF("__ID__", "__SOURCE__", "__TARGET__")
    val cat = new GraphCatalog()
      .addEntity("Person", person)
      .addEntity("Thing", Seq((0L, "rock")).toDF("__ID__", "name"))
      .addRelationship("LIKES", likes)
    val eng = new CypherEngine(spark, cat)
    val sameMatch = eng.query(
      """MATCH (a:Person {name: 'Alice'}), (a)-[:LIKES]->(b:Person)
         RETURN b.name AS n""").collect()
    assert(sameMatch.map(_.getString(0)).toSeq == Seq("Bob"))
    val acrossMatch = eng.query(
      """MATCH (a:Person {name: 'Alice'}) MATCH (a)-[:LIKES]->(b:Person)
         RETURN b.name AS n""").collect()
    assert(acrossMatch.map(_.getString(0)).toSeq == Seq("Bob"))
  }

  test("hello world: scan + filter + project (reference README Quick Start)") {
    val r = rows("MATCH (p:Person) WHERE p.age > 28 RETURN p.name AS name, p.age AS age")
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSet == Set(("Alice", 30L), ("Carol", 35L)))
  }

  test("one hop with relationship property") {
    val r = rows(
      """MATCH (a:Person)-[k:KNOWS]->(b:Person) WHERE k.since >= 2018
         RETURN a.name AS a, b.name AS b ORDER BY a""")
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Bob", "Carol"), ("Carol", "Dan")))
  }

  test("undirected hop matches both orientations") {
    val r = rows("MATCH (a:Person {name: 'Bob'})-[:KNOWS]-(b:Person) RETURN b.name AS n")
    assert(r.map(_.getString(0)).toSet == Set("Alice", "Carol"))
  }

  test("golden fixture: customer_summary (1-hop, WITH agg, aliasing)") {
    // /root/reference/tests/fixtures/cypher/customer_summary.cypher
    val r = rows(
      """MATCH (p:Person)-[:WORKS_FOR]->(c:Company)
         WITH c.name AS company, count(p) AS employee_count, avg(p.age) AS avg_age
         RETURN company AS company, employee_count AS employee_count, avg_age AS avg_age
         ORDER BY company""")
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getDouble(2))) ==
      Seq(("Acme", 2L, 27.5), ("Globex", 1L, 35.0)))
  }

  test("OPTIONAL MATCH yields nulls and count skips them") {
    val r = rows(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[:WORKS_FOR]->(c:Company)
         RETURN p.name AS name, c.name AS company ORDER BY name""")
    assert(r.size == 4)
    assert(r.find(_.getString(0) == "Dan").get.isNullAt(1))
    val counted = rows(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[:WORKS_FOR]->(c:Company)
         RETURN count(c) AS n""")
    assert(counted.head.getLong(0) == 3L) // Dan's null company not counted
  }

  test("implicit grouping: full-table vs grouped") {
    assert(rows("MATCH (p:Person) RETURN count(*) AS n").head.getLong(0) == 4L)
    val grouped = rows(
      "MATCH (p:Person) RETURN p.dept AS dept, sum(p.salary) AS total ORDER BY dept")
    assert(grouped.map(x => (x.getString(0), x.getDouble(1))) ==
      Seq(("eng", 180.0), ("sales", 175.0)))
  }

  test("aggregate over expression and expression over aggregate") {
    val r = rows(
      "MATCH (p:Person) RETURN round(sum(p.salary * 2) / 10, 1) AS x")
    assert(r.head.getDouble(0) == 71.0)
  }

  test("collect and size") {
    val r = rows(
      "MATCH (p:Person) RETURN p.dept AS dept, collect(p.name) AS names ORDER BY dept")
    assert(r.head.getSeq[String](1).toSet == Set("Alice", "Bob"))
  }

  test("var-length paths *1..2 counts walks") {
    val r = rows(
      """MATCH (a:Person {name: 'Alice'})-[:KNOWS*1..2]->(b:Person)
         RETURN b.name AS name ORDER BY name""")
    assert(r.map(_.getString(0)) == Seq("Bob", "Carol"))
  }

  test("var-length segment composes with fixed hops in one pattern") {
    // Alice -KNOWS*1..2-> x -WORKS_FOR-> c: Bob→Acme, Carol→Globex
    val r = rows(
      """MATCH (a:Person {name: 'Alice'})-[:KNOWS*1..2]->(x:Person)-[:WORKS_FOR]->(c:Company)
         RETURN x.name AS who, c.name AS company ORDER BY who""")
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Bob", "Acme"), ("Carol", "Globex")))
  }

  test("fixed hop before a var-length segment") {
    // Alice -KNOWS-> Bob -KNOWS*1..2-> {Carol, Dan}
    val r = rows(
      """MATCH (a:Person {name: 'Alice'})-[:KNOWS]->(m:Person)-[:KNOWS*1..2]->(b:Person)
         RETURN b.name AS name ORDER BY name""")
    assert(r.map(_.getString(0)) == Seq("Carol", "Dan"))
  }

  test("path variable length over mixed fixed+var pattern") {
    val r = rows(
      """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(m:Person)-[:KNOWS*1..2]->(b:Person)
         RETURN b.name AS name, length(p) AS hops ORDER BY name""")
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("Carol", 2L), ("Dan", 3L)))
  }

  test("shortestPath collapses to min hops") {
    val r = rows(
      """MATCH p = shortestPath((a:Person {name: 'Alice'})-[:KNOWS*1..5]->(b:Person {name: 'Dan'}))
         RETURN length(p) AS hops""")
    assert(r.map(_.getLong(0)) == Seq(3L))
  }

  test("nodes(p)/relationships(p) materialize var-length walks under the conf") {
    spark.conf.set("graft.pathExpand.materializePaths", "true")
    try {
      val r = rows(
        """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS*1..3]->(b:Person)
           RETURN b.name AS name, length(p) AS hops, nodes(p) AS ns,
                  size(relationships(p)) AS n_rels ORDER BY hops""")
      // KNOWS chain 0→1→2→3: node sequence is origin-inclusive, one
      // relationship identity per hop
      assert(r.map(x => (x.getString(0), x.getSeq[Long](2), x.getInt(3))) == Seq(
        ("Bob", Seq(0L, 1L), 1),
        ("Carol", Seq(0L, 1L, 2L), 2),
        ("Dan", Seq(0L, 1L, 2L, 3L), 3)))
    } finally spark.conf.unset("graft.pathExpand.materializePaths")
  }

  test("nodes(p) splices fixed hops and var-length segments in order") {
    spark.conf.set("graft.pathExpand.materializePaths", "true")
    try {
      val r = rows(
        """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(m:Person)-[:KNOWS*1..2]->(b:Person)
           RETURN b.name AS name, nodes(p) AS ns ORDER BY name""")
      assert(r.map(x => (x.getString(0), x.getSeq[Long](1))) == Seq(
        ("Carol", Seq(0L, 1L, 2L)),
        ("Dan", Seq(0L, 1L, 2L, 3L))))
    } finally spark.conf.unset("graft.pathExpand.materializePaths")
  }

  test("nodes(p) on a fixed-hop path needs no conf (ids are already bound)") {
    val r = rows(
      """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b:Person)
         RETURN nodes(p) AS ns""")
    assert(r.map(_.getSeq[Long](0)) == Seq(Seq(0L, 1L)))
  }

  test("path expansion caps stop combinatorial walk explosion with a clear error") {
    // K4-ish dense cyclic graph: walk count grows ~3^hops per origin
    import graft.model.GraphCatalog
    import spark.implicits._
    val v = (0L to 3L).map(i => (i, s"v$i")).toDF("__ID__", "name")
    val e = (for { s <- 0L to 3L; d <- 0L to 3L if s != d } yield (s * 4 + d, s, d))
      .toDF("__ID__", "__SOURCE__", "__TARGET__")
    val eng = new CypherEngine(spark, new GraphCatalog()
      .addEntity("N", v)
      .addRelationship("E", e, srcLabel = Some("N"), dstLabel = Some("N")))
    spark.conf.set("graft.pathExpand.maxTotalRows", "500")
    try {
      val ex = intercept[IllegalStateException](eng.query(
        "MATCH (a:N)-[:E*1..10]->(b:N) RETURN count(*) AS n").collect())
      assert(ex.getMessage.contains("maxFrontierRows"))
    } finally spark.conf.unset("graft.pathExpand.maxTotalRows")
    // default caps: the same query completes
    assert(eng.query("MATCH (a:N)-[:E*1..4]->(b:N) RETURN count(*) AS n")
      .collect().head.getLong(0) > 0)
  }

  test("nodes/relationships report WHY they are unavailable") {
    val e1 = intercept[IllegalArgumentException](rows(
      """MATCH p = (a:Person)-[:KNOWS*1..2]->(b:Person) RETURN nodes(p) AS ns"""))
    assert(e1.getMessage.contains("materializePaths"))
    val e2 = intercept[IllegalArgumentException](rows(
      """MATCH p = shortestPath((a:Person {name: 'Alice'})-[:KNOWS*1..5]->(b:Person {name: 'Dan'}))
         RETURN nodes(p) AS ns"""))
    assert(e2.getMessage.contains("materializePaths"))
    spark.conf.set("graft.pathExpand.materializePaths", "true")
    try {
      val e3 = intercept[IllegalArgumentException](rows(
        """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b:Person)
           RETURN relationships(p) AS rs"""))
      assert(e3.getMessage.contains("relationship identity"))
    } finally spark.conf.unset("graft.pathExpand.materializePaths")
  }

  test("shortestPath materializes the deterministic lex-min witness under the conf") {
    spark.conf.set("graft.pathExpand.materializePaths", "true")
    try {
      // BFS regime (minHops <= 1)
      val r = rows(
        """MATCH p = shortestPath((a:Person {name: 'Alice'})-[:KNOWS*1..5]->(b:Person {name: 'Dan'}))
           RETURN length(p) AS hops, nodes(p) AS ns, size(relationships(p)) AS nr""")
      assert(r.map(x => (x.getLong(0), x.getSeq[Long](1), x.getInt(2))) ==
        Seq((3L, Seq(0L, 1L, 2L, 3L), 3)))
      // walk-collapse regime (minHops > 1 disables the BFS dedup)
      val r2 = rows(
        """MATCH p = shortestPath((a:Person {name: 'Alice'})-[:KNOWS*2..5]->(b:Person {name: 'Dan'}))
           RETURN length(p) AS hops, nodes(p) AS ns""")
      assert(r2.map(x => (x.getLong(0), x.getSeq[Long](1))) ==
        Seq((3L, Seq(0L, 1L, 2L, 3L))))
    } finally spark.conf.unset("graft.pathExpand.materializePaths")
  }

  test("allShortestPaths enumerates every min-hop witness under the conf") {
    import graft.model.GraphCatalog
    import spark.implicits._
    // diamond: 0→{1,2}→3 — two distinct 2-hop shortest paths
    val v = Seq((0L, "a"), (1L, "b1"), (2L, "b2"), (3L, "c")).toDF("__ID__", "name")
    val e = Seq((0L, 0L, 1L), (1L, 0L, 2L), (2L, 1L, 3L), (3L, 2L, 3L))
      .toDF("__ID__", "__SOURCE__", "__TARGET__")
    val eng = new CypherEngine(spark, new GraphCatalog()
      .addEntity("N", v)
      .addRelationship("E", e, srcLabel = Some("N"), dstLabel = Some("N")))
    spark.conf.set("graft.pathExpand.materializePaths", "true")
    try {
      val q =
        """MATCH p = %s((a:N {name: 'a'})-[:E*1..4]->(b:N {name: 'c'}))
           RETURN length(p) AS hops, nodes(p) AS ns"""
      val all = eng.query(q.format("allShortestPaths")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      assert(all == Set((2L, Seq(0L, 1L, 3L)), (2L, Seq(0L, 2L, 3L))))
      val one = eng.query(q.format("shortestPath")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      assert(one == Seq((2L, Seq(0L, 1L, 3L)))) // lex-min witness only
    } finally spark.conf.unset("graft.pathExpand.materializePaths")
  }

  test("path variable survives WITH rebinding with its materialized arrays") {
    spark.conf.set("graft.pathExpand.materializePaths", "true")
    try {
      val r = rows(
        """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS*1..3]->(b:Person)
           WITH p, b WHERE b.name = 'Dan'
           RETURN length(p) AS hops, nodes(p) AS ns""")
      assert(r.map(x => (x.getLong(0), x.getSeq[Long](1))) ==
        Seq((3L, Seq(0L, 1L, 2L, 3L))))
    } finally spark.conf.unset("graft.pathExpand.materializePaths")
  }

  test("trail mode composes with path materialization (edge arrays shared)") {
    spark.conf.set("graft.pathExpand.materializePaths", "true")
    spark.conf.set("graft.pathExpand.trailSemantics", "true")
    try {
      val r = rows(
        """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS*2..2]-(b:Person)
           RETURN nodes(p) AS ns, size(relationships(p)) AS n_rels""")
      // undirected 2-hop trails from Alice: 0-1-2 only (0-1-0 reuses
      // the edge and is excluded by trail semantics)
      assert(r.map(x => (x.getSeq[Long](0), x.getInt(1))) ==
        Seq((Seq(0L, 1L, 2L), 2)))
    } finally {
      spark.conf.unset("graft.pathExpand.trailSemantics")
      spark.conf.unset("graft.pathExpand.materializePaths")
    }
  }

  test("ORDER BY mixing a projected alias with pre-projection scope") {
    // the hidden sort key substitutes nm with its source expression, so
    // it compiles against the pre-projection frame (Neo4j accepts this)
    val r = rows(
      """MATCH (p:Person) RETURN p.name AS nm ORDER BY size(nm) - p.age, nm""")
    assert(r.map(_.getString(0)) == Seq("Carol", "Alice", "Dan", "Bob"))
    // aggregating variant: alias references an aggregate in the mix
    val r2 = rows(
      """MATCH (p:Person) RETURN p.dept AS d, count(*) AS n
         ORDER BY n * max(p.age) DESC""")
    assert(r2.map(_.getString(0)) == Seq("sales", "eng"))
  }

  test("normalize() applies Unicode normal forms as a native expression") {
    val r = rows(
      """RETURN normalize($s) AS nfc, size(normalize($s)) AS n_nfc,
                size(normalize($s, 'NFD')) AS n_nfd,
                normalize($w, 'NFKC') AS nfkc,
                normalize($f, 'NFKCCaseFold') AS folded""",
      Map("s" -> "café", "w" -> "ＡＢ", "f" -> "MASSE")).head
    assert(r.getString(0) == "café") // combining acute composed
    assert(r.getInt(1) == 4 && r.getInt(2) == 5)
    assert(r.getString(3) == "AB") // fullwidth → compatibility ASCII
    assert(r.getString(4) == "masse")
    val bad = intercept[Exception](rows("RETURN normalize('x', 'NFX') AS y"))
    assert(bad.getMessage.contains("normalForm"))
  }

  test("NFKCCaseFold applies full Unicode case folding (UCD C+F), not just lowercase") {
    def fold(s: String): String =
      rows("RETURN normalize($s, 'NFKCCaseFold') AS f", Map("s" -> s))
        .head.getString(0)
    assert(fold("straße") == "strasse")         // ß → ss (F)
    assert(fold("STRAẞE") == "strasse")         // ẞ chains ẞ→ss
    assert(fold("ΟΔΟΣ") == "οδοσ")              // final sigma Σ → σ
    assert(fold("οδός") == "οδόσ")              // ς → σ (C divergence)
    assert(fold("ΐ") == "\u03B9\u0308\u0301") // ΐ decomposes under F
    assert(fold("ᾈ") == "ἀι")                   // iota subscript → ἀ + ι
    assert(fold("ᾼ") == "αι")                   // uppercase chains via 1FB3
    assert(fold("ﬃ") == "ffi")                  // ligature via NFKC
    assert(fold("ŉ") == "ʼn")              // F expansion
    assert(fold("և") == "եւ")                   // Armenian F expansion
    assert(fold("ᏣᎳᎩ") == "ᏣᎳᎩ")                // Cherokee upper is a fold fixed point
    assert(fold("ꮳꮃꭹ") == "ᏣᎳᎩ")                // Cherokee lower folds UP
    // idempotence: fold(fold(x)) == fold(x) over every special entry
    val specials = "straße ΟΔΟΣ ΐ ᾈ ᾼ ﬃ ŉ և ꮳꮃꭹ ᾖ ῷ ΰ ẚ ẖ ẗ ẘ ẙ"
    assert(fold(fold(specials)) == fold(specials))
  }

  /** `body` with broadcast joins off, which also routes every
    * shortestPath through PathExpand's frontier loop.
    */
  private def frontierOnly[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Whether `df` runs PathExpand's broadcast BFS (its one mapPartitions). */
  private def broadcastBfs(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MapPartitions])

  test("broadcast-BFS shortestPath regime matches the frontier-loop BFS") {
    // small edge sets take the broadcast BFS by default; broadcast off
    // forces the per-origin frontier loop — both must produce identical
    // (pair, min-hop) sets, including the 0-hop seed
    val q = """MATCH p = shortestPath((a:Person)-[:KNOWS*0..5]->(b:Person))
               RETURN a.name AS an, b.name AS bn, length(p) AS hops
               ORDER BY an, bn"""
    def sp() = engine.query(q).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(broadcastBfs(engine.query(q)))
    val broadcast = sp()
    val looped = frontierOnly {
      assert(!broadcastBfs(engine.query(q)))
      sp()
    }
    assert(broadcast == looped)
    assert(broadcast.exists(_._3 == 0L)) // zero-hop pairs present
    assert(broadcast.exists(_._3 >= 2L)) // multi-hop distances present
  }

  test("shortestPath *0..2 across labels equals *1..2: an id shared by the " +
    "start and end labels is no zero-hop match") {
    import spark.implicits._
    // TPC-H's nation k sits in region k mod 5, so every one-hop match from
    // nation k < 5 has region id == nation id; the origin may be marked
    // visited only when its zero-hop row is emitted, which needs the end
    // label to be Nation
    val nation = (0 until 25).map(k => (k, k % 5)).toDF("n_nationkey", "n_regionkey")
    val eng = new CypherEngine(spark, new GraphCatalog()
      .addEntity("Region", (0 until 5).toDF("r_regionkey"), idCol = "r_regionkey")
      .addEntity("Nation", nation, idCol = "n_nationkey")
      .addRelationship("IN_REGION", nation, srcCol = "n_nationkey",
        dstCol = "n_regionkey", srcLabel = Some("Nation"), dstLabel = Some("Region")))
    def sp(range: String) = eng.query(
      s"""MATCH p = shortestPath((n:Nation)-[:IN_REGION*$range]->(r:Region))
          WHERE n.n_nationkey < 3
          RETURN n.n_nationkey AS n, r.r_regionkey AS r, length(p) AS hops""")
      .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    val want = Seq((0, 0, 1L), (1, 1, 1L), (2, 2, 1L))
    assert(sp("0..2") == want && sp("1..2") == want)
    frontierOnly(assert(sp("0..2") == want && sp("1..2") == want))
  }

  test("broadcast-BFS shortestPath on string ids matches the frontier loop") {
    import spark.implicits._
    // non-integral ids: the adjacency map is keyed on values, never cast
    // to long; a 2-cycle, a self-loop, a null endpoint and a dangling id
    val person = Seq("ann", "bob", "cy", "dee", "eve").map(n => (n, n.toUpperCase))
      .toDF("__ID__", "name")
    val knows = Seq[(Long, String, String)]((0L, "ann", "bob"), (1L, "bob", "cy"),
      (2L, "cy", "bob"), (3L, "cy", "dee"), (4L, "dee", "dee"), (5L, "eve", null),
      (6L, "dee", "zed")).toDF("__ID__", "__SOURCE__", "__TARGET__")
    val eng = new CypherEngine(spark, new GraphCatalog()
      .addEntity("Person", person)
      .addRelationship("KNOWS", knows,
        srcLabel = Some("Person"), dstLabel = Some("Person")))
    for (range <- Seq("1..4", "0..3")) {
      val q = s"""MATCH p = shortestPath((a:Person)-[:KNOWS*$range]->(b:Person))
                  RETURN a.name AS an, b.name AS bn, length(p) AS hops"""
      def sp() = eng.query(q).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
      assert(broadcastBfs(eng.query(q)))
      val broadcast = sp()
      assert(broadcast == frontierOnly(sp()), range)
      assert(broadcast.contains(("BOB", "BOB", if (range == "0..3") 0L else 2L)), range)
      assert(broadcast.contains(("ANN", "DEE", 3L)), range)
    }
  }

  test("broadcast-BFS shortestPath schedules the same jobs at *1..3 and " +
    "*1..12, the same count on every run") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftshim.ListenerBridge
    import spark.implicits._
    // a 16-node path: the frontier loop would run every one of 12 hops
    val node = (0L to 15L).map(i => (i, s"n$i")).toDF("__ID__", "name")
    val next = (0L until 15L).map(i => (i, i, i + 1)).toDF("__ID__", "__SOURCE__", "__TARGET__")
    val eng = new CypherEngine(spark, new GraphCatalog()
      .addEntity("N", node)
      .addRelationship("NEXT", next, srcLabel = Some("N"), dstLabel = Some("N")))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, _ + _))
    }
    def count(tag: String, maxHops: Int): Seq[Int] = (1 to 2).map { rep =>
      val group = s"shortestpath-$tag-$maxHops-$rep"
      sc.setJobGroup(group, group)
      try eng.query(
        s"""MATCH p = shortestPath((a:N)-[:NEXT*1..$maxHops]->(b:N))
            RETURN a.name AS a, b.name AS b, length(p) AS hops""").collect()
      finally sc.clearJobGroup()
      assert(ListenerBridge.waitUntilEmpty(spark, 10000L))
      jobs.getOrDefault(group, 0)
    }
    sc.addSparkListener(listener)
    try {
      val (short, long) = (count("broadcast", 3), count("broadcast", 12))
      assert(short.distinct.size == 1 && long.distinct.size == 1, s"$short $long")
      assert(short == long, s"jobs at *1..3 $short vs *1..12 $long")
      // the frontier loop pays per hop: the same pair must differ there
      frontierOnly(assert(count("frontier", 12).head > count("frontier", 3).head))
    } finally sc.removeSparkListener(listener)
  }

  test("WCOJ flag: triangle pattern matches the binary-join result") {
    // KNOWS: Alice→Bob→Carol→Dan — no triangle yet; add Carol→Alice
    // to close one via a fresh engine-free catalog
    import spark.implicits._
    val person = Seq((0L, "Alice"), (1L, "Bob"), (2L, "Carol"))
      .toDF("__ID__", "name")
    val knows = Seq((0L, 0L, 1L), (1L, 1L, 2L), (2L, 2L, 0L), (3L, 0L, 2L))
      .toDF("__ID__", "__SOURCE__", "__TARGET__")
    val cat = new graft.model.GraphCatalog()
      .addEntity("Person", person)
      .addRelationship("KNOWS", knows,
        srcLabel = Some("Person"), dstLabel = Some("Person"))
    val eng = new CypherEngine(spark, cat)
    val q =
      """MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person)-[:KNOWS]->(a)
         RETURN a.name AS a, b.name AS b, c.name AS c ORDER BY a, b, c"""
    val plain = eng.query(q).collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSeq
    spark.conf.set("graft.wcoj.enabled", "true")
    try {
      val wcoj = eng.query(q).collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(wcoj == plain && plain.nonEmpty)
    } finally spark.conf.unset("graft.wcoj.enabled")
  }

  test("leading OPTIONAL MATCH: empty pattern yields one all-null row") {
    val r = rows("OPTIONAL MATCH (p:Person {name: 'Zed'}) RETURN p.name AS name")
    assert(r.size == 1 && r.head.isNullAt(0))
    // non-empty leading OPTIONAL MATCH behaves like plain MATCH
    val r2 = rows("OPTIONAL MATCH (p:Person) RETURN count(*) AS n")
    assert(r2.head.getLong(0) == 4L)
  }

  test("OPTIONAL MATCH WHERE referencing outer variables preserves rows") {
    // age filter references p (outer, not in the optional pattern):
    // it must null out non-qualifying matches, never drop Person rows
    val r = rows(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[:WORKS_FOR]->(c:Company)
         WHERE p.age < 31
         RETURN p.name AS name, c.name AS company ORDER BY name""")
    assert(r.size == 4)
    val m = r.map(x => x.getString(0) -> Option(x.getString(1))).toMap
    assert(m == Map("Alice" -> Some("Acme"), "Bob" -> Some("Acme"),
      "Carol" -> None, "Dan" -> None))
  }

  test("OPTIONAL MATCH WHERE EXISTS with pattern-local vars pre-filters") {
    // q is bound INSIDE the exists pattern — not a reference to outer
    // scope, so the conjunct stays local (semi join before the left
    // join) instead of being rejected as correlated
    val r = rows(
      """MATCH (c:Company) OPTIONAL MATCH (p:Person)-[:WORKS_FOR]->(c)
         WHERE EXISTS { (p)-[:KNOWS]->(q:Person) WHERE q.dept = 'sales' }
         RETURN c.name AS company, count(p) AS n ORDER BY company""")
    // Acme: Alice(knows Bob/eng → no), Bob(knows Carol/sales → yes) = 1
    // Globex: Carol(knows Dan/sales → yes) = 1; both companies preserved
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("Acme", 1L), ("Globex", 1L)))
  }

  test("OPTIONAL MATCH WHERE EXISTS referencing outer-only var nulls out") {
    // EXISTS names co, which is bound by the outer MATCH and absent from
    // the optional pattern → compiled as a boolean flag on the outer
    // frame, referenced in the left-join condition
    val r = rows(
      """MATCH (p:Person)-[:WORKS_FOR]->(co:Company)
         OPTIONAL MATCH (p)-[:KNOWS]->(q:Person)
         WHERE q.age < 40
           AND EXISTS { (x:Person)-[:WORKS_FOR]->(co) WHERE x.dept = 'sales' }
         RETURN p.name AS name, q.name AS known ORDER BY name""")
    // only Globex employs sales (Carol): Alice/Bob rows null out but
    // survive; Carol keeps her KNOWS match
    assert(r.map(x => (x.getString(0), Option(x.getString(1)))) ==
      Seq(("Alice", None), ("Bob", None), ("Carol", Some("Dan"))))
    val rNot = rows(
      """MATCH (p:Person)-[:WORKS_FOR]->(co:Company)
         OPTIONAL MATCH (p)-[:KNOWS]->(q:Person)
         WHERE q.age < 40
           AND NOT EXISTS { (x:Person)-[:WORKS_FOR]->(co) WHERE x.dept = 'sales' }
         RETURN p.name AS name, q.name AS known ORDER BY name""")
    assert(rNot.map(x => (x.getString(0), Option(x.getString(1)))) ==
      Seq(("Alice", Some("Bob")), ("Bob", Some("Carol")), ("Carol", None)))
  }

  test("OPTIONAL MATCH WHERE EXISTS spanning outer and pattern scope") {
    // EXISTS references p (bound by the OPTIONAL pattern) AND co (bound
    // only by the outer MATCH): per-pattern-row witness sets make the
    // left-join condition a membership test; note the OPTIONAL pattern
    // shares NO variable with the outer frame — the witness condition
    // alone drives the join
    val r = rows(
      """MATCH (co:Company)
         OPTIONAL MATCH (p:Person)
         WHERE EXISTS { (p)-[:WORKS_FOR]->(co) }
         RETURN co.name AS company, count(p) AS n ORDER BY company""")
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("Acme", 2L), ("Globex", 1L)))
    val rNot = rows(
      """MATCH (co:Company)
         OPTIONAL MATCH (p:Person)
         WHERE NOT EXISTS { (p)-[:WORKS_FOR]->(co) }
         RETURN co.name AS company, count(p) AS n ORDER BY company""")
    // Acme: Carol & Dan don't work there; Globex: Alice, Bob, Dan
    assert(rNot.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("Acme", 2L), ("Globex", 3L)))
  }

  test("pattern comprehension collects correlated matches, [] when none") {
    val r = rows(
      """MATCH (p:Person)
         RETURN p.name AS name,
                size([(p)-[:KNOWS]->(q:Person) | q.name]) AS n_known
         ORDER BY name""")
    assert(r.map(x => (x.getString(0), x.getInt(1))) ==
      Seq(("Alice", 1), ("Bob", 1), ("Carol", 1), ("Dan", 0)))
  }

  test("pattern comprehension list contents with WHERE") {
    val r = rows(
      """MATCH (c:Company)
         RETURN c.name AS company,
                [(p:Person)-[:WORKS_FOR]->(c) WHERE p.age < 31 | p.name] AS young
         ORDER BY company""")
    val m = r.map(x => x.getString(0) -> x.getSeq[String](1).sorted).toMap
    assert(m == Map("Acme" -> Seq("Alice", "Bob"), "Globex" -> Seq()))
  }

  test("untyped relationship matches all compatible relationship types") {
    // Person-[]->Person can only be KNOWS; Person-[]->Company only WORKS_FOR
    val knows = rows(
      "MATCH (a:Person {name: 'Alice'})-[]->(b:Person) RETURN b.name AS n")
    assert(knows.map(_.getString(0)) == Seq("Bob"))
    // unconstrained end label: union over KNOWS and WORKS_FOR
    val all = rows(
      "MATCH (a:Person {name: 'Alice'})-[r]->(b:Person) RETURN count(*) AS n")
    assert(all.head.getLong(0) == 1L)
    val companies = rows(
      "MATCH (p:Person)-[]->(c:Company) RETURN count(*) AS n")
    assert(companies.head.getLong(0) == 3L)
  }

  test("unlabeled scan unions candidate labels; label predicate filters") {
    val all = rows("MATCH (n) RETURN count(*) AS n")
    assert(all.head.getLong(0) == 6L) // 4 persons + 2 companies
    val persons = rows("MATCH (n) WHERE n:Person RETURN count(*) AS n")
    assert(persons.head.getLong(0) == 4L)
    // shared attribute resolves across labels; missing attrs are null
    val named = rows(
      "MATCH (n) WHERE n.name STARTS WITH 'A' RETURN n.name AS nm ORDER BY nm")
    assert(named.map(_.getString(0)) == Seq("Acme", "Alice"))
    // inline props prune candidates to labels having the attribute
    val aged = rows("MATCH (n {age: 30}) RETURN n.name AS nm")
    assert(aged.map(_.getString(0)) == Seq("Alice"))
  }

  test("ORDER BY can reference non-projected properties") {
    val r = rows("MATCH (p:Person) RETURN p.name AS name ORDER BY p.age DESC")
    assert(r.map(_.getString(0)) == Seq("Carol", "Alice", "Dan", "Bob"))
    assert(r.head.schema.fieldNames.toSeq == Seq("name")) // sort key dropped
    // mixed: alias + underlying property
    val r2 = rows(
      """MATCH (p:Person) RETURN p.dept AS dept, p.name AS name
         ORDER BY dept, p.age DESC""")
    assert(r2.map(_.getString(1)) == Seq("Alice", "Bob", "Carol", "Dan"))
  }

  test("ORDER BY aggregate expressions, projected or not") {
    // projected aggregate referenced by expression
    val r = rows(
      "MATCH (p:Person) RETURN p.dept AS d, count(*) AS n ORDER BY count(*) DESC, d")
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("eng", 2L), ("sales", 2L)))
    // unprojected aggregate becomes a hidden sort key
    val r2 = rows(
      "MATCH (p:Person) RETURN p.dept AS d ORDER BY avg(p.age) DESC")
    assert(r2.map(_.getString(0)) == Seq("sales", "eng"))
    assert(r2.head.schema.fieldNames.toSeq == Seq("d"))
  }

  test("round with Neo4j rounding modes") {
    val r = rows(
      """RETURN round(2.5, 0, 'HALF_UP') AS a, round(2.5, 0, 'HALF_DOWN') AS b,
                round(2.5, 0, 'HALF_EVEN') AS c, round(1.4, 0, 'UP') AS d,
                round(1.6, 0, 'DOWN') AS e2, round(-1.4, 0, 'CEILING') AS f,
                round(-1.4, 0, 'FLOOR') AS g, round(-2.5, 0, 'HALF_UP') AS h""")
    val x = r.head
    assert((x.getDouble(0), x.getDouble(1), x.getDouble(2), x.getDouble(3),
      x.getDouble(4), x.getDouble(5), x.getDouble(6), x.getDouble(7)) ==
      ((3.0, 2.0, 2.0, 2.0, 1.0, -1.0, -2.0, -3.0)))
  }

  test("duration arithmetic and comparison") {
    val r = rows(
      """RETURN duration('P1Y2M3DT4H5M6.5S').months AS months,
                duration('P1W').days AS days,
                (duration('PT1H') + duration('PT30M')).micros AS sum_us,
                (duration({hours: 2}) - duration({minutes: 30})).micros AS diff_us,
                duration('P1D') > duration('PT23H') AS gt,
                duration('PT90M') = duration({hours: 1, minutes: 30}) AS eq,
                toString(datetime('2024-01-31 00:00:00') + duration('P1M')) AS eom""")
    val x = r.head
    assert(x.getLong(0) == 14L)                 // 1Y2M
    assert(x.getLong(1) == 7L)                  // 1W
    assert(x.getLong(2) == 5400000000L)         // 1.5h
    assert(x.getLong(3) == 5400000000L)         // 2h - 30m
    assert(x.getBoolean(4) && x.getBoolean(5))
    assert(x.getString(6) == "2024-02-29 00:00:00") // leap-year clamp
  }

  test("parameters") {
    val r = rows("MATCH (p:Person) WHERE p.age > $minAge RETURN count(*) AS n",
      Map("minAge" -> 28))
    assert(r.head.getLong(0) == 2L)
  }

  test("null semantics: 3VL comparisons and missing properties") {
    val r = rows("MATCH (p:Person {name: 'Alice'}) RETURN p.missing AS m, p.missing > 1 AS cmp")
    assert(r.head.isNullAt(0) && r.head.isNullAt(1))
  }

  test("integer division vs float division") {
    val r = rows("RETURN 7 / 2 AS i, 7.0 / 2 AS f, 7 % 2 AS m")
    assert(r.head.getLong(0) == 3L && r.head.getDouble(1) == 3.5 && r.head.getLong(2) == 1L)
  }

  test("string concat with + and list concat") {
    val r = rows("RETURN 'a' + 'b' AS s, [1,2] + [3] AS l")
    assert(r.head.getString(0) == "ab" && r.head.getSeq[Long](1) == Seq(1L, 2L, 3L))
  }

  test("slicing and indexing") {
    val r = rows("RETURN [10,20,30,40][1] AS i, [10,20,30,40][1..3] AS s, [10,20,30][-1] AS last")
    assert(r.head.getLong(0) == 20L)
    assert(r.head.getSeq[Long](1) == Seq(20L, 30L))
    assert(r.head.getLong(2) == 30L)
  }

  test("=~ anchors to full match") {
    val r = rows("RETURN ('abc' =~ 'b') AS sub, ('abc' =~ 'a.c') AS full")
    assert(!r.head.getBoolean(0) && r.head.getBoolean(1))
  }

  test("RETURN whole node gives struct of properties") {
    val r = rows("MATCH (p:Person {name: 'Alice'}) RETURN p")
    val s = r.head.getStruct(0)
    assert(s.getAs[String]("name") == "Alice" && s.getAs[Long]("age") == 30L)
  }

  test("label predicate in WHERE") {
    assert(rows("MATCH (p:Person) WHERE p:Person RETURN count(*) AS n").head.getLong(0) == 4L)
  }

  test("UNWIND over collected list round-trips") {
    val r = rows(
      """MATCH (p:Person) WITH collect(p.name) AS names
         UNWIND names AS n RETURN count(n) AS c""")
    assert(r.head.getLong(0) == 4L)
  }

  test("fixed-length path variable: length(p) is the hop count") {
    val r = rows("MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b:Person) RETURN length(p) AS l")
    assert(r.map(_.getLong(0)) == Seq(1L))
  }

  test("multi-type relationship alternation [:A|B]") {
    import spark.implicits._
    val person = Seq((0L, "A"), (1L, "B"), (2L, "C")).toDF("__ID__", "name")
    val knows = Seq((0L, 0L, 1L)).toDF("__ID__", "__SOURCE__", "__TARGET__")
    val likes = Seq((0L, 0L, 2L)).toDF("__ID__", "__SOURCE__", "__TARGET__")
    val cat = new GraphCatalog()
      .addEntity("P", person)
      .addRelationship("KNOWS", knows, srcLabel = Some("P"), dstLabel = Some("P"))
      .addRelationship("LIKES", likes, srcLabel = Some("P"), dstLabel = Some("P"))
    val e = new CypherEngine(spark, cat)
    val r = e.query(
      "MATCH (a:P {name: 'A'})-[:KNOWS|LIKES]->(b:P) RETURN b.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(r.toSeq == Seq("B", "C"))
  }
}
