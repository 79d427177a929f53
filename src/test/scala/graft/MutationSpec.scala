package graft

import graft.model.GraphCatalog

/** Write-path semantics (SURVEY §2.11): CREATE / SET / DELETE / MERGE /
  * REMOVE with query-scoped snapshot-swap atomicity.
  */
class MutationSpec extends SparkSpec {
  import spark.implicits._

  private def freshEngine: CypherEngine = {
    val person = Seq(
      (0L, "Alice", 30L),
      (1L, "Bob", 25L),
      (2L, "Carol", 35L)).toDF("__ID__", "name", "age")
    val knows = Seq((0L, 0L, 1L)).toDF("__ID__", "__SOURCE__", "__TARGET__")
    val cat = new GraphCatalog()
      .addEntity("Person", person)
      .addRelationship("KNOWS", knows,
        srcLabel = Some("Person"), dstLabel = Some("Person"))
    new CypherEngine(spark, cat)
  }

  test("CREATE standalone node mints an id and appends") {
    val eng = freshEngine
    eng.execute("CREATE (p:Person {name: 'Dave', age: 40})")
    val r = eng.query("MATCH (p:Person) RETURN count(*) AS n").collect()
    assert(r.head.getLong(0) == 4L)
    val dave = eng.query(
      "MATCH (p:Person {name: 'Dave'}) RETURN p.age AS age").collect()
    assert(dave.head.getLong(0) == 40L)
  }

  test("CREATE with new label registers the label") {
    val eng = freshEngine
    eng.execute("CREATE (c:City {name: 'Oslo'})")
    assert(eng.catalog.hasEntity("City"))
    assert(eng.query("MATCH (c:City) RETURN c.name AS n").collect()
      .head.getString(0) == "Oslo")
  }

  test("CREATE per matched row + relationship") {
    val eng = freshEngine
    eng.execute(
      """MATCH (p:Person) WHERE p.age >= 30
         CREATE (s:Shadow {orig: p.name})""")
    val shadows = eng.query("MATCH (s:Shadow) RETURN s.orig AS o ORDER BY o").collect()
    assert(shadows.map(_.getString(0)).toSeq == Seq("Alice", "Carol"))
    // relationship creation between bound vars
    val eng2 = freshEngine
    eng2.execute(
      """MATCH (a:Person {name: 'Bob'}), (b:Person {name: 'Carol'})
         CREATE (a)-[:KNOWS]->(b)""")
    val n = eng2.query(
      "MATCH (:Person)-[:KNOWS]->(:Person) RETURN count(*) AS n").collect()
    assert(n.head.getLong(0) == 2L)
  }

  test("CREATE binds the relationship variable it creates") {
    val eng = freshEngine
    val r = eng.execute(
      """MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'})
         CREATE (a)-[r:KNOWS {w: 1}]->(b) RETURN r.w AS w""").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L))
    // one edge per binding row, each bound to its own row, minted id
    // included; a later SET in the same query writes the created edges
    val l = eng.execute(
      """MATCH (p:Person) WHERE p.age >= 30
         CREATE (p)-[l:LIKES {since: p.age}]->(p) SET l.seen = true
         RETURN p.name AS n, l.since AS s, l.__ID__ AS id, l.seen AS seen""").collect()
    assert(l.map(x => (x.getString(0), x.getLong(1), x.getBoolean(3))).sorted.toSeq ==
      Seq(("Alice", 30L, true), ("Carol", 35L, true)))
    assert(l.map(_.getLong(2)).sorted.toSeq == Seq(0L, 1L))
    assert(eng.query(
      "MATCH (p:Person)-[l:LIKES]->(p) WHERE l.seen RETURN count(*) AS c").collect()
      .head.getLong(0) == 2L)
  }

  test("SET updates and adds properties; later reads see it") {
    val eng = freshEngine
    val out = eng.execute(
      """MATCH (p:Person {name: 'Alice'}) SET p.age = 31, p.vip = true
         RETURN p.age AS age, p.vip AS vip""").collect()
    assert(out.head.getLong(0) == 31L && out.head.getBoolean(1))
    val persisted = eng.query(
      "MATCH (p:Person {name: 'Alice'}) RETURN p.age AS a, p.vip AS v").collect()
    assert(persisted.head.getLong(0) == 31L && persisted.head.getBoolean(1))
    // untouched rows got null for the new column
    val bob = eng.query("MATCH (p:Person {name: 'Bob'}) RETURN p.vip AS v").collect()
    assert(bob.head.isNullAt(0))
  }

  test("DELETE removes matched nodes; DETACH also removes incident edges") {
    val eng = freshEngine
    eng.execute("MATCH (p:Person {name: 'Carol'}) DELETE p")
    assert(eng.query("MATCH (p:Person) RETURN count(*) AS n").collect()
      .head.getLong(0) == 2L)
    val eng2 = freshEngine
    eng2.execute("MATCH (p:Person {name: 'Alice'}) DETACH DELETE p")
    assert(eng2.query("MATCH (p:Person) RETURN count(*) AS n").collect()
      .head.getLong(0) == 2L)
    assert(eng2.query("MATCH (:Person)-[k:KNOWS]->(:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 0L) // Alice's edge went with her
  }

  test("DELETE of a relationship with a declared id removes only the matched edge") {
    val eng = freshEngine
    // a parallel Alice->Bob edge: same (src, dst), its own __ID__
    eng.execute(
      """MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'})
         CREATE (a)-[:KNOWS {w: 2}]->(b)""")
    eng.execute(
      """MATCH (:Person {name: 'Alice'})-[k:KNOWS]->(:Person {name: 'Bob'})
         WHERE k.w = 2 DELETE k""")
    val left = eng.query(
      "MATCH (:Person)-[k:KNOWS]->(:Person) RETURN k.w AS w").collect()
    assert(left.length == 1 && left.head.isNullAt(0)) // the original edge
  }

  test("REMOVE nulls a property") {
    val eng = freshEngine
    eng.execute("MATCH (p:Person {name: 'Bob'}) REMOVE p.age")
    val r = eng.query("MATCH (p:Person {name: 'Bob'}) RETURN p.age AS a").collect()
    assert(r.head.isNullAt(0))
    // other rows untouched
    assert(eng.query("MATCH (p:Person {name: 'Alice'}) RETURN p.age AS a")
      .collect().head.getLong(0) == 30L)
  }

  test("MERGE matches existing, creates missing, fires ON CREATE/ON MATCH") {
    val eng = freshEngine
    eng.execute(
      """MERGE (p:Person {name: 'Alice'})
         ON MATCH SET p.seen = 1 ON CREATE SET p.seen = 2""")
    eng.execute(
      """MERGE (p:Person {name: 'Zed'})
         ON MATCH SET p.seen = 1 ON CREATE SET p.seen = 2""")
    val seen = eng.query(
      "MATCH (p:Person) WHERE p.seen IS NOT NULL RETURN p.name AS n, p.seen AS s ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(seen.toSeq == Seq(("Alice", 1L), ("Zed", 2L)))
    assert(eng.query("MATCH (p:Person) RETURN count(*) AS n").collect()
      .head.getLong(0) == 4L)
    // merging again neither duplicates nor re-creates
    eng.execute("MERGE (p:Person {name: 'Zed'})")
    assert(eng.query("MATCH (p:Person) RETURN count(*) AS n").collect()
      .head.getLong(0) == 4L)
  }

  test("failed mutation query leaves catalog untouched (rollback)") {
    val eng = freshEngine
    intercept[Throwable] {
      eng.execute("MATCH (p:Person) SET p.age = frobnicate(p.age)")
    }
    assert(eng.query("MATCH (p:Person) RETURN count(*) AS n").collect()
      .head.getLong(0) == 3L)
    assert(eng.query("MATCH (p:Person {name: 'Alice'}) RETURN p.age AS a")
      .collect().head.getLong(0) == 30L)
  }

  test("CALL db.labels lists registered labels") {
    val eng = freshEngine
    val labels = eng.query("CALL db.labels() YIELD label RETURN label ORDER BY label")
      .collect().map(_.getString(0))
    assert(labels.toSeq == Seq("Person"))
  }

  test("SET += merges map keys; SET = replaces remaining with null") {
    val eng = freshEngine
    eng.execute("MATCH (p:Person {name: 'Alice'}) SET p += {age: 31, city: 'Oslo'}")
    val a = eng.query(
      "MATCH (p:Person {name: 'Alice'}) RETURN p.age AS a, p.city AS c").collect().head
    assert(a.getLong(0) == 31L && a.getString(1) == "Oslo")
    eng.execute("MATCH (p:Person {name: 'Bob'}) SET p = {name: 'Bob', age: 99}")
    val b = eng.query(
      "MATCH (p:Person {name: 'Bob'}) RETURN p.age AS a, p.city AS c").collect().head
    assert(b.getLong(0) == 99L && b.isNullAt(1)) // replaced: city nulled
  }

  test("map SET rebinds: later clauses in the same query read the written values") {
    val eng = freshEngine
    val add = eng.execute(
      "MATCH (p:Person {name: 'Alice'}) SET p += {age: 31} RETURN p.age AS a").collect()
    assert(add.map(_.getLong(0)).toSeq == Seq(31L))
    val rep = eng.execute(
      """MATCH (p:Person {name: 'Bob'}) SET p = {name: 'Bob', city: 'Oslo'}
         RETURN p.age AS a, p.city AS c""").collect()
    assert(rep.length == 1 && rep.head.isNullAt(0) && rep.head.getString(1) == "Oslo")
  }

  test("REMOVE rebinds: later clauses in the same query read null") {
    val eng = freshEngine
    val r = eng.execute(
      "MATCH (p:Person {name: 'Alice'}) REMOVE p.age RETURN p.age AS a").collect()
    assert(r.length == 1 && r.head.isNullAt(0))
    val k = eng.execute(
      """MATCH (:Person {name: 'Alice'})-[k:KNOWS]->(:Person)
         SET k.since = 2020 REMOVE k.since RETURN k.since AS s""").collect()
    assert(k.length == 1 && k.head.isNullAt(0))
  }

  test("SET r = {…} on a relationship nulls every property but its endpoints and id") {
    val eng = freshEngine
    eng.execute(
      """MATCH (:Person {name: 'Alice'})-[k:KNOWS]->(:Person {name: 'Bob'})
         SET k.since = 2020, k.note = 'w'""")
    eng.execute(
      """MATCH (:Person {name: 'Alice'})-[k:KNOWS]->(:Person {name: 'Bob'})
         SET k = {since: 2030}""")
    val r = eng.query(
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
         RETURN a.name AS a, b.name AS b, k.since AS s, k.note AS n""").collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "Alice" && r.head.getString(1) == "Bob")
    assert(r.head.getLong(2) == 2030L && r.head.isNullAt(3))
  }

  test("SET and REMOVE on a null OPTIONAL MATCH variable keep every row") {
    val eng = freshEngine
    // only Alice KNOWS anyone: Bob's and Carol's rows bind b to null,
    // and a write on null is a no-op that keeps the row
    def run(write: String): Map[String, Any] = eng.execute(
      s"""MATCH (a:Person) OPTIONAL MATCH (a)-[k:KNOWS]->(b:Person)
          $write RETURN a.name AS a, b.age AS g""").collect()
      .map(r => r.getString(0) -> r.getAs[Any](1)).toMap
    assert(run("REMOVE b.age") == Map("Alice" -> null, "Bob" -> null, "Carol" -> null))
    assert(run("SET b += {age: 40}") == Map("Alice" -> 40L, "Bob" -> null, "Carol" -> null))
    assert(run("SET b.age = 41") == Map("Alice" -> 41L, "Bob" -> null, "Carol" -> null))
    val k = eng.execute(
      """MATCH (a:Person) OPTIONAL MATCH (a)-[k:KNOWS]->(:Person)
         SET k = {w: 2} RETURN a.name AS a, k.w AS w""").collect()
      .map(r => r.getString(0) -> r.getAs[Any](1)).toMap
    assert(k == Map("Alice" -> 2L, "Bob" -> null, "Carol" -> null))
  }

  test("SET on a relationship keyed by (src, dst) neither drops nor multiplies rows") {
    val person = Seq((0L, "Alice"), (1L, "Bob")).toDF("__ID__", "name")
    // parallel Alice->Bob edges, no id column: (src, dst) keys them
    val likes = Seq((0L, 1L, 1L), (0L, 1L, 2L)).toDF("__SOURCE__", "__TARGET__", "p")
    val eng = new CypherEngine(spark, new GraphCatalog()
      .addEntity("Person", person)
      .addRelationship("LIKES", likes, srcLabel = Some("Person"), dstLabel = Some("Person")))
    val r = eng.execute(
      """MATCH (:Person {name: 'Alice'})-[l:LIKES]->(:Person)
         SET l.x = 1 RETURN l.p AS p, l.x AS x""").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq == Seq((1L, 1L), (2L, 1L)))
    // Bob's undirected rows see each edge reversed, which addresses no
    // stored (src, dst): the rows stay, with the values they matched
    val u = eng.execute(
      """MATCH (:Person {name: 'Bob'})-[l:LIKES]-(a:Person)
         SET l.y = 1 RETURN a.name AS a, l.p AS p""").collect()
    assert(u.map(x => (x.getString(0), x.getLong(1))).sorted.toSeq ==
      Seq(("Alice", 1L), ("Alice", 2L)))
  }

  test("SET, REMOVE and DELETE through an undirected match without a relationship id " +
    "address the stored edge a reversed row sees, never a parallel edge of the other orientation") {
    def engine(edges: Seq[(Long, Long, String)]): CypherEngine = {
      val person = Seq((0L, "Alice"), (1L, "Bob"), (2L, "Carol")).toDF("__ID__", "name")
      new CypherEngine(spark, new GraphCatalog()
        .addEntity("Person", person)
        .addRelationship("KNOWS", edges.toDF("__SOURCE__", "__TARGET__", "w"),
          srcLabel = Some("Person"), dstLabel = Some("Person")))
    }
    def num(v: Any): Option[Long] = Option(v).map(_.asInstanceOf[Number].longValue)
    def stored(eng: CypherEngine): Set[(String, Option[Long])] = eng.query(
        "MATCH (:Person)-[k:KNOWS]->(:Person) RETURN k.w AS w, k.x AS x").collect()
      .map(r => (r.getString(0), num(r.get(1)))).toSet
    // Bob sees the stored Alice→Bob edge reversed
    val one = engine(Seq((0L, 1L, "ab")))
    val back = one.query(
      """MATCH (a:Person {name: 'Bob'})-[k:KNOWS]-(b:Person) SET k.x = 1
         RETURN b.name AS b, k.x AS x""").collect()
      .map(r => (r.getString(0), num(r.get(1)))).toSeq
    assert(back == Seq(("Alice", Some(1L))), back)
    assert(stored(one) == Set(("ab", Some(1L))), stored(one))
    one.execute("MATCH (:Person {name: 'Bob'})-[k:KNOWS]-(:Person) REMOVE k.x")
    assert(stored(one) == Set(("ab", None)), stored(one))
    one.execute("MATCH (:Person {name: 'Bob'})-[k:KNOWS]-(:Person) DELETE k")
    assert(stored(one).isEmpty, stored(one))
    // a parallel edge of the other orientation: each write reaches the
    // edge its row matched
    val two = engine(Seq((0L, 1L, "ab"), (1L, 0L, "ba")))
    two.execute("MATCH (:Person {name: 'Bob'})-[k:KNOWS {w: 'ab'}]-(:Person) SET k.x = 2")
    assert(stored(two) == Set(("ab", Some(2L)), ("ba", None)), stored(two))
    two.execute("MATCH (:Person {name: 'Alice'})-[k:KNOWS {w: 'ba'}]-(:Person) SET k.x = 3")
    assert(stored(two) == Set(("ab", Some(2L)), ("ba", Some(3L))), stored(two))
    // WITH carries the orientation to the write
    two.execute("MATCH (:Person {name: 'Alice'})-[k:KNOWS {w: 'ba'}]-(:Person) WITH k SET k.x = 4")
    assert(stored(two) == Set(("ab", Some(2L)), ("ba", Some(4L))), stored(two))
  }

  test("SET, REMOVE and DELETE on a multi-type relationship variable fail naming the variable and its types") {
    val eng = freshEngine
    eng.execute(
      """MATCH (a:Person {name: 'Bob'}), (b:Person {name: 'Carol'})
         CREATE (a)-[:LIKES {w: 1}]->(b)""")
    Seq("SET k.x = 1", "REMOVE k.w", "DELETE k").foreach { write =>
      val e = intercept[IllegalArgumentException](eng.execute(
        s"MATCH (a:Person)-[k:KNOWS|LIKES]->(b:Person) $write RETURN count(*) AS n").collect())
      Seq("k", "KNOWS", "LIKES").foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    }
    // nothing was written
    assert(eng.query("MATCH (:Person)-[k:KNOWS]->(:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 1L)
    assert(eng.query("MATCH (:Person)-[l:LIKES]->(:Person) RETURN l.w AS w")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("SET label copies into the label table; REMOVE label removes") {
    val eng = freshEngine
    eng.execute("MATCH (p:Person) WHERE p.age >= 30 SET p:Senior")
    assert(eng.query("MATCH (s:Senior) RETURN count(*) AS n").collect()
      .head.getLong(0) == 2L)
    eng.execute("MATCH (p:Senior {name: 'Carol'}) REMOVE p:Senior")
    assert(eng.query("MATCH (s:Senior) RETURN count(*) AS n").collect()
      .head.getLong(0) == 1L)
    // original label untouched
    assert(eng.query("MATCH (p:Person) RETURN count(*) AS n").collect()
      .head.getLong(0) == 3L)
  }

  test("FOREACH performs per-element mutations without changing cardinality") {
    val eng = freshEngine
    val out = eng.execute(
      """MATCH (p:Person {name: 'Alice'})
         FOREACH (x IN [1, 2, 3] | CREATE (t:Tag {owner: p.name, v: x}))
         RETURN p.name AS name""")
    assert(out.collect().map(_.getString(0)).toSeq == Seq("Alice")) // 1 row out
    val tags = eng.query("MATCH (t:Tag) RETURN t.v AS v ORDER BY v").collect()
    assert(tags.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("relationship MERGE is idempotent and creates missing edges") {
    val eng = freshEngine
    // Alice->Bob exists; Bob->Carol doesn't
    eng.execute(
      """MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'})
         MERGE (a)-[:KNOWS]->(b)""")
    assert(eng.query("MATCH (:Person)-[:KNOWS]->(:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 1L) // no duplicate
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         MERGE (b)-[:KNOWS]->(c)""")
    assert(eng.query("MATCH (:Person)-[:KNOWS]->(:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 2L) // created
  }

  test("anonymous CREATE node still writes (no silent no-op)") {
    val eng = freshEngine
    eng.execute("CREATE (:Person {name: 'Eve', age: 22})")
    val r = eng.query(
      "MATCH (p:Person {name: 'Eve'}) RETURN p.age AS age").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(22L))
  }

  test("CREATE chains relationships between consecutive nodes") {
    val eng = freshEngine
    eng.execute(
      """CREATE (x:Person {name: 'X', age: 1})-[:KNOWS]->(y:Person {name: 'Y', age: 2})-[:KNOWS]->(z:Person {name: 'Z', age: 3})""")
    val r = eng.query(
      """MATCH (a:Person {name: 'Y'})-[:KNOWS]->(b:Person)
         RETURN b.name AS n""").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("Z")) // Y->Z, not X->Z
  }

  test("relationship SET and REMOVE touch matched edges only") {
    val eng = freshEngine
    // add a second edge, give both a property via matched SET
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         CREATE (b)-[:KNOWS {since: 2020}]->(c)""")
    eng.execute(
      """MATCH (a:Person {name: 'Alice'})-[k:KNOWS]->(b:Person)
         SET k.since = 2015""")
    val afterSet = eng.query(
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
         RETURN a.name AS a, k.since AS s ORDER BY a""").collect()
    assert(afterSet.map(x => (x.getString(0), Option(x.get(1)))).toSeq ==
      Seq(("Alice", Some(2015L)), ("Bob", Some(2020L))))
    // REMOVE nulls only Alice's edge
    eng.execute(
      """MATCH (a:Person {name: 'Alice'})-[k:KNOWS]->(b:Person)
         REMOVE k.since""")
    val r = eng.query(
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
         RETURN a.name AS a, k.since AS s ORDER BY a""").collect()
    assert(r.map(x => (x.getString(0), Option(x.get(1)))).toSeq ==
      Seq(("Alice", None), ("Bob", Some(2020L))))
  }

  test("relationship MERGE ON MATCH counter idiom: r.n = r.n + 1") {
    val eng = freshEngine
    val m =
      """MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'})
         MERGE (a)-[k:KNOWS]->(b) ON CREATE SET k.n = 1
         ON MATCH SET k.n = k.n + 1"""
    eng.execute(m) // edge exists → ON MATCH; k.n was absent → null + 1 = null
    eng.execute(
      """MATCH (a:Person {name: 'Alice'})-[k:KNOWS]->(b:Person {name: 'Bob'})
         SET k.n = 5""")
    eng.execute(m) // counter increments the CURRENT value
    eng.execute(m)
    val n = eng.query(
      """MATCH (a:Person {name: 'Alice'})-[k:KNOWS]->(b:Person {name: 'Bob'})
         RETURN k.n AS n""").collect()
    assert(n.map(_.getLong(0)).toSeq == Seq(7L))
    // fresh pair: ON CREATE seeds, later merges increment
    val m2 =
      """MATCH (a:Person {name: 'Carol'}), (b:Person {name: 'Alice'})
         MERGE (a)-[k:KNOWS]->(b) ON CREATE SET k.n = 1
         ON MATCH SET k.n = k.n + 1"""
    eng.execute(m2); eng.execute(m2)
    val n2 = eng.query(
      """MATCH (a:Person {name: 'Carol'})-[k:KNOWS]->(b:Person {name: 'Alice'})
         RETURN k.n AS n""").collect()
    assert(n2.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("relationship MERGE ON CREATE SET and ON MATCH SET arms") {
    val eng = freshEngine
    // Alice->Bob exists → ON MATCH fires; Bob->Carol is new → ON CREATE
    eng.execute(
      """MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'})
         MERGE (a)-[k:KNOWS]->(b) ON CREATE SET k.via = 'created'
         ON MATCH SET k.via = 'matched'""")
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         MERGE (b)-[k:KNOWS]->(c) ON CREATE SET k.via = 'created'
         ON MATCH SET k.via = 'matched'""")
    val r = eng.query(
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
         RETURN a.name AS a, k.via AS via ORDER BY a""").collect()
    assert(r.map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("Alice", "matched"), ("Bob", "created")))
  }

  test("correlated CALL mid-query joins procedure rows per binding row") {
    val eng = freshEngine
    val r = eng.query(
      """MATCH (p:Person) WHERE p.age > 28
         CALL db.labels() YIELD label
         RETURN p.name AS name, label ORDER BY name, label""").collect()
    // 2 matched persons x 2 labels (Person, KNOWS-less catalog has Person only)
    assert(r.map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("Alice", "Person"), ("Carol", "Person")))
  }

  test("query combiner: pipeline merges into one plan with WITH * bridges") {
    val eng = freshEngine
    // given in the WRONG order: the consumer is listed first, the
    // combiner's produce/consume analysis reorders, strips the
    // intermediate RETURN, and bridges with WITH *
    val out = eng.executeAll(Seq(
      "MATCH (c:City) RETURN c.name AS name ORDER BY name",
      "CREATE (x:City {name: 'Oslo'}) CREATE (y:City {name: 'Bergen'})"))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("Bergen", "Oslo"))
    assert(eng.query("MATCH (c:City) RETURN count(*) AS n").collect()
      .head.getLong(0) == 2L)
    // anonymous CREATE stage: WITH * over a frame with no visible vars
    // passes through (identity), pipeline still combines
    val eng2 = freshEngine
    val out2 = eng2.executeAll(Seq(
      "CREATE (:Tag {name: 'x'})",
      "MATCH (t:Tag) RETURN count(*) AS n"))
    assert(out2.collect().head.getLong(0) == 1L)
    // non-combinable (colliding variable names) falls back to sequential
    val eng3 = freshEngine
    val out3 = eng3.executeAll(Seq(
      "CREATE (n:Tag {name: 'a'})",
      "MATCH (n:Tag) RETURN n.name AS name"))
    assert(out3.collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("query combiner counts MERGE vars and projection aliases as binders") {
    import graft.parser.CypherParser
    import graft.compiler.QueryCombiner
    def p(s: String) = CypherParser.parse(s)
    // both stages bind `m` via MERGE → a WITH * bridge would rebind it
    assert(!QueryCombiner.combinable(Seq(
      p("MERGE (m:Tag {name: 'a'})"), p("MERGE (m:City {name: 'b'})"))))
    // stage 1's WITH alias collides with stage 2's pattern variable
    assert(!QueryCombiner.combinable(Seq(
      p("MATCH (a:Tag) WITH a.name AS v RETURN v"),
      p("MATCH (v:City) RETURN v.name AS name"))))
    // bare-variable RETURN passthrough is a binder too
    assert(!QueryCombiner.combinable(Seq(
      p("MATCH (n:Tag) RETURN n"), p("MATCH (n:City) RETURN n"))))
    // disjoint names (incl. a MERGE) stay combinable
    assert(QueryCombiner.combinable(Seq(
      p("MERGE (m:Tag {name: 'a'})"),
      p("MATCH (t:Tag) RETURN t.name AS name"))))
  }

  test("rel MERGE duplicate rows fold to ONE row's values, never a cross-row mix") {
    val eng = freshEngine
    // two binding rows carry (p=1, q=9) and (p=2, q=3); a per-column
    // max would synthesize {p: 2, q: 9} — a combination no row contained
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         UNWIND [1, 2] AS i
         MERGE (b)-[k:LINKS]->(c)
         ON CREATE SET k.p = i, k.q = CASE i WHEN 1 THEN 9 ELSE 3 END""")
    val r = eng.query(
      """MATCH (:Person {name: 'Bob'})-[k:LINKS]->(:Person {name: 'Carol'})
         RETURN k.p AS p, k.q AS q""").collect()
    assert(r.length == 1)
    val (pv, qv) = (r.head.getLong(0), r.head.getLong(1))
    assert((pv, qv) == (2L, 3L) || (pv, qv) == (1L, 9L),
      s"cross-row mix: ($pv, $qv)")
  }

  test("rel MERGE duplicate binding rows: ON MATCH fires on the new edge") {
    val eng = freshEngine
    // two binding rows for the same (Bob, Carol) pair: per Neo4j row
    // semantics the first creates, the second matches the just-created
    // edge and overwrites via ON MATCH
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         UNWIND [1, 2] AS i
         MERGE (b)-[k:KNOWS]->(c)
         ON CREATE SET k.via = 'created' ON MATCH SET k.via = 'matched'""")
    val r = eng.query(
      """MATCH (:Person {name: 'Bob'})-[k:KNOWS]->(:Person {name: 'Carol'})
         RETURN k.via AS v""").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("matched")) // one edge, om value
    // a single binding row keeps plain ON CREATE semantics
    eng.execute(
      """MATCH (a:Person {name: 'Alice'}), (c:Person {name: 'Carol'})
         MERGE (a)-[k:KNOWS]->(c)
         ON CREATE SET k.via = 'created' ON MATCH SET k.via = 'matched'""")
    val r2 = eng.query(
      """MATCH (:Person {name: 'Alice'})-[k:KNOWS]->(:Person {name: 'Carol'})
         RETURN k.via AS v""").collect()
    assert(r2.map(_.getString(0)).toSeq == Seq("created"))
  }

  test("relationship SET rebinds: later clauses read the post-SET value") {
    val eng = freshEngine
    // same-query read-after-write on a rel property (node SET already
    // rebinds; the rel path must too — reference shadow-layer re-read)
    val r = eng.execute(
      """MATCH (:Person {name: 'Alice'})-[k:KNOWS]->(:Person {name: 'Bob'})
         SET k.since = 2030 RETURN k.since AS s""").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2030L))
    // a NEW property (absent from the pre-SET frame) is also visible
    val r2 = eng.execute(
      """MATCH (:Person {name: 'Alice'})-[k:KNOWS]->(:Person {name: 'Bob'})
         SET k.weight = 7 RETURN k.weight AS w""").collect()
    assert(r2.map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("duplicate binding rows apply a deferred ON MATCH once per edge (documented fold)") {
    val eng = freshEngine
    // THE documented divergence (MutationEngine.mergeRelationship
    // scaladoc): 3 duplicate binding rows on the created-edge path
    // apply the self-referencing counter ONCE, where Neo4j's
    // sequential per-row MERGE would apply it twice (rows 2 and 3).
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         UNWIND [1, 2, 3] AS i
         MERGE (b)-[k:COUNTS]->(c)
         ON CREATE SET k.n = 0 ON MATCH SET k.n = k.n + 1""")
    val created = eng.query(
      """MATCH (:Person {name: 'Bob'})-[k:COUNTS]->(:Person {name: 'Carol'})
         RETURN k.n AS n""").collect()
    assert(created.map(_.getLong(0)).toSeq == Seq(1L)) // once-per-edge fold (Neo4j: 2)
    // pre-existing edge, 2 duplicate rows: ON MATCH also folds to one
    // application per edge (Neo4j: +2)
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         UNWIND [1, 2] AS i
         MERGE (b)-[k:COUNTS]->(c)
         ON MATCH SET k.n = k.n + 1""")
    val matched = eng.query(
      """MATCH (:Person {name: 'Bob'})-[k:COUNTS]->(:Person {name: 'Carol'})
         RETURN k.n AS n""").collect()
    assert(matched.map(_.getLong(0)).toSeq == Seq(2L))
    // DISTINCT binding rows (the supported counter idiom) stay exact:
    // one MERGE statement per logical event increments per statement
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         MERGE (b)-[k:COUNTS]->(c) ON MATCH SET k.n = k.n + 1""")
    val seq = eng.query(
      """MATCH (:Person {name: 'Bob'})-[k:COUNTS]->(:Person {name: 'Carol'})
         RETURN k.n AS n""").collect()
    assert(seq.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("relationship MERGE ON MATCH values read keys written earlier in the clause") {
    val eng = freshEngine
    // created-edge path: the duplicate row matches the new edge
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         UNWIND [1, 2] AS i
         MERGE (b)-[k:TIES]->(c) ON MATCH SET k.a = 5, k.b = k.a + 1""")
    // existing-edge path: neither key is a column of TIES yet
    eng.execute(
      """MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'})
         MERGE (b)-[k:TIES]->(c) ON MATCH SET k.c = 7, k.d = k.c + 1""")
    val r = eng.query(
      """MATCH (:Person {name: 'Bob'})-[k:TIES]->(:Person {name: 'Carol'})
         RETURN k.a AS a, k.b AS b, k.c AS c, k.d AS d""").collect()
    assert(r.map(x => (0 to 3).map(x.getLong)).toSeq == Seq(Seq(5L, 6L, 7L, 8L)))
  }

  test("CALL with correlated args runs per distinct tuple and joins back") {
    val eng = freshEngine
    val r = eng.query(
      """MATCH (p:Person) WHERE p.age >= 30
         CALL graft.series(p.age - 28) YIELD value
         RETURN p.name AS name, value ORDER BY name, value""").collect()
    // Alice(30) → series(2) = 1,2; Carol(35) → series(7) = 1..7
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      (1 to 2).map(v => ("Alice", v.toLong)) ++
        (1 to 7).map(v => ("Carol", v.toLong)))
  }

  test("CALL with duplicate correlated arg values dedups procedure invocations") {
    val eng = freshEngine
    // name lengths 5,3,5 → 2 distinct tuples for 3 persons, but every
    // binding row still multiplies into its own tuple's result rows
    val r = eng.query(
      """MATCH (p:Person)
         CALL graft.series(size(p.name)) YIELD value
         RETURN p.name AS name, count(value) AS n ORDER BY name""").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("Alice", 5L), ("Bob", 3L), ("Carol", 5L)))
  }

  test("graph analytics procedures: CALL graph.pageRank / labelPropagation " +
    "over the stored relationship table") {
    val eng = freshEngine // KNOWS: 0 → 1
    // directed, 1 iteration: node 1 is dangling; D = 0.5 redistributes.
    // rank(0) = 0.075 + 0.85·(0.5/2) = 0.2875, rank(1) = 0.075 +
    // 0.85·(0.5 + 0.25) = 0.7125
    val pr = eng.query(
      """CALL graph.pageRank('KNOWS', 1) YIELD node, rank
         RETURN node, rank ORDER BY node""").collect()
    assert(pr.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(math.abs(pr(0).getDouble(1) - 0.2875) < 1e-12)
    assert(math.abs(pr(1).getDouble(1) - 0.7125) < 1e-12)
    // undirected: the 2-cycle is stationary at uniform 0.5
    eng.query(
      """CALL graph.pageRank('KNOWS', 3, true) YIELD node, rank
         RETURN rank""").collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - 0.5) < 1e-12))
    // personalized (seeded at node 0), undirected, 2 iterations:
    // r2 = (0.15 + 0.85², 0.85·0.15)
    val ppr = eng.query(
      """CALL graph.pageRank('KNOWS', 2, true, [0]) YIELD node, rank
         RETURN node, rank ORDER BY node""").collect()
    assert(math.abs(ppr(0).getDouble(1) - 0.8725) < 1e-12)
    assert(math.abs(ppr(1).getDouble(1) - 0.1275) < 1e-12)
    // connected components over the stored relationship table
    val cc = eng.query(
      """CALL graph.components('KNOWS') YIELD id, comp
         RETURN id, comp ORDER BY id""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cc == Seq((0L, 0L), (1L, 0L)))
    // undirected LPA, 1 synchronous iteration: the pair swaps labels
    val lp = eng.query(
      """CALL graph.labelPropagation('KNOWS', 1, true) YIELD node, label
         RETURN node, label ORDER BY node""").collect()
    assert(lp.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 1L), (1L, 0L)))
    // k-core: the undirected pair is a 1-core (deg 1 each) and has no
    // 2-core — slot 1 is k, and the peel runs to fixpoint
    val kc = eng.query(
      """CALL graph.kCore('KNOWS', 1, true) YIELD node, deg
         RETURN node, deg ORDER BY node""").collect()
    assert(kc.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 1L), (1L, 1L)))
    assert(eng.query(
      """CALL graph.kCore('KNOWS', 2, true) YIELD node, deg
         RETURN node""").collect().isEmpty)
    // triangles: the 2-node pair has none, degrees are 1, cc 0
    val tr = eng.query(
      """CALL graph.triangles('KNOWS', 1, true)
         YIELD node, triangles, degree, cc
         RETURN node, triangles, degree ORDER BY node""").collect()
    assert(tr.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 0L, 1L), (1L, 0L, 1L)))
    // sssp with unit weights from seed 0 (undirected): dist 0 and 1
    val sp = eng.query(
      """CALL graph.sssp('KNOWS', [0], true) YIELD node, dist
         RETURN node, dist ORDER BY node""").collect()
    assert(sp.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (1L, 1L)))
    // harmonic closeness of both seeds on the undirected pair: each
    // reaches the other at distance 1 → closeness 1.0
    val cl = eng.query(
      """CALL graph.closeness('KNOWS', [0, 1], true)
         YIELD origin, n_reached, closeness
         RETURN origin, n_reached, closeness ORDER BY origin""").collect()
    assert(cl.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((0L, 1L, 1.0), (1L, 1L, 1.0)))
    // HLL distinct estimate of a node property (3 distinct names →
    // the m=256 sketch is near-exact at this cardinality)
    val de = eng.query(
      """CALL db.distinctEstimate('Person', 'name') YIELD n_hll
         RETURN n_hll""").collect()
    assert(de.length == 1 && math.abs(de(0).getDouble(0) - 3.0) < 0.1, de.toSeq)
  }

  test("CALL graph.closeness without seeds is SIZE-ROUTED: exact regime " +
    "at or under graft.closeness.exact.maxVertices, the Eppstein-Wang " +
    "pivot estimator above it; the seeded landmark arm is untouched") {
    val eng = freshEngine // KNOWS: 0 — 1 (undirected below)
    // exact regime (default threshold 10000 >> 2 vertices): every
    // vertex is a pivot, scale factor exactly 1 — each node reaches
    // the other at distance 1
    val ex = eng.query(
      """CALL graph.closeness('KNOWS', true)
         YIELD node, pivots_reached, closeness_est
         RETURN node, pivots_reached, closeness_est ORDER BY node""").collect()
    assert(ex.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((0L, 1L, 1.0), (1L, 1L, 1.0)), ex.toSeq)
    // force the sampled regime: 2 vertices > maxVertices 1, pivots 1 →
    // the single md5-ranked pivot is node 1 (md5("1") < md5("0")), so
    // only node 0 gets a row, its inverse-distance sum scaled by
    // n/k = 2 — the production caller gets the ∝-pivots plan without
    // knowing the estimator exists
    spark.conf.set("graft.closeness.exact.maxVertices", "1")
    spark.conf.set("graft.closeness.pivots", "1")
    try {
      val sm = eng.query(
        """CALL graph.closeness('KNOWS', true)
           YIELD node, pivots_reached, closeness_est
           RETURN node, pivots_reached, closeness_est ORDER BY node""").collect()
      assert(sm.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq((0L, 1L, 2.0)), sm.toSeq)
    } finally {
      spark.conf.unset("graft.closeness.exact.maxVertices")
      spark.conf.unset("graft.closeness.pivots")
    }
    // the explicit-seed landmark arm keeps its own exact semantics and
    // YIELD columns, independent of the router
    val cl = eng.query(
      """CALL graph.closeness('KNOWS', [0, 1], true)
         YIELD origin, n_reached, closeness
         RETURN origin, n_reached, closeness ORDER BY origin""").collect()
    assert(cl.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((0L, 1L, 1.0), (1L, 1L, 1.0)), cl.toSeq)
  }

  test("CALL db.procedures lists the registry, including graph analytics") {
    val names = freshEngine.query(
      "CALL db.procedures() YIELD name RETURN name").collect()
      .map(_.getString(0)).toSet
    Seq("db.labels", "db.procedures", "graph.pagerank",
      "graph.labelpropagation", "graph.components", "graph.fuzzymatch",
      "graph.kcore", "graft.series", "analytics.summary",
      "analytics.regressions", "analytics.baselines", "analytics.trends",
      "analytics.slowest")
      .foreach(p => assert(names.contains(p), s"missing $p"))
  }

  test("CALL analytics.* reads an at-rest audit sink through Cypher") {
    val eng = freshEngine
    val audit = new graft.ops.QueryAudit(spark)
    (1 to 20).foreach(_ => audit.record("MATCH (d:Doc) RETURN d", "collect", 10.0))
    Thread.sleep(5)
    (1 to 5).foreach(_ => audit.record("MATCH (d:Doc) RETURN d", "collect", 80.0))
    audit.record("MATCH (x) RETURN x", "collect", 30.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_auditsink")
      .toFile.getAbsolutePath
    audit.flushTo(dir)
    val alerts = eng.query(
      s"""CALL analytics.regressions('$dir') YIELD ratio, severity
         RETURN ratio, severity""").collect()
    assert(alerts.length == 1)
    assert(alerts(0).getDouble(0) == 8.0 && alerts(0).getString(1) == "critical")
    val summary = eng.query(
      s"""CALL analytics.summary('$dir', 50.0) YIELD total_queries, n_slow
         RETURN total_queries, n_slow""").collect()
    assert(summary(0).getLong(0) == 26L && summary(0).getLong(1) == 5L)
    val base = eng.query(
      s"""CALL analytics.baselines('$dir') YIELD fingerprint, n
         RETURN count(fingerprint) AS k, sum(n) AS total""").collect()
    assert(base(0).getLong(0) == 2L && base(0).getLong(1) == 26L)
    val trends = eng.query(
      s"""CALL analytics.trends('$dir', 3600) YIELD query_count
         RETURN sum(query_count) AS n""").collect()
    assert(trends(0).getLong(0) == 26L)
    val slow = eng.query(
      s"""CALL analytics.slowest('$dir', 3) YIELD durationMs
         RETURN count(durationMs) AS k, min(durationMs) AS mn""").collect()
    assert(slow(0).getLong(0) == 3L && slow(0).getDouble(1) == 80.0)
  }

  test("CALL graph.fuzzyMatch mines near-duplicate entity names") {
    import spark.implicits._
    val person = Seq((0L, "Smith"), (1L, "Smyth"), (2L, "Jones"), (3L, "Smith"))
      .toDF("__ID__", "name")
    val eng = new CypherEngine(spark,
      new GraphCatalog().addEntity("Person", person))
    val r = eng.query(
      """CALL graph.fuzzyMatch('Person', 'name', 1) YIELD id1, id2, dist
         RETURN id1, id2, dist ORDER BY id1, id2""").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((0L, 1L, 1L), (0L, 3L, 0L), (1L, 3L, 1L)))
  }

  test("DETACH DELETE scrubs relationship tables with undeclared labels") {
    import spark.implicits._
    val person = Seq((0L, "A"), (1L, "B")).toDF("__ID__", "name")
    val likes = Seq((0L, 0L, 1L)).toDF("__ID__", "__SOURCE__", "__TARGET__")
    val cat = new GraphCatalog()
      .addEntity("Person", person)
      .addRelationship("LIKES", likes) // no src/dst labels declared
    val eng = new CypherEngine(spark, cat)
    eng.execute("MATCH (p:Person {name: 'B'}) DETACH DELETE p")
    assert(eng.query("MATCH (p:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 1L)
    // the dangling A->B edge must be gone despite undeclared labels
    assert(eng.catalog.relationship("LIKES").df.count() == 0L)
  }

  test("created-id assignment is dense, deterministic, and window-free") {
    import graft.compiler.DenseId
    // multi-partition input: the old row_number window would funnel all
    // rows through one task ("No Partition Defined" warning)
    val df = spark.range(0, 1000, 1, numPartitions = 8)
      .selectExpr("id AS __rowid", "id * 2 AS payload")
    val assigned = DenseId.assign(df, Seq("__rowid"), "__nid", 5000L)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"id plan must not contain a Window:\n$plan")
    val rows = assigned.collect().map(r => (r.getLong(0), r.getLong(2)))
    // dense contiguous ids in __rowid order, stable across runs
    assert(rows.sortBy(_._1).map(_._2).toSeq == (5000L until 6000L))
    val again = DenseId.assign(df, Seq("__rowid"), "__nid", 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
  }

  test("DenseId overwrites a pre-existing column with the id name") {
    import graft.compiler.DenseId
    // a property sharing the id column name must not survive as a
    // duplicate column (ambiguous downstream in unionByName) — the
    // assigned id replaces it, matching the old row_number+withColumn
    val df = spark.range(0, 10, 1, numPartitions = 4)
      .selectExpr("id AS __rowid", "id * 100 AS __nid")
    val assigned = DenseId.assign(df, Seq("__rowid"), "__nid", 0L)
    assert(assigned.columns.count(_ == "__nid") == 1, assigned.columns.toSeq)
    val ids = assigned.orderBy("__rowid").collect().map(
      _.getLong(assigned.columns.indexOf("__nid"))).toSeq
    assert(ids == (0L until 10L))
  }

  test("CREATE from a multi-partition frame mints dense contiguous ids") {
    val eng = freshEngine
    eng.execute(
      """MATCH (p:Person) CREATE (t:Tag {src: p.name})""")
    val ids = eng.catalog.entity("Tag").df
      .select("__ID__").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L))
    // appending again continues after the current max id
    eng.execute("""MATCH (p:Person) CREATE (t:Tag {src: p.name})""")
    val ids2 = eng.catalog.entity("Tag").df
      .select("__ID__").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids2 == (0L to 5L))
  }

  test("durable catalog snapshot: a mutated catalog round-trips through " +
    "disk; the pointer moves atomically after the version is complete") {
    import graft.model.CatalogStore
    val dir = java.nio.file.Files.createTempDirectory("graft_cat")
      .toFile.getAbsolutePath
    val eng = freshEngine
    eng.execute("CREATE (p:Person {name: 'Dave', age: 40})")
    eng.execute(
      """MATCH (a:Person {name: 'Alice'}), (d:Person {name: 'Dave'})
         CREATE (a)-[:KNOWS]->(d)""")
    eng.execute("MATCH (p:Person {name: 'Bob'}) SET p.age = 26")
    val v1 = CatalogStore.save(spark, eng.catalog, dir)
    assert(v1 == "v00001")
    // load into a FRESH engine: queries see the mutated state
    val cat2 = CatalogStore.load(spark, dir)
    val eng2 = new CypherEngine(spark, cat2)
    val names = eng2.query(
      "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN b.name AS n ORDER BY n")
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("Bob", "Dave"), names)
    assert(eng2.query("MATCH (p:Person {name: 'Bob'}) RETURN p.age AS a")
      .collect().head.getLong(0) == 26L)
    // a second save becomes a new version and the pointer follows;
    // time-travel to v1 still sees the pre-second-mutation state
    eng2.execute("MATCH (p:Person {name: 'Dave'}) DETACH DELETE p")
    val v2 = CatalogStore.save(spark, eng2.catalog, dir)
    assert(v2 == "v00002")
    cat2.close() // release eng2's read lease on v00001 before the prune
    assert(CatalogStore.versions(spark, dir) == Seq("v00001", "v00002"))
    val live = new CypherEngine(spark, CatalogStore.load(spark, dir))
    assert(live.query("MATCH (p:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 3L)
    val oldCat = CatalogStore.load(spark, dir, version = Some("v00001"))
    val old = new CypherEngine(spark, oldCat)
    assert(old.query("MATCH (p:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 4L)
    // prune retains only the live version — the time-travel reader
    // must release its read lease first, or prune refuses (the
    // open-reader contract, spec'd separately)
    oldCat.close()
    CatalogStore.prune(spark, dir)
    assert(CatalogStore.versions(spark, dir) == Seq("v00002"))
    assert(new CypherEngine(spark, CatalogStore.load(spark, dir))
      .query("MATCH (p:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 3L)
    // crash-safety shape: a half-written version directory WITHOUT a
    // pointer move (the crash-mid-save leftover) is garbage, not
    // corruption — load still follows _current; the next save claims
    // the next free version number past the orphan
    val orphan = new java.io.File(s"$dir/v00007")
    orphan.mkdirs()
    assert(new CypherEngine(spark, CatalogStore.load(spark, dir))
      .query("MATCH (p:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 3L)
    val v3 = CatalogStore.save(spark,
      CatalogStore.load(spark, dir), dir)
    assert(v3 == "v00008", v3)
    assert(CatalogStore.load(spark, dir).labels.nonEmpty)
  }

  test("catalog snapshot concurrency: the version claim is exclusive — " +
    "of two savers at the same number one wins and one throws before " +
    "writing; a later saver numbers past any claim") {
    import graft.model.CatalogStore
    val dir = java.nio.file.Files.createTempDirectory("graft_cc")
      .toFile.getAbsolutePath
    val eng = freshEngine
    assert(CatalogStore.save(spark, eng.catalog, dir) == "v00001")
    // two savers raced to v00002 and the OTHER one claimed it first
    // (its marker exists, its data is still being written): this saver
    // must fail LOUDLY before writing anything — the old behavior was
    // silent interleaved overwrites inside one version directory
    new java.io.File(s"$dir/_claim_v00002").createNewFile()
    val err = intercept[java.util.ConcurrentModificationException] {
      CatalogStore.saveAs(spark, eng.catalog, dir, "v00002")
    }
    assert(err.getMessage.contains("v00002"), err.getMessage)
    assert(new java.io.File(s"$dir/v00002").listFiles == null) // wrote nothing
    // pointer and winning snapshot intact
    assert(CatalogStore.current(spark, dir).contains("v00001"))
    val c1 = CatalogStore.load(spark, dir)
    assert(c1.labels.nonEmpty)
    c1.close() // release the read lease so prune below can drop v00001
    // a saver arriving later sees the claim in the listing and numbers
    // PAST it — an in-flight (or crashed) claimer never deadlocks saves
    assert(CatalogStore.save(spark, eng.catalog, dir) == "v00003")
    assert(CatalogStore.current(spark, dir).contains("v00003"))
    // prune collects the superseded version but KEEPS the dir-less
    // claim: it cannot distinguish a crashed claimer from an in-flight
    // saver mid-write, and deleting an in-flight claim would re-open
    // its number for a second claimer — the interleaved-write hazard
    // the claims exist to prevent. Numbering still skips past it.
    CatalogStore.prune(spark, dir)
    assert(CatalogStore.versions(spark, dir) == Seq("v00003"))
    assert(new java.io.File(s"$dir/_claim_v00002").exists())
    assert(CatalogStore.save(spark, eng.catalog, dir) == "v00004")
    // force = the administrative caller asserting nothing is in
    // flight — NOW the dead claim is collected
    CatalogStore.prune(spark, dir, force = true)
    assert(!new java.io.File(s"$dir/_claim_v00002").exists())
    assert(CatalogStore.save(spark, eng.catalog, dir) == "v00005")
  }

  test("catalog snapshot pinned readers: time travel to a pruned or " +
    "unfinished version fails with an error naming the retained ones") {
    import graft.model.CatalogStore
    val dir = java.nio.file.Files.createTempDirectory("graft_tt")
      .toFile.getAbsolutePath
    val eng = freshEngine
    CatalogStore.save(spark, eng.catalog, dir)
    CatalogStore.save(spark, eng.catalog, dir)
    CatalogStore.prune(spark, dir) // drops v00001
    val gone = intercept[IllegalArgumentException] {
      CatalogStore.load(spark, dir, version = Some("v00001"))
    }
    assert(gone.getMessage.contains("pruned") &&
      gone.getMessage.contains("v00002"), gone.getMessage)
    // an unfinished version (claimed, directory exists, no manifest)
    // is refused with the crashed-writer message, not a scan error
    new java.io.File(s"$dir/v00009").mkdirs()
    val unfinished = intercept[IllegalArgumentException] {
      CatalogStore.load(spark, dir, version = Some("v00009"))
    }
    assert(unfinished.getMessage.contains("never completed"),
      unfinished.getMessage)
  }

  test("catalog snapshot OPEN readers: prune refuses to delete a " +
    "version under an active read lease; close() releases it; " +
    "retainLast and force are the documented overrides") {
    import graft.model.CatalogStore
    val dir = java.nio.file.Files.createTempDirectory("graft_lease")
      .toFile.getAbsolutePath
    val eng = freshEngine
    CatalogStore.save(spark, eng.catalog, dir) // v00001
    CatalogStore.save(spark, eng.catalog, dir) // v00002 (current)
    // an open time-travel reader holds lazy plans into v00001 — prune
    // must REFUSE with an error naming the leased version, not let the
    // reader die later on a raw FileNotFoundException mid-scan
    val reader = CatalogStore.load(spark, dir, version = Some("v00001"))
    val refused = intercept[IllegalStateException] {
      CatalogStore.prune(spark, dir)
    }
    assert(refused.getMessage.contains("v00001") &&
      refused.getMessage.contains("lease"), refused.getMessage)
    // the refusal protected the reader: its plans still execute
    assert(new CypherEngine(spark, reader)
      .query("MATCH (p:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) >= 1L)
    // retainLast covers the leased version → prune proceeds (deletes
    // nothing here: both versions retained)
    CatalogStore.prune(spark, dir, retainLast = 2)
    assert(CatalogStore.versions(spark, dir) ==
      Seq("v00001", "v00002"))
    // close() releases the lease; the same default prune now collects
    reader.close()
    CatalogStore.prune(spark, dir)
    assert(CatalogStore.versions(spark, dir) == Seq("v00002"))
    // force overrides an open lease (documented: the overridden
    // reader fails on deleted files) — prove the refusal side first
    CatalogStore.save(spark, eng.catalog, dir) // v00003
    val r2 = CatalogStore.load(spark, dir, version = Some("v00002"))
    intercept[IllegalStateException] { CatalogStore.prune(spark, dir) }
    CatalogStore.prune(spark, dir, force = true)
    assert(CatalogStore.versions(spark, dir) == Seq("v00003"))
    r2.close() // idempotent even though the lease file is gone
  }

  test("catalog snapshot prune: an in-flight saver's PARTIAL version " +
    "directory (claim + tables, _manifest not yet) survives prune with " +
    "its claim; the same version is collected once a LATER finished " +
    "version prunes above it (then it is crashed debris, not in-flight)") {
    import graft.model.CatalogStore
    val dir = java.nio.file.Files.createTempDirectory("graft_pp")
      .toFile.getAbsolutePath
    val eng = freshEngine
    CatalogStore.save(spark, eng.catalog, dir) // v00001
    CatalogStore.save(spark, eng.catalog, dir) // v00002 (current)
    // an in-flight saver mid-write: claim taken, version directory
    // created with table data, manifest NOT yet written
    new java.io.File(s"$dir/_claim_v00003").createNewFile()
    new java.io.File(s"$dir/v00003/Person").mkdirs()
    CatalogStore.prune(spark, dir)
    // v00001 pruned; the in-flight v00003 keeps DIRECTORY and CLAIM
    // together (the r14 advisor inconsistency: the old code kept the
    // claim but deleted the half-written directory under the saver)
    assert(!new java.io.File(s"$dir/v00001").exists())
    assert(new java.io.File(s"$dir/v00003/Person").isDirectory)
    assert(new java.io.File(s"$dir/_claim_v00003").exists())
    // a later saver numbers PAST the in-flight claim
    assert(CatalogStore.save(spark, eng.catalog, dir) == "v00004")
    assert(CatalogStore.save(spark, eng.catalog, dir) == "v00005")
    // now v00003 sorts BELOW a finished prune candidate (v00004):
    // nothing in flight can still hold it — collected, claim included
    CatalogStore.prune(spark, dir)
    assert(CatalogStore.versions(spark, dir) == Seq("v00005"),
      CatalogStore.versions(spark, dir))
    assert(!new java.io.File(s"$dir/v00003").exists())
    assert(!new java.io.File(s"$dir/_claim_v00003").exists())
    // force collects a fresh in-flight partial too (the administrative
    // caller asserting nothing is in flight)
    new java.io.File(s"$dir/_claim_v00006").createNewFile()
    new java.io.File(s"$dir/v00006/Person").mkdirs()
    CatalogStore.prune(spark, dir, force = true)
    assert(!new java.io.File(s"$dir/v00006").exists())
    assert(!new java.io.File(s"$dir/_claim_v00006").exists())
  }

  test("CALL catalog.save/versions/prune: snapshots are reachable from " +
    "the Cypher surface and SHOW PROCEDURES lists them") {
    import graft.model.CatalogStore
    val dir = java.nio.file.Files.createTempDirectory("graft_cp")
      .toFile.getAbsolutePath
    val eng = freshEngine
    eng.execute("CREATE (p:Person {name: 'Dave', age: 40})")
    val saved = eng.query(
      s"CALL catalog.save('$dir') YIELD version, dir RETURN version, dir")
      .collect()
    assert(saved.map(_.getString(0)).toSeq == Seq("v00001"))
    assert(saved.head.getString(1) == dir)
    // the snapshot taken through the procedure is the post-mutation
    // catalog, loadable end-to-end
    val cat2 = CatalogStore.load(spark, dir)
    val eng2 = new CypherEngine(spark, cat2)
    assert(eng2.query("MATCH (p:Person) RETURN count(*) AS n")
      .collect().head.getLong(0) == 4L)
    cat2.close() // release the read lease so CALL catalog.prune can drop v1
    eng.query(s"CALL catalog.save('$dir') YIELD version RETURN version")
      .collect()
    val vs = eng.query(
      s"""CALL catalog.versions('$dir') YIELD version, current
          RETURN version, current ORDER BY version""").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(vs == Seq(("v00001", false), ("v00002", true)), vs)
    val dropped = eng.query(
      s"CALL catalog.prune('$dir') YIELD version RETURN version")
      .collect().map(_.getString(0)).toSeq
    assert(dropped == Seq("v00001"), dropped)
    // discoverable: SHOW PROCEDURES (real syntax, desugared onto
    // db.procedures) lists the family
    val listed = eng.query("SHOW PROCEDURES").collect()
      .map(_.getString(0)).filter(_.startsWith("catalog.")).toSeq
    assert(listed == Seq("catalog.prune", "catalog.save", "catalog.versions"),
      listed)
  }
}
