package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.GraphCatalog

/** Property-based semantic invariants, mirroring the reference's
  * Hypothesis suite (/root/reference/tests/property_based/
  * test_query_properties.py): idempotency, predicate commutativity,
  * query-equivalence across formulations, null propagation, aggregation
  * invariants — over generated graphs.
  */
class PropertySpec extends AnyFunSuite {

  /** Minimal deterministic forAll over ScalaCheck generators (the
    * scalatest-scalacheck bridge isn't in the offline dependency set).
    */
  private def forAll[A](g: Gen[A], trials: Int = 8)(body: A => Unit): Unit =
    (0 until trials).foreach { i =>
      body(g.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(sys.error("gen failure")))
    }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b))(t => body(t._1, t._2))

  private lazy val spark = SparkSpec.session

  private def engineFor(rows: Seq[(Long, String, Long, Double)]): CypherEngine = {
    import spark.implicits._
    val df = rows.toDF("__ID__", "name", "age", "score")
    new CypherEngine(spark, new GraphCatalog().addEntity("P", df))
  }

  private val rowGen: Gen[(Long, String, Long, Double)] = for {
    name <- Gen.alphaStr.map(_.take(8))
    age <- Gen.chooseNum(-5L, 120L)
    score <- Gen.chooseNum(-10.0, 10.0)
  } yield (0L, name, age, score)

  private val tableGen: Gen[Seq[(Long, String, Long, Double)]] =
    Gen.chooseNum(1, 25).flatMap(n => Gen.listOfN(n, rowGen))
      .map(_.zipWithIndex.map { case ((_, n2, a, s), i) => (i.toLong, n2, a, s) })

  private def rowsOf(e: CypherEngine, q: String): Set[String] =
    e.query(q).collect().map(_.mkString("|")).toSet

  test("idempotency: same query, same result") {
    forAll(tableGen) { rows =>
      val e = engineFor(rows)
      val q = "MATCH (p:P) WHERE p.age > 30 RETURN p.name AS n, p.age AS a"
      assert(rowsOf(e, q) == rowsOf(e, q))
    }
  }

  test("AND commutativity") {
    forAll2(tableGen, Gen.chooseNum(0L, 100L)) { (rows, k) =>
      val e = engineFor(rows)
      val ab = rowsOf(e, s"MATCH (p:P) WHERE p.age > $k AND p.score > 0 RETURN p.name AS n")
      val ba = rowsOf(e, s"MATCH (p:P) WHERE p.score > 0 AND p.age > $k RETURN p.name AS n")
      assert(ab == ba)
    }
  }

  test("query equivalence: WHERE conjunction == chained WITH filters") {
    forAll(tableGen) { rows =>
      val e = engineFor(rows)
      val once = rowsOf(e,
        "MATCH (p:P) WHERE p.age > 10 AND p.score > 0 RETURN p.name AS n")
      val chained = rowsOf(e,
        """MATCH (p:P) WITH p WHERE p.age > 10 WITH p WHERE p.score > 0
           RETURN p.name AS n""")
      assert(once == chained)
    }
  }

  test("null propagation: comparison with missing property filters everything") {
    forAll(tableGen) { rows =>
      val e = engineFor(rows)
      assert(e.query("MATCH (p:P) WHERE p.nope > 0 RETURN p.name AS n").count() == 0)
      // ... but IS NULL keeps everything
      assert(e.query("MATCH (p:P) WHERE p.nope IS NULL RETURN p.name AS n").count()
        == rows.size)
    }
  }

  test("aggregation invariants: count == size, sum splits by filter") {
    forAll(tableGen) { rows =>
      val e = engineFor(rows)
      val n = e.query("MATCH (p:P) RETURN count(*) AS n").collect().head.getLong(0)
      assert(n == rows.size)
      def s(q: String): Long =
        e.query(q).collect().head.getLong(0)
      val total = s("MATCH (p:P) RETURN coalesce(sum(p.age), 0) AS s")
      val lo = s("MATCH (p:P) WHERE p.age <= 50 RETURN coalesce(sum(p.age), 0) AS s")
      val hi = s("MATCH (p:P) WHERE p.age > 50 RETURN coalesce(sum(p.age), 0) AS s")
      assert(total == lo + hi)
    }
  }

  test("DISTINCT is idempotent and LIMIT bounds cardinality") {
    forAll2(tableGen, Gen.chooseNum(1, 10)) { (rows, k) =>
      val e = engineFor(rows)
      val d1 = rowsOf(e, "MATCH (p:P) RETURN DISTINCT p.age AS a")
      assert(d1.size <= rows.map(_._3).distinct.size + 0)
      assert(e.query(s"MATCH (p:P) RETURN p.name AS n LIMIT $k").count() <= k)
    }
  }

  test("hash sampling is invariant under repartitioning and row order") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    forAll2(Gen.chooseNum(20, 200), Gen.chooseNum(1, 15)) { (n, sixteenths) =>
      val base = spark.range(0, n.toLong).toDF("doc_id")
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        graft.operators.Sampling.hashSample(df, "doc_id", sixteenths)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      // same membership no matter how the data is laid out — the
      // distributed-correctness property rand() sampling cannot give
      assert(ids(base) == ids(base.repartition(7, col("doc_id"))))
      assert(ids(base) == ids(base.orderBy(col("doc_id").desc)))
    }
  }

  test("UNION is set-commutative") {
    forAll(tableGen) { rows =>
      val e = engineFor(rows)
      val a = rowsOf(e,
        "MATCH (p:P) WHERE p.age > 20 RETURN p.age AS a UNION MATCH (p:P) WHERE p.score > 0 RETURN p.age AS a")
      val b = rowsOf(e,
        "MATCH (p:P) WHERE p.score > 0 RETURN p.age AS a UNION MATCH (p:P) WHERE p.age > 20 RETURN p.age AS a")
      assert(a == b)
    }
  }

  private val docGen: Gen[Seq[(Long, String)]] = {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "echo", "fox",
      "golf", "hotel", "india", "jazz")
    Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(3, 30).flatMap(m => Gen.listOfN(m, word).map(_.mkString(" ")))))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  test("decontamination hits are a subset of train with positive counts") {
    import spark.implicits._
    forAll(docGen, trials = 4) { docs =>
      val df = docs.toDF("doc_id", "text")
      val train = df.filter($"doc_id" % 3 =!= 0)
      val bench = df.filter($"doc_id" % 3 === 0)
      val hits = graft.operators.Dedup.decontaminate(train, bench, "doc_id", "text", n = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val trainIds = train.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(hits.keySet.subsetOf(trainIds))
      assert(hits.values.forall(_ > 0))
      // a train doc that IS a benchmark doc's text must always be hit
      val benchTexts = bench.select("text").collect().map(_.getString(0)).toSet
      val exactCopies = docs.filter { case (i, t) =>
        trainIds.contains(i) && benchTexts.contains(t) }.map(_._1)
      exactCopies.foreach(id => assert(hits.contains(id), s"copy $id missed"))
    }
  }

  test("repetition stats ratios stay in range; verdict matches components") {
    import spark.implicits._
    forAll(docGen, trials = 4) { docs =>
      val out = graft.operators.TextAnalysis.repetitionStats(docs.toDF("doc_id", "text"))
        .collect()
      out.foreach { r =>
        val (tg, dup) = (r.getAs[Double]("top2gram_frac"), r.getAs[Double]("dup_token_frac"))
        assert(dup >= 0.0 && dup <= 1.0)
        assert(tg >= 0.0 && tg <= 2.0) // overlapping 2-grams: ≤ 2n/n
        val pass = r.getAs[Int]("gopher_pass")
        val manual = r.getAs[Int]("n_tokens") >= 20 && tg <= 0.18 + 1e-9 &&
          dup <= 0.6 + 1e-9 &&
          r.getAs[Double]("mean_word_len") >= 2.0 - 1e-9 &&
          r.getAs[Double]("mean_word_len") <= 12.0 + 1e-9
        assert((pass == 1) == manual || math.abs(tg - 0.18) < 1e-4 ||
          math.abs(dup - 0.6) < 1e-4, s"verdict mismatch: $r")
      }
    }
  }

  test("int8 quantization preserves cosine within the quantization error bound") {
    import spark.implicits._
    val corpusGen = Gen.chooseNum(8, 24).flatMap { d => // ONE dim per corpus
      Gen.listOfN(6, Gen.listOfN(d,
        Gen.chooseNum(-1.0, 1.0).suchThat(v => math.abs(v) > 1e-6)))
    }
    forAll(corpusGen.map(_.zipWithIndex), trials = 4) { vecs0 =>
      val vecs = vecs0.map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
      val df = vecs.toDF("vec_id", "embedding")
      val exact = graft.operators.Similarity
        .bruteForceTopK(df, "vec_id", "embedding", 0L, vecs.size - 1)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val quant = graft.operators.Similarity
        .quantizedTopK(df, "vec_id", "embedding", 0L, vecs.size - 1)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      quant.foreach { case (id, q) =>
        // max-abs int8 quantization moves each normalized component by
        // ≤ 1/254; cosine of d-dim vectors shifts well under 0.15 here
        assert(math.abs(q - exact(id)) < 0.15, s"id $id: $q vs ${exact(id)}")
      }
    }
  }

  private val corpusGen: Gen[Seq[(Long, String)]] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val paraGen = Gen.chooseNum(1, 3)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    val docGen = Gen.chooseNum(1, 4)
      .flatMap(n => Gen.listOfN(n, paraGen)).map(_.mkString("\n"))
    Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  test("paragraph dedup: conservation (kept = distinct contents) and idempotence") {
    import spark.implicits._
    forAll(corpusGen, trials = 6) { docs =>
      val df = docs.toDF("doc_id", "text")
      val once = graft.operators.Dedup.paragraphDedup(df, "doc_id", "text")
        .collect()
      // every distinct paragraph content survives exactly once
      val kept = once.map(r => r.getAs[Long]("n_paras") - r.getAs[Long]("n_dropped")).sum
      val distinctParas = docs.flatMap(_._2.split("\n")).filter(_.nonEmpty).distinct.size
      assert(kept == distinctParas, s"kept $kept != distinct $distinctParas")
      // a second pass over the cleaned corpus drops nothing
      val clean = once.map(r => (r.getLong(0), r.getAs[String]("clean_text"))).toSeq
      val twice = graft.operators.Dedup
        .paragraphDedup(clean.toDF("doc_id", "text"), "doc_id", "text").collect()
      assert(twice.forall(_.getAs[Long]("n_dropped") == 0L),
        "paragraph dedup is not idempotent")
    }
  }

  test("span cut: token conservation and every duplicated window loses all but one copy") {
    import spark.implicits._
    forAll(corpusGen, trials = 6) { docs =>
      // flatten paragraphs into plain token streams for the span ops
      val flat = docs.map { case (id, t) => (id, t.replace("\n", " ")) }
      val df = flat.toDF("doc_id", "text")
      val m = 3
      val cut = graft.operators.Dedup.cutDuplicatedSpans(df, "doc_id", "text", m)
        .collect().map(r => (r.getLong(0),
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_cut"),
            r.getAs[String]("clean_text")))).toMap
      flat.foreach { case (id, t) =>
        val (nTok, nCut, clean) = cut(id)
        val orig = t.split("\\s+").count(_.nonEmpty)
        assert(nTok == orig, s"doc $id token count drifted")
        val remaining = if (clean.isEmpty) 0 else clean.split(" ").length
        assert(remaining == orig - nCut, s"doc $id: $remaining != $orig - $nCut")
      }
      // differential check against a direct in-memory reference
      // implementation of keep-first cut-the-rest
      val toked = flat.map { case (id, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
      }
      val occ = toked.flatMap { case (id, toks) =>
        toks.sliding(m).zipWithIndex.collect {
          case (g, i) if g.length == m => (g.mkString(" "), id, i)
        }
      }
      val cutWins = occ.groupBy(_._1).valuesIterator
        .filter(_.map(_._2).distinct.size >= 2)
        .flatMap(os => os.sortBy(o => (o._2, o._3)).tail) // all but canonical
        .toSeq
      val cutPos = cutWins.flatMap { case (_, id, p) =>
        (p until p + m).map(tp => (id, tp))
      }.toSet
      toked.foreach { case (id, toks) =>
        val expectClean = toks.zipWithIndex
          .collect { case (tok, tp) if !cutPos((id, tp)) => tok }.mkString(" ")
        val expectCut = toks.indices.count(tp => cutPos((id, tp)))
        val (_, nCut, clean) = cut(id)
        assert(clean == expectClean, s"doc $id clean text diverged")
        assert(nCut == expectCut.toLong, s"doc $id n_cut diverged")
      }
    }
  }

  test("random mutation sequences match an in-memory graph model") {
    // op = (kind 0..5, key 0..5, value 0..99): CREATE / SET / MERGE /
    // DELETE / SET += / REMOVE against one label, mirrored in a Map.
    // CREATE is unconditional (Cypher semantics: duplicates allowed →
    // model keeps a multiset per key; queries compare (key, v)
    // multisets). SET += and REMOVE also read m.v back in the same
    // query, which must already see the write.
    val opGen: Gen[Seq[(Int, Int, Int)]] = Gen.chooseNum(5, 18).flatMap(n =>
      Gen.listOfN(n, for {
        k <- Gen.chooseNum(0, 5); key <- Gen.chooseNum(0, 5)
        v <- Gen.chooseNum(0, 99)
      } yield (k, key, v)))
    forAll(opGen, trials = 4) { ops =>
      import spark.implicits._
      import graft.model.GraphCatalog
      val seed = Seq((0L, 0L, 7L)).toDF("__ID__", "k", "v")
      val eng = new CypherEngine(spark,
        new GraphCatalog().addEntity("M", seed))
      val model = scala.collection.mutable.Buffer[(Long, Option[Long])]((0L, Some(7L)))
      def write(key: Int, v: Option[Long]): Unit = model.indices.foreach(i =>
        if (model(i)._1 == key) model(i) = (key.toLong, v))
      def readBack(cypher: String, key: Int): Unit = {
        val got = eng.execute(cypher).collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
        val want = model.filter(_._1 == key).map(_._2).toSeq
        assert(got == want, s"same-query read diverged: $cypher; ops=$ops")
      }
      ops.foreach { case (kind, key, v) =>
        kind match {
          case 0 =>
            eng.execute(s"CREATE (m:M {k: $key, v: $v})")
            model += ((key.toLong, Some(v.toLong)))
          case 1 =>
            eng.execute(s"MATCH (m:M {k: $key}) SET m.v = $v")
            write(key, Some(v.toLong))
          case 2 =>
            eng.execute(s"MERGE (m:M {k: $key}) ON CREATE SET m.v = $v " +
              s"ON MATCH SET m.v = m.v + 1")
            if (model.exists(_._1 == key))
              model.indices.foreach(i =>
                if (model(i)._1 == key) model(i) = (key.toLong, model(i)._2.map(_ + 1)))
            else model += ((key.toLong, Some(v.toLong)))
          case 3 =>
            eng.execute(s"MATCH (m:M {k: $key}) DELETE m")
            val keep = model.filterNot(_._1 == key)
            model.clear(); model ++= keep
          case 4 =>
            write(key, Some(v.toLong))
            readBack(s"MATCH (m:M {k: $key}) SET m += {v: $v} RETURN m.v AS v", key)
          case 5 =>
            write(key, None)
            readBack(s"MATCH (m:M {k: $key}) REMOVE m.v RETURN m.v AS v", key)
        }
      }
      val got = eng.query("MATCH (m:M) RETURN m.k AS k, m.v AS v")
        .collect().map(r => (r.getLong(0), Option(r.getAs[Any](1)))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      val want = model.toSeq.map(t => (t._1, t._2: Option[Any]))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == want, s"mutation state diverged; ops=$ops")
    }
  }

  test("random relationship-mutation sequences match an in-memory edge model") {
    // fixed 4-node graph; ops = (kind 0..3, k1, k2, v): MERGE counter
    // (ON CREATE also sets r.m = v) / matched SET r.n = v / REMOVE r.n /
    // SET r = {n: v}, which nulls m — mirrored in a Map keyed by the
    // (k1, k2) pair with Option[Long] (n, m) values (REMOVE → None, and
    // the counter on a removed property stays None: null + 1 is null)
    val relOpGen: Gen[Seq[(Int, Int, Int, Int)]] = Gen.chooseNum(4, 14).flatMap(n =>
      Gen.listOfN(n, for {
        kind <- Gen.chooseNum(0, 3)
        k1 <- Gen.chooseNum(0, 3); k2 <- Gen.chooseNum(0, 3)
        v <- Gen.chooseNum(0, 99)
      } yield (kind, k1, k2, v)))
    forAll(relOpGen, trials = 4) { ops =>
      import spark.implicits._
      import graft.model.GraphCatalog
      val nodes = (0L to 3L).map(i => (i, i)).toDF("__ID__", "k")
      val eng = new CypherEngine(spark,
        new GraphCatalog().addEntity("M", nodes))
      val model = scala.collection.mutable.Map.empty[(Int, Int), (Option[Long], Option[Long])]
      def write(k: (Int, Int), n: Option[Long], m: Option[Long] => Option[Long]): Unit =
        model.get(k).foreach(old => model(k) = (n, m(old._2)))
      // seed the R type (MATCH on an unknown type throws by design —
      // the ETL-safety divergence documented in GraphCatalog)
      val seeded = (0, 0, 1, 0) +: ops
      seeded.foreach { case (kind, k1, k2, v) =>
        kind match {
          case 0 =>
            eng.execute(
              s"""MATCH (a:M {k: $k1}), (b:M {k: $k2})
                 MERGE (a)-[r:R]->(b) ON CREATE SET r.n = 1, r.m = $v
                 ON MATCH SET r.n = r.n + 1""")
            model((k1, k2)) = model.get((k1, k2)).fold((Option(1L), Option(v.toLong)))(
              old => (old._1.map(_ + 1L), old._2))
          case 1 =>
            eng.execute(
              s"""MATCH (a:M {k: $k1})-[r:R]->(b:M {k: $k2})
                 SET r.n = $v""")
            write((k1, k2), Some(v.toLong), identity)
          case 2 =>
            eng.execute(
              s"""MATCH (a:M {k: $k1})-[r:R]->(b:M {k: $k2})
                 REMOVE r.n""")
            write((k1, k2), None, identity)
          case 3 =>
            eng.execute(
              s"""MATCH (a:M {k: $k1})-[r:R]->(b:M {k: $k2})
                 SET r = {n: $v}""")
            write((k1, k2), Some(v.toLong), _ => None)
        }
      }
      def opt(r: org.apache.spark.sql.Row, i: Int) =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      val got = eng.query(
        """MATCH (a:M)-[r:R]->(b:M) RETURN a.k AS k1, b.k AS k2, r.n AS n, r.m AS m""")
        .collect()
        .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), (opt(r, 2), opt(r, 3)))).toMap
      assert(got == model.toMap, s"edge state diverged; ops=$ops")
    }
  }

  test("connected components match union-find on random pair sets, both regimes") {
    val pairGen: Gen[Seq[(Long, Long)]] = for {
      nE <- Gen.chooseNum(1, 30)
      es <- Gen.listOfN(nE, for {
        a <- Gen.chooseNum(0L, 19L); b <- Gen.chooseNum(0L, 19L)
      } yield (a, b))
    } yield es
    forAll(pairGen, trials = 6) { pairs =>
      import spark.implicits._
      // in-memory union-find with min-label canonicalization
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val want = ids.map(v => v -> find(v)).toMap
      val df = pairs.toDF("id1", "id2")
      def run(): Map[Long, Long] = graft.operators.Components
        .connectedComponents(df, "id1", "id2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // distributed pointer-jumping regime (gate forced low) must agree
      // with the driver union-find regime AND the reference answer
      assert(run() == want, s"components diverged; pairs=$pairs")
      spark.conf.set("graft.components.driverMaxEdges", "0")
      try assert(run() == want, s"distributed regime diverged; pairs=$pairs")
      finally spark.conf.unset("graft.components.driverMaxEdges")
    }
  }

  test("pagerank matches an in-memory power iteration on random directed graphs") {
    val edgeGen: Gen[Seq[(Long, Long)]] = for {
      nE <- Gen.chooseNum(1, 25)
      es <- Gen.listOfN(nE, for {
        a <- Gen.chooseNum(0L, 11L); b <- Gen.chooseNum(0L, 11L)
      } yield (a, b)) // self-loops, parallel edges, dangling nodes all arise
    } yield es
    forAll(edgeGen, trials = 4) { edges =>
      import spark.implicits._
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val n = nodes.size
      // reference semantics: outdeg counts edge ROWS (parallel edges
      // contribute once each), dangling mass redistributes uniformly
      val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
      var r = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to 3) {
        val dang = nodes.filter(v => !out.contains(v)).map(r).sum
        val contrib = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        edges.foreach { case (s, d) => contrib(d) += r(s) / out(s) }
        r = nodes.map(v =>
          v -> ((1.0 - 0.85) / n + 0.85 * (contrib(v) + dang / n))).toMap
      }
      val got = graft.operators.GraphAlgos
        .pageRank(edges.toDF("src", "dst"), iterations = 3)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(got.keySet == r.keySet, s"node sets diverged; edges=$edges")
      r.foreach { case (v, want) =>
        assert(math.abs(got(v) - want) < 1e-9,
          s"rank($v): got ${got(v)}, want $want; edges=$edges") }
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass leaked; edges=$edges")
    }
    // tolerance mode: a 2-cycle is stationary from the start, so the
    // early stop fires after one iteration and the result is uniform
    import spark.implicits._
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    graft.operators.GraphAlgos
      .pageRank(cyc, iterations = 50, tolerance = Some(1e-12))
      .collect().foreach(x => assert(math.abs(x.getDouble(1) - 0.5) < 1e-12))
  }

  test("kCore matches an in-memory synchronous peel on random digraphs") {
    val caseGen: Gen[(Seq[(Long, Long)], Int, Int)] = for {
      nE <- Gen.chooseNum(0, 30)
      es <- Gen.listOfN(nE, for {
        a <- Gen.chooseNum(0L, 9L); b <- Gen.chooseNum(0L, 9L)
      } yield (a, b)) // asymmetric and parallel edges, self-loops all arise
      k <- Gen.chooseNum(1, 3)
      rounds <- Gen.chooseNum(0, 5)
    } yield (es, k, rounds)
    forAll(caseGen, trials = 10) { case (edges, k, rounds) =>
      import spark.implicits._
      // reference: the edge-set peel — a round keeps the edges whose two
      // ends both have out-degree >= k (counting every edge row)
      var es = edges
      for (_ <- 1 to rounds) {
        val deg = es.groupBy(_._1).view.mapValues(_.size).toMap
        def keep(v: Long) = deg.getOrElse(v, 0) >= k
        es = es.filter { case (a, b) => keep(a) && keep(b) }
      }
      val want = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val got = graft.operators.GraphAlgos
        .kCore(edges.toDF("src", "dst"), k, maxRounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"k=$k rounds=$rounds; edges=$edges")
    }
  }

  test("bigram LM quality bins match an in-memory replay on random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val docGen: Gen[String] = for {
      n <- Gen.chooseNum(0, 6)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      nd <- Gen.chooseNum(4, 8)
      ds <- Gen.listOfN(nd, docGen)
    } yield ("a b" +: ds).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAll(corpusGen, trials = 4) { corpus =>
      import spark.implicits._
      def toks(t: String) = t.trim.toLowerCase.split("\\s+").toSeq
      val isTgt = (id: Long) => id % 2 == 0 // doc 0 ("a b") is always target
      val tgtToks = corpus.filter(c => isTgt(c._1)).flatMap(c => toks(c._2))
      val cu = tgtToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (nTrain, vTrain) = (tgtToks.size.toLong, cu.size.toLong)
      def bigrams(t: String) = { val w = toks(t); w.zip(w.tail) }
      val cb = corpus.filter(c => isTgt(c._1)).flatMap(c => bigrams(c._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      def r4(x: Double) = BigDecimal(x + 1e-11)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val nll = corpus.flatMap { case (id, t) =>
        val bg = bigrams(t)
        if (bg.isEmpty) None else Some(id -> r4(bg.map { case (w1, w2) =>
          if (cb.contains((w1, w2))) -math.log(cb((w1, w2)).toDouble / cu(w1))
          else -math.log(0.4 * (cu.getOrElse(w2, 0L) + 1.0) / (nTrain + vTrain))
        }.sum / bg.size))
      }.toMap
      val sorted = nll.values.toSeq.sorted
      def pct(p: Double) = { // Spark's exact percentile interpolation
        val pos = (sorted.size - 1) * p
        val lo = pos.toInt
        if (lo + 1 >= sorted.size) sorted(lo)
        else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * (pos - lo)
      }
      val (t1, t2) = (pct(1.0 / 3), pct(2.0 / 3))
      val want = nll.map { case (id, v) =>
        id -> ((v, if (v <= t1) "head" else if (v <= t2) "middle" else "tail"))
      }
      val got = graft.operators.TextAnalysis.bigramPerplexityBins(
          corpus.toDF("doc_id", "text"),
          org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("nll"), r.getAs[String]("bucket")))).toMap
      assert(got.keySet == want.keySet, s"doc sets diverged; corpus=$corpus")
      want.foreach { case (id, (v, b)) =>
        assert(math.abs(got(id)._1 - v) < 1e-9,
          s"nll($id): ${got(id)._1} vs $v; corpus=$corpus")
        assert(got(id)._2 == b, s"bucket($id); corpus=$corpus")
      }
    }
  }

  test("label propagation matches an in-memory synchronous replay") {
    val edgeGen: Gen[Seq[(Long, Long)]] = for {
      nE <- Gen.chooseNum(1, 25)
      es <- Gen.listOfN(nE, for {
        a <- Gen.chooseNum(0L, 11L); b <- Gen.chooseNum(0L, 11L)
      } yield (a, b))
    } yield es
    forAll(edgeGen, trials = 4) { edges =>
      import spark.implicits._
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var lab = nodes.map(v => v -> v).toMap
      for (_ <- 1 to 3) {
        val in = edges.groupBy(_._2)
        lab = nodes.map { v =>
          v -> in.get(v).map { es =>
            val counts = es.map(e => lab(e._1))
              .groupBy(identity).view.mapValues(_.size).toMap
            counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          }.getOrElse(v)
        }.toMap
      }
      val got = graft.operators.GraphAlgos
        .labelPropagation(edges.toDF("src", "dst"), iterations = 3)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == lab, s"LPA diverged; edges=$edges")
    }
  }

  test("multiSourceHopDistances matches an in-memory multi-source BFS, " +
    "including searches cut short by maxRounds") {
    val gen = for {
      nE <- Gen.chooseNum(1, 30)
      es <- Gen.listOfN(nE, for {
        a <- Gen.chooseNum(0L, 11L); b <- Gen.chooseNum(0L, 11L)
      } yield (a, b))
      // repeated seeds, and seeds outside the graph (12, 13)
      seeds <- Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, Gen.chooseNum(0L, 13L)))
      maxRounds <- Gen.chooseNum(0, 5)
    } yield (es, seeds, maxRounds)
    forAll(gen, trials = 10) { case (edges, seeds, maxRounds) =>
      import spark.implicits._
      val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val want = seeds.distinct.flatMap { o =>
        val dist = scala.collection.mutable.Map(o -> 0L)
        var frontier = Set(o)
        for (r <- 1 to maxRounds) {
          frontier = frontier.flatMap(out.getOrElse(_, Nil)).filterNot(dist.contains)
          frontier.foreach(dist(_) = r.toLong)
        }
        dist.map { case (n, d) => (o, n, d) }
      }.sorted
      val got = graft.operators.GraphAlgos.multiSourceHopDistances(
          edges.toDF("src", "dst"), seeds.toDF("node"), maxRounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(got == want,
        s"BFS diverged; edges=$edges seeds=$seeds maxRounds=$maxRounds")
    }
  }

  // ---- path materialization vs brute-force walk enumeration ----

  /** Random multigraph on 6 vertices: self-loops and parallel edges
    * allowed — exactly the shapes that stress walk multiplicity, witness
    * tie-breaking, and edge-identity dedup.
    */
  private val multigraphGen: Gen[Seq[(Long, Long, Long)]] = for {
    nE <- Gen.chooseNum(2, 12)
    es <- Gen.listOfN(nE, for {
      s <- Gen.chooseNum(0L, 5L); d <- Gen.chooseNum(0L, 5L)
    } yield (s, d))
  } yield es.zipWithIndex.map { case ((s, d), i) => (i.toLong, s, d) }

  private def pathEngine(edges: Seq[(Long, Long, Long)]): CypherEngine = {
    import spark.implicits._
    val v = (0L to 5L).map(i => (i, s"v$i")).toDF("__ID__", "name")
    val e = edges.toDF("__ID__", "__SOURCE__", "__TARGET__")
    new CypherEngine(spark, new GraphCatalog()
      .addEntity("N", v)
      .addRelationship("E", e, srcLabel = Some("N"), dstLabel = Some("N")))
  }

  /** Every walk of 1..maxH hops as its node sequence, one entry per
    * distinct EDGE sequence (parallel edges multiply entries).
    */
  private def bruteWalks(edges: Seq[(Long, Long, Long)], maxH: Int): Seq[Vector[Long]] = {
    var frontier = (0L to 5L).map(Vector(_))
    val out = scala.collection.mutable.Buffer.empty[Vector[Long]]
    for (_ <- 1 to maxH) {
      frontier = frontier.flatMap(p =>
        edges.collect { case (_, s, d) if s == p.last => p :+ d })
      out ++= frontier
    }
    out.toSeq
  }

  test("materialized walk node sequences match brute-force enumeration (multiset)") {
    forAll(multigraphGen, trials = 6) { edges =>
      val eng = pathEngine(edges)
      spark.conf.set("graft.pathExpand.materializePaths", "true")
      try {
        val got = eng.query(
          """MATCH p = (a:N)-[:E*1..3]->(b:N) RETURN nodes(p) AS ns""")
          .collect().map(_.getSeq[Long](0).toVector).toSeq
        val want = bruteWalks(edges, 3)
        assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
          want.groupBy(identity).view.mapValues(_.size).toMap,
          s"edges=$edges")
      } finally spark.conf.unset("graft.pathExpand.materializePaths")
    }
  }

  test("trail semantics match brute-force edge-unique enumeration (multiset)") {
    forAll(multigraphGen, trials = 6) { edges =>
      val eng = pathEngine(edges)
      // brute force with edge-id uniqueness along each path
      var frontier = (0L to 5L).map(v => (Vector(v), Set.empty[Long]))
      val want = scala.collection.mutable.Buffer.empty[Vector[Long]]
      for (_ <- 1 to 3) {
        frontier = frontier.flatMap { case (p, used) =>
          edges.collect { case (id, s, d) if s == p.last && !used(id) =>
            (p :+ d, used + id)
          }
        }
        want ++= frontier.map(_._1)
      }
      spark.conf.set("graft.pathExpand.trailSemantics", "true")
      spark.conf.set("graft.pathExpand.materializePaths", "true")
      try {
        val got = eng.query(
          """MATCH p = (a:N)-[:E*1..3]->(b:N) RETURN nodes(p) AS ns""")
          .collect().map(_.getSeq[Long](0).toVector).toSeq
        assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
          want.groupBy(identity).view.mapValues(_.size).toMap,
          s"trail multiset diverged; edges=$edges")
      } finally {
        spark.conf.unset("graft.pathExpand.trailSemantics")
        spark.conf.unset("graft.pathExpand.materializePaths")
      }
    }
  }

  test("undirected walks and trails match brute force (one edge, one identity)") {
    forAll(multigraphGen, trials = 5) { edges =>
      val eng = pathEngine(edges)
      // both orientations share the edge's identity: a trail may use an
      // edge in EITHER direction but only once
      val oriented = edges.flatMap { case (id, s, d) =>
        Seq((id, s, d), (id, d, s))
      }
      def brute(unique: Boolean): Seq[Vector[Long]] = {
        var frontier = (0L to 5L).map(v => (Vector(v), Set.empty[Long]))
        val out = scala.collection.mutable.Buffer.empty[Vector[Long]]
        for (_ <- 1 to 2) {
          frontier = frontier.flatMap { case (p, used) =>
            oriented.collect {
              case (id, s, d) if s == p.last && (!unique || !used(id)) =>
                (p :+ d, used + id)
            }
          }
          out ++= frontier.map(_._1)
        }
        out.toSeq
      }
      def run(): Map[Vector[Long], Int] = eng.query(
        """MATCH p = (a:N)-[:E*1..2]-(b:N) RETURN nodes(p) AS ns""")
        .collect().map(_.getSeq[Long](0).toVector).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      spark.conf.set("graft.pathExpand.materializePaths", "true")
      try {
        val walks = run()
        assert(walks == brute(unique = false)
          .groupBy(identity).view.mapValues(_.size).toMap,
          s"undirected walk multiset diverged; edges=$edges")
        spark.conf.set("graft.pathExpand.trailSemantics", "true")
        try {
          val trails = run()
          // same oriented edge list (a self-loop's two union rows are
          // both join candidates — documented divergence: per-label key
          // spaces make true self-loophood undecidable from src = dst
          // values), but each edge IDENTITY is single-use along a path
          assert(trails == brute(unique = true)
            .groupBy(identity).view.mapValues(_.size).toMap,
            s"undirected trail multiset diverged; edges=$edges")
        } finally spark.conf.unset("graft.pathExpand.trailSemantics")
      } finally spark.conf.unset("graft.pathExpand.materializePaths")
    }
  }

  test("zero-length paths (*0..2) bind start=end with an empty tail") {
    forAll(multigraphGen, trials = 4) { edges =>
      val eng = pathEngine(edges)
      spark.conf.set("graft.pathExpand.materializePaths", "true")
      try {
        val got = eng.query(
          """MATCH p = (a:N)-[:E*0..2]->(b:N) RETURN nodes(p) AS ns""")
          .collect().map(_.getSeq[Long](0).toVector).toSeq
        val want = (0L to 5L).map(Vector(_)) ++ bruteWalks(edges, 2)
        assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
          want.groupBy(identity).view.mapValues(_.size).toMap,
          s"*0..2 multiset diverged; edges=$edges")
      } finally spark.conf.unset("graft.pathExpand.materializePaths")
    }
  }

  test("shortestPath witness is the brute-force lex-min; allShortestPaths is the full min-hop set") {
    import scala.math.Ordering.Implicits.seqOrdering
    forAll(multigraphGen, trials = 6) { edges =>
      val eng = pathEngine(edges)
      val byPair = bruteWalks(edges, 4)
        .filter(p => p.head != p.last || p.size > 1)
        .groupBy(p => (p.head, p.last))
      val minWalks = byPair.map { case (k, ps) =>
        val mh = ps.map(_.size).min
        k -> ps.filter(_.size == mh)
      }
      spark.conf.set("graft.pathExpand.materializePaths", "true")
      try {
        val oneRows = eng.query(
          """MATCH p = shortestPath((a:N)-[:E*1..4]->(b:N)) RETURN nodes(p) AS ns""")
          .collect().map(_.getSeq[Long](0).toVector).toSeq
        assert(oneRows.map(p => (p.head, p.last)).distinct.size == oneRows.size,
          s"shortestPath emitted duplicate pairs; edges=$edges")
        val one = oneRows.map(p => (p.head, p.last) -> p).toMap
        assert(one == minWalks.map { case (k, ps) => k -> ps.min },
          s"lex-min witness diverged; edges=$edges")
        val all = eng.query(
          """MATCH p = allShortestPaths((a:N)-[:E*1..4]->(b:N)) RETURN nodes(p) AS ns""")
          .collect().map(_.getSeq[Long](0).toVector).toSeq
        // engine emits one row per distinct (nodes, edge ids): parallel
        // edges multiply rows exactly like the brute-force enumeration
        assert(all.groupBy(identity).view.mapValues(_.size).toMap ==
          minWalks.values.flatten.toSeq
            .groupBy(identity).view.mapValues(_.size).toMap,
          s"allShortest multiset diverged; edges=$edges")
      } finally spark.conf.unset("graft.pathExpand.materializePaths")
    }
  }

  test("shortestPath length(p) is the brute-force least hop count, " +
    "broadcast BFS and frontier loop alike") {
    forAll(multigraphGen, trials = 6) { edges =>
      val eng = pathEngine(edges)
      for ((minH, maxH) <- Seq((1, 4), (0, 3))) {
        // least walk length in minH..maxH per pair; *0.. reports every
        // node at 0 and never again, even when a cycle returns to it
        val walks = bruteWalks(edges, maxH).map(p => ((p.head, p.last), p.size - 1L))
        val zero = if (minH == 0) (0L to 5L).map(v => ((v, v), 0L)) else Nil
        val want = (walks ++ zero).groupMapReduce(_._1)(_._2)(_ min _)
          .map { case ((a, b), h) => (s"v$a", s"v$b", h) }.toSeq.sorted
        def run(): Seq[(String, String, Long)] = eng.query(
          s"""MATCH p = shortestPath((a:N)-[:E*$minH..$maxH]->(b:N))
              RETURN a.name AS a, b.name AS b, length(p) AS hops""")
          .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
        assert(run() == want, s"broadcast BFS *$minH..$maxH; edges=$edges")
        // broadcast off routes the same query through the frontier loop
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try assert(run() == want, s"frontier loop *$minH..$maxH; edges=$edges")
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
    }
  }

  test("sssp matches in-memory Dijkstra on random weighted digraphs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 5) {
      val n = 12 + rnd.nextInt(8)
      val edges = (1 to n * 3).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(9))
      }.filter(e => e._1 != e._2).distinct
      // reference: plain Dijkstra over an adjacency map (min over
      // parallel edges happens naturally — both relax every edge)
      val adj = edges.groupBy(_._1).view
        .mapValues(_.map(e => (e._2, e._3))).toMap
      val dist = scala.collection.mutable.Map(0L -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, 0L))(
        Ordering.by(-_._2))
      while (pq.nonEmpty) {
        val (u, d) = pq.dequeue()
        if (d == dist(u)) adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (dist.get(v).forall(_ > d + w)) { dist(v) = d + w; pq.enqueue((v, d + w)) }
        }
      }
      val got = graft.operators.GraphAlgos.sssp(
          edges.toDF("src", "dst", "weight"),
          Seq(Tuple1(0L)).toDF("node"), maxRounds = n + 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == dist.toMap, s"trial $trial diverged; edges=$edges")
    }
  }

  test("map-side IVF assignment matches a driver-side argmin replay on " +
    "random TIE-DENSE corpora (small integer grids force distance ties)") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(7)
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for (trial <- 1 to 6) {
      val n = 15 + rnd.nextInt(40)
      val dims = 1 + rnd.nextInt(4)
      val nlist = 1 + rnd.nextInt(6)
      // coordinates from {0, 1, 2}: many exact distance ties, the
      // regime where the (dist, cid) tie rule actually decides
      val rows = (1 to n).map(i =>
        (i.toLong, Seq.fill(dims)(rnd.nextInt(3).toDouble)))
      val df = rows.toDF("id", "v")
      val got = Similarity.ivfSampledAssign(df, "id", "v", nlist)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference replay: md5-ranked sample (Spark's md5 = lowercase
      // hex over utf8 — ASCII ordering equals Spark string ordering),
      // argmin of the same left-to-right squared-distance fold, ties
      // to the lower centroid id
      val byId = rows.toMap
      val cents = rows.map(_._1)
        .sortBy(id => (md5Hex(id.toString), id)).take(nlist)
        .sorted
      val expected = rows.map { case (id, v) =>
        val best = cents.minBy { cid =>
          val c = byId(cid)
          (v.zip(c).foldLeft(0.0)((a, p) =>
            a + (p._1 - p._2) * (p._1 - p._2)), cid)
        }
        id -> best
      }.toMap
      assert(got == expected,
        s"trial $trial (n=$n dims=$dims nlist=$nlist) diverged")
    }
  }

  test("thin-edge survivor differential: components over the thin/auto " +
    "edge graphs equal components over the full pair graphs on random " +
    "clone-structured corpora") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Components, Dedup}
    import spark.implicits._
    // random corpora with random clone multiplicities: a pool of short
    // word-salad texts (some near one another by construction: shared
    // prefix, one word swapped), each replicated 1..60×
    val words = Vector("alpha", "beta", "gamma", "delta", "spark", "scale",
      "boiler", "plate", "crawl", "dedup", "mirror", "shard")
    val textGen = for {
      n <- Gen.chooseNum(4, 9)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
    } yield ws.mkString(" ")
    val corpusGen = for {
      k <- Gen.chooseNum(2, 6)
      texts <- Gen.listOfN(k, textGen)
      reps <- Gen.listOfN(k, Gen.chooseNum(1, 60))
    } yield texts.zip(reps)
    forAll(corpusGen, trials = 5) { spec =>
      val rows = spec.zipWithIndex.flatMap { case ((t, r), g) =>
        (0 until r).map(k => (g * 1000L + k, t)) }
      val df = rows.toDF("id", "text")
      def comps(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        Components.connectedComponents(
            edges.select(col("id1"), col("id2")), "id1", "id2")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // minhash est tier
      assert(comps(Dedup.minHashLshDedupEdges(df, "id", "text", 2, 32, 8, 0.5))
        == comps(Dedup.minHashLshPairs(df, "id", "text", 2, 32, 8)
          .filter(col("est_jaccard") >= 0.5)), s"minhash: $spec")
      // ngram exact tier through the ROUTER (full sampling for
      // determinism on small corpora) vs the pair expansion
      assert(comps(Dedup.ngramJaccardDedupEdgesAutoLedger(df, "id", "text",
          n = 2, threshold = 0.5, sampleSixteenths = 16)._1)
        == comps(Dedup.ngramJaccardPairs(df, "id", "text",
          n = 2, threshold = 0.5)), s"ngram: $spec")
      // fuzzy tier (texts as keys)
      val Dedup.FuzzyRouted(fp, fe, _) = Dedup.editDistanceAuto(df, "id", "text")
      assert(comps(fe) == comps(fp), s"fuzzy: $spec")
    }
  }

  test("fuzzy tier differential: exact self pairs and fuzzyLink equal " +
    "brute-force Levenshtein, the MinHash tier is a subset with the true " +
    "distance, and thin edges keep the pairs' components, at maxDist 1 and 2") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.{Components, Dedup}
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // short-alphabet strings of length 0..5 (empty and 1-char included),
    // some replicated as exact clones, all optionally wrapped in one
    // shared template prefix/suffix
    val sideGen = for {
      k <- Gen.chooseNum(4, 10)
      mids <- Gen.listOfN(k, Gen.chooseNum(0, 5).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
      reps <- Gen.listOfN(k, Gen.frequency(3 -> Gen.const(1), 1 -> Gen.chooseNum(2, 4)))
    } yield mids.zip(reps).flatMap { case (m, r) => Seq.fill(r)(m) }
    val trialGen = for {
      l <- sideGen; r <- sideGen; tmpl <- Gen.oneOf(true, false)
    } yield (l, r, tmpl)
    def comps(edges: DataFrame): Map[Long, Long] =
      Components.connectedComponents(edges.select(col("id1"), col("id2")), "id1", "id2")
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    def triples(df: DataFrame): Set[(Long, Long, Long)] =
      df.select(col("id1"), col("id2"), col("dist")).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    forAll(trialGen, trials = 3) { case (lm, rm, tmpl) =>
      def wrap(m: String) = if (tmpl) s"Customer#$m-x" else m
      val ls = lm.zipWithIndex.map { case (m, i) => (i.toLong, wrap(m)) }
      val rs = rm.zipWithIndex.map { case (m, i) => (100L + i, wrap(m)) }
      val left = ls.toDF("id", "s")
      val right = rs.toDF("rid", "rs")
      Seq(1, 2).foreach { d =>
        val ctx = s"d=$d tmpl=$tmpl left=$lm right=$rm"
        val self = (for { (i, a) <- ls; (j, b) <- ls if i < j; e = lev(a, b) if e <= d }
          yield (i, j, e.toLong)).toSet
        val cross = (for { (i, a) <- ls; (j, b) <- rs; e = lev(a, b) if e <= d }
          yield (i, j, e.toLong)).toSet
        // exact tier: the plain operators and the router held on exact
        val exact = Dedup.editDistancePairs(left, "id", "s", maxDist = d)
        assert(triples(exact) == self, s"exact self pairs: $ctx")
        assert(triples(Dedup.fuzzyLink(left, "id", "s", right, "rid", "rs",
          maxDist = d)) == cross, s"fuzzyLink: $ctx")
        val Dedup.FuzzyRouted(xPairs, xEdges, xLed) = Dedup.editDistanceAuto(left, "id", "s",
          maxDist = d, densityThreshold = 1e12, maxMeanKeyLen = 1e12, sampleSixteenths = 16)
        assert(xLed.head().getAs[String]("tier") == "exact", ctx)
        assert(triples(xPairs) == self, s"routed exact pairs: $ctx")
        assert(comps(xEdges) == comps(exact), s"exact thin components: $ctx")
        assert(comps(Dedup.editDistanceDedupEdges(left, "id", "s", maxDist = d))
          == comps(exact), s"exact edges components: $ctx")
        val (xLinks, _) = Dedup.fuzzyLinkAuto(left, "id", "s", right, "rid", "rs",
          maxDist = d, densityThreshold = 1e12, maxMeanKeyLen = 1e12,
          sampleSixteenths = 16)
        assert(triples(xLinks) == cross, s"routed exact links: $ctx")
        // MinHash tier, forced by a zero key-length threshold: a subset
        // of the truth with the true distance on every row
        val Dedup.FuzzyRouted(mPairs, mEdges, mLed) = Dedup.editDistanceAuto(left, "id", "s",
          maxDist = d, maxMeanKeyLen = 0.0, sampleSixteenths = 16)
        val (mLinks, lLed) = Dedup.fuzzyLinkAuto(left, "id", "s", right, "rid", "rs",
          maxDist = d, maxMeanKeyLen = 0.0, sampleSixteenths = 16)
        // two distinct strings leave a non-empty one after compaction
        if (lm.distinct.size > 1)
          assert(mLed.head().getAs[String]("tier") == "minhash", ctx)
        if ((lm ++ rm).distinct.size > 1)
          assert(lLed.head().getAs[String]("tier") == "minhash", ctx)
        val mp = triples(mPairs)
        assert(mp.subsetOf(self), s"minhash pairs ${mp -- self}: $ctx")
        assert(triples(mLinks).subsetOf(cross), s"minhash links: $ctx")
        assert(comps(mEdges) == comps(mPairs), s"minhash thin components: $ctx")
      }
    }
  }
}
