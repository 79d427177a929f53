package graft.compiler

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{GraphCatalog, RelationshipDef}
import graft.parser.CypherAst._
import graft.functions.FunctionRegistry
import graft.paths.PathExpand

/** Clause-by-clause Cypher AST → DataFrame compiler — the Spark-native
  * counterpart of the reference's ClauseExecutor + PatternMatcher +
  * FrameJoiner + ProjectionPlanner (SURVEY.md §3.1). Where the
  * reference executes eagerly over pandas per clause, this builds ONE
  * lazy logical plan for the whole query and lets Catalyst optimize it:
  * filter pushdown, column pruning, join selection and reorder come
  * free (SURVEY.md §4.1); only pattern-level concerns (join on shared
  * variables, optional-match preservation, var-length expansion) are
  * decided here.
  */
final class QueryCompiler(catalog: GraphCatalog, spark: SparkSession,
                          params: Map[String, Any]) {

  private var anonCounter = 0
  private def freshVar(): String = { anonCounter += 1; s"__anon$anonCounter" }

  def compile(q: Query): DataFrame = {
    val frames = q.statements.map(compileSingle)
    if (frames.size == 1) frames.head.df
    else {
      val unioned = frames.map(_.df).reduce(_.unionByName(_))
      val anyBareUnion = q.unionAll.contains(false)
      if (anyBareUnion) unioned.distinct() else unioned
    }
  }

  private lazy val mutator = new MutationEngine(catalog, spark, params)

  def compileSingle(sq: SingleQuery): Frame = {
    var frame: Option[Frame] = None
    sq.clauses.foreach {
      case m: Match  => frame = Some(compileMatch(m, frame))
      case u: Unwind => frame = Some(compileUnwind(u, frame))
      case w: With   => frame = Some(project(frame.getOrElse(unitFrame), w.projection,
        w.where, keepEntities = true))
      case r: Return => frame = Some(project(frame.getOrElse(unitFrame), r.projection,
        None, keepEntities = false))
      case c: Create => frame = Some(mutator.create(frame.getOrElse(unitFrame), c.paths))
      case sc: SetClause =>
        frame = Some(mutator.setItems(frame.getOrElse(
          throw new IllegalArgumentException("SET requires bound variables")), sc.items))
      case d: Delete =>
        frame = Some(mutator.delete(frame.getOrElse(
          throw new IllegalArgumentException("DELETE requires bound variables")),
          d.exprs, d.detach))
      case rm: Remove =>
        frame = Some(mutator.remove(frame.getOrElse(
          throw new IllegalArgumentException("REMOVE requires bound variables")), rm.items))
      case mg: Merge =>
        frame = Some(mutator.merge(frame.getOrElse(unitFrame), mg.path,
          mg.onCreate, mg.onMatch))
      case cp: CallProcedure => frame = Some(compileCall(cp, frame))
      case fe: Foreach =>
        // mutations run per list element; the outer frame's cardinality
        // and bindings are untouched (mutation_engine.py:856-1019)
        val base = frame.getOrElse(unitFrame)
        val listCol = new ExpressionCompiler(base, params).compile(fe.list)
        var sub = Frame(base.df.withColumn(fe.variable, explode(listCol)),
          base.vars + (fe.variable -> ValueVar))
        fe.body.foreach {
          case sc: SetClause => sub = mutator.setItems(sub, sc.items)
          case c: Create     => sub = mutator.create(sub, c.paths)
          case d: Delete     => sub = mutator.delete(sub, d.exprs, d.detach)
          case rm: Remove    => sub = mutator.remove(sub, rm.items)
          case mg: Merge     => sub = mutator.merge(sub, mg.path, mg.onCreate, mg.onMatch)
          case other => throw new UnsupportedOperationException(
            s"FOREACH body clause: $other")
        }
        // frame unchanged
    }
    frame.getOrElse(throw new IllegalArgumentException("query produced no result"))
  }

  /** CALL name(args) [YIELD items] — table-valued procedure dispatch.
    * Mid-query CALL joins the procedure's rows onto every outer binding
    * row (openCypher: the procedure runs per row). With literal/param
    * args the result set is row-invariant, so one evaluation + a cross
    * join is the distributed equivalent of the reference's per-row loop
    * (mutation_engine.py:1061-1143). Args referencing query variables
    * evaluate over the DISTINCT argument tuples — one procedure
    * invocation per distinct tuple, joined back null-safely on the
    * tuple — strictly less driver work than the reference's per-row
    * execution, and more faithful than its first-row-only argument
    * sampling (mutation_engine.py:1092-1096 takes `series.iloc[0]`).
    */
  private def compileCall(cp: CallProcedure, outer: Option[Frame]): Frame = {
    val correlated = outer.exists(o =>
      cp.args.exists(a => freeVars(a).intersect(o.vars.keySet).nonEmpty))
    if (correlated) return compileCorrelatedCall(cp, outer.get)
    def litVal(e: Expr): Any = e match {
      case IntLit(v) => v
      case FloatLit(v) => v
      case StrLit(v) => v
      case BoolLit(v) => v
      case ListLit(els) => els.map(litVal)
      case Param(n) => params(n)
      case other => throw new IllegalArgumentException(s"procedure arg must be literal: $other")
    }
    val argVals: Seq[Any] = cp.args.map(litVal)
    val df = graft.functions.ProcedureRegistry(cp.name)(spark, catalog, argVals)
    val out = applyYields(df, cp)
    val callFrame = Frame(out, out.columns.map(c => c -> (ValueVar: VarMeta)).toMap)
    outer match {
      case None    => callFrame
      case Some(o) =>
        require((o.vars.keySet intersect callFrame.vars.keySet).isEmpty,
          "CALL YIELD name collides with a bound variable")
        Frame(o.df.crossJoin(callFrame.df), o.vars ++ callFrame.vars)
    }
  }

  private def applyYields(df: DataFrame, cp: CallProcedure): DataFrame =
    if (cp.yields.isEmpty) df else {
      val cols = cp.yields.map { y =>
        val c = y.expr match {
          case Variable(n) => col(n)
          case other => throw new IllegalArgumentException(s"YIELD expects column names: $other")
        }
        y.alias.map(a => c.as(a)).getOrElse(c)
      }
      df.select(cols: _*)
    }

  /** Procedures are driver-side table functions, so a correlated CALL is
    * inherently bounded by the number of DISTINCT argument tuples: each
    * tuple is one procedure invocation whose result is tagged with the
    * tuple and joined back to the binding rows (null-safe equality). The
    * tuple count is capped — at 100 TB the binding frame is unbounded
    * but a per-tuple driver loop must not be — and the per-tuple frames
    * union as a BALANCED tree (a left-deep reduce over hundreds of
    * frames makes Catalyst analysis itself the bottleneck).
    */
  private val maxCallTuples = 1000

  private def balancedUnion(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.size == 1) dfs.head
    else balancedUnion(dfs.grouped(2).map {
      case Seq(a, b) => a.unionByName(b)
      case Seq(a)    => a
    }.toSeq)
  private def compileCorrelatedCall(cp: CallProcedure, o: Frame): Frame = {
    val ec = new ExpressionCompiler(o, params)
    val argNames = cp.args.indices.map(i => s"__callarg$i")
    val withArgs = cp.args.zip(argNames).foldLeft(o.df) {
      case (df, (a, n)) => df.withColumn(n, ec.compile(a))
    }
    val tuples = withArgs.select(argNames.map(col): _*)
      .distinct().limit(maxCallTuples + 1).collect()
    require(tuples.length <= maxCallTuples,
      s"correlated CALL ${cp.name}: more than $maxCallTuples distinct argument tuples")
    val proc = graft.functions.ProcedureRegistry(cp.name)
    val perTuple = tuples.toSeq.map { row =>
      val argVals = row.toSeq
      val yielded = applyYields(proc(spark, catalog, argVals), cp)
      argNames.zipWithIndex.foldLeft(yielded) {
        case (df, (n, i)) => df.withColumn(s"${n}__r", lit(row.get(i)))
      }
    }
    require(perTuple.nonEmpty, s"correlated CALL ${cp.name}: empty binding frame")
    val callDf = balancedUnion(perTuple)
    val yieldCols = callDf.columns.filterNot(_.endsWith("__r"))
    require((o.vars.keySet intersect yieldCols.toSet).isEmpty,
      "CALL YIELD name collides with a bound variable")
    val cond = argNames.map(n => withArgs(n) <=> callDf(s"${n}__r")).reduce(_ && _)
    val joined = withArgs.join(callDf, cond, "inner")
      .drop(argNames: _*).drop(argNames.map(n => s"${n}__r"): _*)
    Frame(joined, o.vars ++ yieldCols.map(c => c -> (ValueVar: VarMeta)).toMap)
  }

  /** Single-row empty frame, for queries starting with UNWIND/RETURN. */
  private def unitFrame: Frame = Frame(spark.range(1).select(), Map.empty)

  // ---------------- MATCH ----------------

  private def compileMatch(m: Match, outer: Option[Frame]): Frame = {
    // paths see the outer frame's bindings AND earlier paths' bindings
    // for label inference, so a re-mention of a bound node var needs no
    // repeated label: MATCH (a:Person) OPTIONAL MATCH (a)-[:T]->(b:B)
    val outerVars = outer.map(_.vars).getOrElse(Map.empty[String, VarMeta])
    val pattern0 = m.paths.foldLeft(Option.empty[Frame]) { (acc, p) =>
      val f = compilePath(p, outerVars ++ acc.map(_.vars).getOrElse(Map.empty))
      Some(acc.map(naturalJoin(_, f, "inner")).getOrElse(f))
    }.get
    if (m.optional && outer.isEmpty) {
      // leading OPTIONAL MATCH: like MATCH, but an empty match yields ONE
      // all-null row (openCypher). Lazily: union a null row that survives
      // an anti join against limit(1) of the pattern — no eager probe.
      val f0 = m.where.map(w => applyWhere(pattern0, w)).getOrElse(pattern0)
      val nullRow = spark.range(1).select(
        f0.df.schema.map(sf => lit(null).cast(sf.dataType).as(sf.name)): _*)
      val fallback = nullRow.join(
        f0.df.limit(1).select(lit(1).as("__probe")), lit(true), "left_anti")
      return f0.copy(df = f0.df.unionByName(fallback))
    }
    if (m.optional) {
      val outerF = outer.getOrElse(
        throw new IllegalArgumentException("OPTIONAL MATCH requires a preceding MATCH"))
      // WHERE belongs to the OPTIONAL MATCH (frame_joiner.py:189-310):
      // conjuncts local to the pattern pre-filter it before the left join
      // (best for pushdown); conjuncts referencing outer-ONLY variables
      // become part of the left-join condition so non-matching rows null
      // out instead of dropping. A conjunct counts as cross only if it
      // names a variable bound outside and NOT in the pattern — vars
      // introduced inside an EXISTS subpattern are not references to
      // outer scope (freeVars overapproximates them; intersecting with
      // the outer-only set ignores the purely-local ones).
      val patVarNames = pattern0.vars.keySet
      val outerOnly = outerF.vars.keySet -- patVarNames
      val (crossConjs, localConjs) = m.where.map(conjuncts).getOrElse(Seq.empty)
        .partition(c => freeVars(c).intersect(outerOnly).nonEmpty)
      // EXISTS in the correlated WHERE — two regimes, both precomputed
      // so the left-join condition stays a plain column predicate (the
      // Spark form of the reference's re-entrant exists evaluator,
      // exists_evaluator.py:1-14):
      //  * outer-only correlation → boolean flag column on the OUTER
      //    frame (one distinct-key left join, multiplicity preserved);
      //  * spanning correlation (outer AND pattern vars) → per-pattern-
      //    row witness SET of outer-key structs; the join condition
      //    becomes an array_contains membership test.
      var outerF2 = outerF
      var patternF = localConjs.foldLeft(pattern0)((acc, c) => applyWhere(acc, c))
      val dropAfter = mutable.ArrayBuffer.empty[String]
      val extraFns = mutable.ArrayBuffer.empty[Frame => Column]
      def rewriteExists(paths: Seq[PathPattern], sub: Option[Expr],
                        neg: Boolean): Seq[Expr] = {
        val subF = compileExistsSub(paths, sub, outerF.vars ++ pattern0.vars)
        val spansPattern =
          (subF.vars.keySet intersect (patVarNames -- outerF.vars.keySet)).nonEmpty
        if (!spansPattern) {
          val (f2, flag) = existsFlag(outerF2, subF)
          outerF2 = f2; dropAfter += flag
          Seq(if (neg) UnaryOp("NOT", Variable(flag)) else Variable(flag))
        } else {
          val (pf2, fn, wcol) = existsWitness(outerF2, patternF, subF, neg)
          patternF = pf2; extraFns += fn; dropAfter += wcol
          Seq.empty
        }
      }
      val crossRewritten = crossConjs.flatMap {
        case ExistsPattern(paths, sub, _) => rewriteExists(paths, sub, neg = false)
        case UnaryOp("NOT", ExistsPattern(paths, sub, _)) =>
          rewriteExists(paths, sub, neg = true)
        case other => Seq(other)
      }
      val joined = naturalJoin(outerF2, patternF, "left_outer", crossRewritten,
        extraFns.toSeq)
      Frame(joined.df.drop(dropAfter.toSeq: _*), joined.vars -- dropAfter)
    } else {
      val joined = outer match {
        case Some(o) => naturalJoin(o, pattern0, "inner")
        case None    => pattern0
      }
      m.where match {
        case Some(w) => applyWhere(joined, w)
        case None    => joined
      }
    }
  }

  /** Scan a node pattern into a fresh single-var frame (inline property
    * predicates applied at the scan → parquet filter pushdown).
    */
  private def nodeFrame(varName: String, label: String,
                        props: Seq[(String, Expr)]): Frame = {
    if (label == "*") return multiLabelFrame(varName, props)
    val e = catalog.entity(label)
    val attrs = e.df.columns.toSeq
    val df = e.df.select(attrs.map(a => col(a).as(s"${varName}__$a")): _*)
    val f = Frame(df, Map(varName -> NodeVar(label, e.idCol, attrs)))
    applyProps(f, varName, props)
  }

  /** Unlabeled standalone scan in a multi-label catalog: union every
    * candidate label's table over the attribute superset, tagged with a
    * `__label` discriminator and a label-qualified string id (ids are
    * only unique within a label). Inline property keys prune candidates
    * to the labels that have those attributes (binding_frame.py:802-886,
    * pattern_matcher.py:152-285); a WHERE on `n:Label` constant-folds to
    * false in the other branches, so Catalyst prunes their scans — the
    * union costs only the labels that can match.
    */
  private def multiLabelFrame(varName: String, props: Seq[(String, Expr)]): Frame = {
    val cands = catalog.labels.toSeq.sorted.filter { l =>
      val cols = catalog.entity(l).df.columns.toSet
      props.forall { case (k, _) => cols.contains(k) }
    }
    require(cands.nonEmpty,
      s"no label has all inline properties of unlabeled node $varName")
    val allAttrs = cands.flatMap(l => catalog.entity(l).df.columns).distinct
    val branches = cands.map { l =>
      val e = catalog.entity(l)
      val have = e.df.columns.toSet
      val cols =
        Seq(lit(l).as(s"${varName}____label"),
          concat_ws(":", lit(l), col(e.idCol).cast("string"))
            .as(s"${varName}____nid")) ++
          allAttrs.map(a =>
            (if (have.contains(a)) col(a) else lit(null)).as(s"${varName}__$a"))
      e.df.select(cols: _*)
    }
    val attrs = Seq("__nid", "__label") ++ allAttrs
    val f = Frame(branches.reduce(_ unionByName _),
      Map(varName -> NodeVar("*", "__nid", attrs)))
    applyProps(f, varName, props)
  }

  private def applyProps(f: Frame, v: String, props: Seq[(String, Expr)]): Frame =
    props.foldLeft(f) { case (acc, (k, e)) =>
      val c = new ExpressionCompiler(acc, params).compile(e)
      acc.copy(df = acc.df.filter(col(acc.col(v, k)) === c))
    }

  /** Relationship frame. For BOTH direction the edge set is the union of
    * both orientations (reference: pattern_matcher.py:572-699 direction
    * handling re-expressed as a unioned scan); over a type with no id
    * column the reversed half carries the `revCol` marker.
    */
  private def relFrame(varName: String, rd: RelationshipDef,
                       direction: String, props: Seq[(String, Expr)]): Frame = {
    val attrs = rd.df.columns.toSeq
    def prefixed(df: DataFrame): DataFrame =
      df.select(attrs.map(a => col(a).as(s"${varName}__$a")): _*)
    val base = direction match {
      case "BOTH" =>
        val fwd = rd.df
        val bwd = rd.df.withColumnRenamed(rd.srcCol, "__tmp_swap")
          .withColumnRenamed(rd.dstCol, rd.srcCol)
          .withColumnRenamed("__tmp_swap", rd.dstCol)
          .select(attrs.map(col): _*)
        if (rd.idCol.isDefined) prefixed(fwd.unionByName(bwd))
        else prefixed(fwd).withColumn(Frame.revCol(varName), lit(false))
          .unionByName(prefixed(bwd).withColumn(Frame.revCol(varName), lit(true)))
      case _ => prefixed(rd.df)
    }
    val f = Frame(base, Map(varName -> RelVar(rd.relType, rd.srcCol, rd.dstCol, attrs)))
    applyProps(f, varName, props)
  }

  private def compilePath(p: PathPattern,
                          boundVars: Map[String, VarMeta] = Map.empty): Frame = {
    if (p.shortest.isDefined)
      return compileVarLengthPath(p)
    compileTriangleWcoj(p) match {
      case Some(f) => return f
      case None    =>
    }

    val startVar = p.start.variable.getOrElse(freshVar())
    val startLabel =
      resolveLabel(p.start, p.hops.headOption.map(_._1), isStart = true, boundVars)
    var cur = nodeFrame(startVar, startLabel, p.start.props)
    var prevVar = startVar
    var fixedHops = 0
    val varHopCols = mutable.ArrayBuffer.empty[String]
    // node-id sequence pieces for nodes(p): the start id, then one piece
    // per hop — a fixed hop contributes its bound end-node id (already a
    // row column, so materializing it is free), a var-length segment
    // contributes its frontier-carried array minus the leading origin
    // (already covered by the previous piece). relationships(p) splices
    // the segments' edge-identity arrays; fixed hops carry no edge
    // identity, so a path mixing fixed hops keeps nodesCol but not
    // relsCol.
    val nodePieces = mutable.ArrayBuffer[Column](array(col(cur.idCol(startVar))))
    val relPieces = mutable.ArrayBuffer.empty[Column]
    var nodesOk = true
    var relsOk = true
    p.hops.foreach { case (rel, node) =>
      if (rel.varLength.isDefined) {
        // var-length segment mid-pattern: expand from the current frame
        // and keep walking fixed hops from its end node
        val (next, boundVar, hopsCol, mat) =
          PathExpand.expandSegment(this, catalog, cur, prevVar, rel, node,
            params, shortest = None)
        cur = next
        prevVar = boundVar
        varHopCols += hopsCol
        mat match {
          case Some((nc, rc)) =>
            nodePieces += slice(col(nc), lit(2), size(col(nc)) - 1)
            relPieces += col(rc)
          case None =>
            nodesOk = false; relsOk = false
        }
      } else {
        val (next, boundVar) = compileHop(cur, prevVar, rel, node)
        cur = next
        prevVar = boundVar
        fixedHops += 1
        nodePieces += array(col(cur.idCol(boundVar)))
        relsOk = false
      }
    }
    p.pathVariable match {
      case Some(pv) =>
        // length(p) = fixed hop count + each var-length segment's hops
        val hopsCol = s"__hops_$pv"
        val total = varHopCols.foldLeft(lit(fixedHops.toLong): Column)(_ + col(_))
        var df = cur.df.withColumn(hopsCol, total)
        var nodesCol: Option[String] = None
        var relsCol: Option[String] = None
        if (nodesOk) {
          val nc = s"__nodes_$pv"
          df = df.withColumn(nc, concat(nodePieces.toSeq: _*))
          nodesCol = Some(nc)
          if (relsOk) {
            val rc = s"__rels_$pv"
            df = df.withColumn(rc,
              if (relPieces.isEmpty) array().cast("array<bigint>")
              else concat(relPieces.toSeq: _*))
            relsCol = Some(rc)
          }
        }
        Frame(df, cur.vars + (pv -> PathVar(hopsCol, nodesCol, relsCol)))
      case None => cur
    }
  }

  /** Triangle patterns (a)-[:X]->(b)-[:Y]->(c)-[:Z]->(a) compile via
    * the worst-case-optimal adjacency-intersection join (SURVEY §2.3
    * row 21; reference leapfrog_triejoin.py) — the binary-join plan
    * materializes the open wedge before the closing edge can filter it.
    * ON by default (`graft.wcoj.enabled=false` opts out) now that the
    * route preserves parallel-edge multiplicity and degree skew detours
    * through the binary join (Wcoj.triangles). Guarded narrowly:
    * exactly three fixed OUT hops with one type each, no rel
    * variables/props, closing on the start variable, three distinct
    * node variables. Anything else falls back to the binary-join chain
    * (which handles the general cyclic case, cy31).
    */
  private def compileTriangleWcoj(p: PathPattern): Option[Frame] = {
    if (!spark.conf.get("graft.wcoj.enabled", "true").toBoolean) return None
    if (p.hops.size != 3 || p.pathVariable.isDefined) return None
    val ok = p.hops.forall { case (r, _) =>
      r.varLength.isEmpty && r.direction == "OUT" && r.types.size == 1 &&
        r.props.isEmpty && r.variable.isEmpty
    }
    if (!ok) return None
    val aV = p.start.variable.getOrElse(return None)
    val bV = p.hops(0)._2.variable.getOrElse(return None)
    val cV = p.hops(1)._2.variable.getOrElse(return None)
    if (p.hops(2)._2.variable != Some(aV) || Set(aV, bV, cV).size != 3)
      return None
    def edge(i: Int): DataFrame = {
      val rd = catalog.relationship(p.hops(i)._1.types.head)
      rd.df.select(col(rd.srcCol).as("src"), col(rd.dstCol).as("dst"))
    }
    val triples = graft.operators.Wcoj.triangles(edge(0), edge(1), edge(2))
    // attach the node tables on the id triples (Catalyst prunes unused
    // attribute columns; inline props filter at the scans)
    val aF = nodeFrame(aV, resolveLabel(p.start, Some(p.hops(0)._1), isStart = true), p.start.props)
    val bF = nodeFrame(bV, resolveLabel(p.hops(0)._2, Some(p.hops(0)._1), isStart = false), p.hops(0)._2.props)
    val cF = nodeFrame(cV, resolveLabel(p.hops(1)._2, Some(p.hops(1)._1), isStart = false), p.hops(1)._2.props)
    val df = triples
      .join(aF.df, col("a") === col(aF.idCol(aV)))
      .join(bF.df, col("b") === col(bF.idCol(bV)))
      .join(cF.df, col("c") === col(cF.idCol(cV)))
      .drop("a", "b", "c")
    Some(Frame(df, aF.vars ++ bF.vars ++ cF.vars))
  }

  private def resolveLabel(np: NodePattern, rel: Option[RelPattern],
                           isStart: Boolean,
                           boundVars: Map[String, VarMeta] = Map.empty): String =
    np.labels.headOption.getOrElse {
      val inferred = (for {
        r <- rel
        t <- r.types.headOption
        rd = catalog.relationship(t)
        l <- (r.direction, isStart) match {
          case ("OUT", true) | ("IN", false)  => rd.srcLabel
          case ("OUT", false) | ("IN", true)  => rd.dstLabel
          case _ => None
        }
      } yield l).orElse {
        // a re-mention of an already-bound node variable inherits its
        // binding's label (openCypher: labels are stated once)
        np.variable.flatMap(boundVars.get).collect { case NodeVar(l, _, _) => l }
      }
      inferred.getOrElse {
        // single-label catalogs make bare (n) unambiguous; a standalone
        // unlabeled node becomes a pruned multi-label union scan ("*");
        // traversal endpoints must stay typed (edge ids join per-label)
        if (catalog.labels.size == 1) catalog.labels.head
        else if (rel.isEmpty) "*"
        else throw new IllegalArgumentException(
          s"cannot infer label for node ${np.variable.getOrElse("(anon)")} — " +
            s"add a label (registered: ${catalog.labels.mkString(", ")})")
      }
    }

  private def compileHop(cur: Frame, fromVar: String, rel: RelPattern,
                         node: NodePattern): (Frame, String) = {
    if (rel.types.isEmpty) {
      // untyped -[r]-> matches every registered relationship type
      // (pattern_matcher.py scans all rel frames); endpoint labels prune
      // the candidate types before any table is touched — an
      // incompatible declared src/dst label drops the branch at compile
      // time, so the union only scans types that can bind.
      val fromLabel = cur.vars(fromVar) match {
        case NodeVar(l, _, _) => Some(l); case _ => None
      }
      val toLabel = node.labels.headOption
      def compat(a: Option[String], b: Option[String]) =
        (for { x <- a; y <- b } yield x == y).getOrElse(true)
      val cands = catalog.relTypes.filter { t =>
        val rd = catalog.relationship(t)
        val fwdOk = compat(rd.srcLabel, fromLabel) && compat(rd.dstLabel, toLabel)
        val bwdOk = compat(rd.dstLabel, fromLabel) && compat(rd.srcLabel, toLabel)
        rel.direction match {
          case "OUT"  => fwdOk
          case "IN"   => bwdOk
          case "BOTH" => fwdOk || bwdOk
        }
      }
      require(cands.nonEmpty,
        s"no relationship type connects ${fromLabel.getOrElse("?")} to ${toLabel.getOrElse("?")}")
      val typed = rel.copy(types = cands)
      return if (cands.size > 1) compileMultiTypeHop(cur, fromVar, typed, node)
      else compileHop(cur, fromVar, typed, node)
    }
    if (rel.types.size > 1) return compileMultiTypeHop(cur, fromVar, rel, node)
    val relType = rel.types.headOption.getOrElse(
      throw new IllegalArgumentException("relationship type required"))
    val rd = catalog.relationship(relType)
    val relVar = rel.variable.getOrElse(freshVar())

    // Undirected edges: keep only orientations whose declared src/dst
    // labels are compatible with the endpoints. FK-derived edge tables
    // have overlapping key spaces, so an orientation that violates the
    // declared labels would fabricate matches a property graph with
    // globally-unique ids could never produce.
    val effDir = if (rel.direction == "BOTH") {
      val fromLabel = cur.vars(fromVar) match {
        case NodeVar(l, _, _) => Some(l); case _ => None
      }
      val toLabel = node.labels.headOption
      def compat(a: Option[String], b: Option[String]) =
        (for { x <- a; y <- b } yield x == y).getOrElse(true)
      val fwdOk = compat(rd.srcLabel, fromLabel) && compat(rd.dstLabel, toLabel)
      val bwdOk = compat(rd.dstLabel, fromLabel) && compat(rd.srcLabel, toLabel)
      (fwdOk, bwdOk) match {
        case (true, false) => "OUT"
        case (false, true) => "IN"
        case _             => "BOTH"
      }
    } else rel.direction

    val rf = relFrame(relVar, rd, effDir, rel.props)

    // Join key on the rel side: OUT joins cur->src, IN joins cur->dst;
    // BOTH uses src (frame already contains both orientations).
    val (nearAttr, farAttr) = effDir match {
      case "IN" => (rd.dstCol, rd.srcCol)
      case _    => (rd.srcCol, rd.dstCol)
    }
    val joined = cur.df.join(rf.df,
      col(cur.idCol(fromVar)) === col(s"${relVar}__$nearAttr"))
    val withRel = Frame(joined, cur.vars ++ rf.vars)

    val nodeVarName = node.variable.getOrElse(freshVar())
    if (cur.vars.contains(nodeVarName)) {
      // cyclic back-reference: (a)-[]->(b)-[]->(a)
      val filtered = withRel.df.filter(
        col(s"${relVar}__$farAttr") === col(cur.idCol(nodeVarName)))
      (applyProps(Frame(filtered, withRel.vars), nodeVarName, node.props), nodeVarName)
    } else {
      val isStartSide = effDir == "IN"
      val label = resolveLabel(node, Some(rel.copy(direction = effDir)), isStart = isStartSide)
      val nf = nodeFrame(nodeVarName, label, node.props)
      val out = withRel.df.join(nf.df,
        col(s"${relVar}__$farAttr") === col(nf.idCol(nodeVarName)))
      (Frame(out, withRel.vars ++ nf.vars), nodeVarName)
    }
  }

  /** -[:A|B]-> alternation: each type compiles as its own hop and the
    * results union on the shared columns (node vars identical on both
    * branches; the rel variable carries only the columns common to all
    * alternatives, plus a __reltype discriminator).
    */
  private def compileMultiTypeHop(cur: Frame, fromVar: String, rel: RelPattern,
                                  node: NodePattern): (Frame, String) = {
    val relVar = rel.variable.getOrElse(freshVar())
    val branches = rel.types.map { t =>
      val branchRel = rel.copy(types = Seq(t), variable = Some(relVar))
      compileHop(cur, fromVar, branchRel, node)
    }
    val nodeVarName = branches.head._2
    // align branch outputs to the common column set
    val common = branches.map(_._1.df.columns.toSet).reduce(_ intersect _)
    val aligned = branches.map { case (f, _) =>
      f.df.select(common.toSeq.sorted.map(col): _*)
    }
    val unioned = aligned.reduce(_ unionByName _)
    // rel var attrs reduce to the columns that survived the intersection
    val firstMeta = branches.head._1.vars
    val relAttrs = firstMeta(relVar) match {
      case RelVar(_, srcA, dstA, attrs) =>
        val kept = attrs.filter(a => common.contains(s"${relVar}__$a"))
        RelVar(rel.types.mkString("|"), srcA, dstA, kept)
      case other => other
    }
    (Frame(unioned, firstMeta + (relVar -> relAttrs)), nodeVarName)
  }

  private def compileVarLengthPath(p: PathPattern): Frame =
    PathExpand.compile(this, catalog, p, params)

  // exposed for PathExpand
  private[graft] def mkNodeFrame(v: String, label: String,
                                 props: Seq[(String, Expr)]): Frame =
    nodeFrame(v, label, props)
  private[graft] def mkFreshVar(): String = freshVar()
  private[graft] def mkResolveLabel(np: NodePattern, rel: Option[RelPattern],
                                    isStart: Boolean): String =
    resolveLabel(np, rel, isStart)

  // ---------------- joins on shared variables ----------------

  /** Join two frames on their shared variables' identity columns —
    * the Spark form of the reference's coerce_join / left-join
    * preservation (frame_joiner.py:70-103, 189-310). The right side's
    * shared-variable columns are dropped (identical by id equality), so
    * downstream references resolve unambiguously to the left side.
    */
  private[compiler] def naturalJoin(a: Frame, b: Frame, joinType: String,
                                    extraOn: Seq[Expr] = Seq.empty,
                                    extraCols: Seq[Frame => Column] = Seq.empty)
      : Frame = {
    val shared = (a.vars.keySet intersect b.vars.keySet).toSeq.sorted
    if (shared.isEmpty && extraOn.isEmpty && extraCols.isEmpty) {
      joinType match {
        case "inner" => Frame(a.df.crossJoin(b.df), a.vars ++ b.vars)
        case _ => throw new UnsupportedOperationException(
          "OPTIONAL MATCH with no shared variables or correlated WHERE is not supported")
      }
    } else {
      val keyCols = shared.zipWithIndex.map { case (v, i) => (v, s"__jk_$i") }
      val bPrepared0 = keyCols.foldLeft(b.df) { case (df, (v, jk)) =>
        df.withColumn(jk, col(b.idCol(v)))
      }
      val dropCols = shared.flatMap(v => b.varCols(v) :+ Frame.revCol(v))
        .filter(b.df.columns.contains)
      val bPrepared = bPrepared0.drop(dropCols: _*)
      // correlated predicates compile against the merged namespace: shared
      // vars resolve to the left side's columns (the right side's copies
      // are dropped above), pattern-only vars to the right side's.
      // extraCols are prebuilt Column conditions (e.g. witness-set
      // membership) evaluated over the same merged namespace.
      val extraCond = if (extraOn.isEmpty && extraCols.isEmpty) Seq.empty else {
        val probe = Frame(a.df.crossJoin(bPrepared), a.vars ++ b.vars)
        val pec = new ExpressionCompiler(probe, params)
        extraOn.map(pec.compile) ++ extraCols.map(f => f(probe))
      }
      val cond = (keyCols.map { case (v, jk) => col(a.idCol(v)) === col(jk) } ++
        extraCond).reduce(_ && _)
      val joined = a.df.join(bPrepared, cond, joinType)
        .drop(keyCols.map(_._2): _*)
      Frame(joined, a.vars ++ b.vars)
    }
  }

  /** Unbound (frame-level) variables referenced by an expression —
    * lambda-bound names from comprehensions/quantifiers/reduce excluded.
    * Pattern-bearing subexpressions contribute every variable their
    * patterns name (overapproximation; only used for predicate routing).
    */
  private def freeVars(e: Expr, bound: Set[String] = Set.empty): Set[String] = e match {
    case Variable(v)          => if (bound(v)) Set.empty else Set(v)
    case Property(s, _)       => freeVars(s, bound)
    case BinOp(_, l, r)       => freeVars(l, bound) ++ freeVars(r, bound)
    case UnaryOp(_, x)        => freeVars(x, bound)
    case IsNull(x, _)         => freeVars(x, bound)
    case FnCall(_, args, _)   => args.flatMap(freeVars(_, bound)).toSet
    case CaseExpr(s, br, d)   =>
      (s.toSeq ++ br.flatMap { case (w, t) => Seq(w, t) } ++ d.toSeq)
        .flatMap(freeVars(_, bound)).toSet
    case Index(s, i)          => freeVars(s, bound) ++ freeVars(i, bound)
    case Slice(s, f, t)       =>
      (Seq(s) ++ f.toSeq ++ t.toSeq).flatMap(freeVars(_, bound)).toSet
    case ListComprehension(v, l, w, p) =>
      freeVars(l, bound) ++ (w.toSeq ++ p.toSeq).flatMap(freeVars(_, bound + v))
    case Quantifier(_, v, l, w) => freeVars(l, bound) ++ freeVars(w, bound + v)
    case Reduce(a, init, v, l, st) =>
      freeVars(init, bound) ++ freeVars(l, bound) ++ freeVars(st, bound + a + v)
    case HasLabel(s, _)       => freeVars(s, bound)
    case ListLit(items)       => items.flatMap(freeVars(_, bound)).toSet
    case MapLit(items)        => items.flatMap(x => freeVars(x._2, bound)).toSet
    case ExistsPattern(paths, w, _) =>
      paths.flatMap(pathVarNames).toSet ++ w.toSeq.flatMap(freeVars(_, bound))
    case PatternComprehension(path, w, proj) =>
      pathVarNames(path).toSet ++
        (w.toSeq :+ proj).flatMap(freeVars(_, bound)).toSet
    case _                    => Set.empty
  }

  private def pathVarNames(p: PathPattern): Seq[String] =
    p.pathVariable.toSeq ++ p.start.variable.toSeq ++
      p.hops.flatMap { case (r, n) => r.variable.toSeq ++ n.variable.toSeq }

  // ---------------- pattern comprehension ----------------

  /** Collect every pattern comprehension in an expression tree (treated
    * as leaves — nested comprehensions inside one are compiled when the
    * inner pattern frame itself is projected).
    */
  private def collectPCs(e: Expr): Seq[PatternComprehension] = e match {
    case pc: PatternComprehension => Seq(pc)
    case BinOp(_, l, r)       => collectPCs(l) ++ collectPCs(r)
    case UnaryOp(_, x)        => collectPCs(x)
    case IsNull(x, _)         => collectPCs(x)
    case FnCall(_, args, _)   => args.flatMap(collectPCs)
    case CaseExpr(s, br, d)   =>
      s.toSeq.flatMap(collectPCs) ++
        br.flatMap { case (w, t) => collectPCs(w) ++ collectPCs(t) } ++
        d.toSeq.flatMap(collectPCs)
    case Index(s, i)          => collectPCs(s) ++ collectPCs(i)
    case Slice(s, f, t)       =>
      collectPCs(s) ++ f.toSeq.flatMap(collectPCs) ++ t.toSeq.flatMap(collectPCs)
    case ListComprehension(_, l, w, p) =>
      collectPCs(l) ++ w.toSeq.flatMap(collectPCs) ++ p.toSeq.flatMap(collectPCs)
    case Quantifier(_, _, l, w) => collectPCs(l) ++ collectPCs(w)
    case Reduce(_, init, _, l, st) =>
      collectPCs(init) ++ collectPCs(l) ++ collectPCs(st)
    case ListLit(items)       => items.flatMap(collectPCs)
    case MapLit(items)        => items.flatMap { case (_, v) => collectPCs(v) }
    case Property(s, _)       => collectPCs(s)
    case _                    => Seq.empty
  }

  /** Replace every occurrence of `target` (structural equality) with a
    * plain variable reference to its precomputed column.
    */
  private def substPC(e: Expr, target: PatternComprehension, name: String): Expr = {
    def go(x: Expr): Expr = x match {
      case pc: PatternComprehension if pc == target => Variable(name)
      case BinOp(op, l, r)     => BinOp(op, go(l), go(r))
      case UnaryOp(op, y)      => UnaryOp(op, go(y))
      case IsNull(y, n)        => IsNull(go(y), n)
      case FnCall(n, args, d)  => FnCall(n, args.map(go), d)
      case CaseExpr(s, br, d)  =>
        CaseExpr(s.map(go), br.map { case (w, t) => (go(w), go(t)) }, d.map(go))
      case Index(s, i)         => Index(go(s), go(i))
      case Slice(s, f, t)      => Slice(go(s), f.map(go), t.map(go))
      case ListComprehension(v, l, w, p) =>
        ListComprehension(v, go(l), w.map(go), p.map(go))
      case Quantifier(k, v, l, w) => Quantifier(k, v, go(l), go(w))
      case Reduce(a, init, v, l, st) => Reduce(a, go(init), v, go(l), go(st))
      case ListLit(items)      => ListLit(items.map(go))
      case MapLit(items)       => MapLit(items.map { case (k, v) => (k, go(v)) })
      case Property(s, k)      => Property(go(s), k)
      case other               => other
    }
    go(e)
  }

  /** Compile one pattern comprehension into a precomputed list column on
    * the frame: compile the pattern standalone, aggregate the projection
    * with collect_list grouped by the correlation keys (the variables
    * shared with the outer frame), left-join back, and default misses to
    * the empty list (openCypher: no matches → []).
    *
    * One shuffle on the correlation key + one join — never a per-row
    * subquery, so it scales like any other grouped aggregate.
    */
  private def compilePatternComprehension(f: Frame, pc: PatternComprehension,
                                          outName: String): Frame = {
    var pat = compilePath(pc.path)
    pc.where.foreach(w => pat = applyWhere(pat, w))
    val shared = (f.vars.keySet intersect pat.vars.keySet).toSeq.sorted
    require(shared.nonEmpty,
      "pattern comprehension must share at least one variable with the outer query")
    val ec = new ExpressionCompiler(pat, params)
    val projCol = ec.compile(pc.projection)
    val keyCols = shared.zipWithIndex.map { case (v, i) =>
      col(pat.idCol(v)).as(s"__pck_$i")
    }
    val grouped = pat.df.groupBy(keyCols: _*)
      .agg(collect_list(projCol).as(outName))
    val cond = shared.zipWithIndex.map { case (v, i) =>
      col(f.idCol(v)) === col(s"__pck_$i")
    }.reduce(_ && _)
    val elemType = grouped.schema(outName).dataType
    val joined = f.df.join(grouped, cond, "left_outer")
      .drop(shared.indices.map(i => s"__pck_$i"): _*)
      .withColumn(outName,
        coalesce(col(outName), array().cast(elemType)))
    Frame(joined, f.vars + (outName -> ValueVar))
  }

  /** Hoist all pattern comprehensions out of `exprs`: each becomes a
    * precomputed `__anonpc*` column (hidden from RETURN *), and the
    * expressions are rewritten to reference it.
    */
  private def rewritePCs(f0: Frame, exprs0: Seq[Expr]): (Frame, Seq[Expr]) = {
    var f = f0
    var exprs = exprs0
    exprs.flatMap(collectPCs).distinct.foreach { pc =>
      anonCounter += 1
      val name = s"__anonpc$anonCounter"
      f = compilePatternComprehension(f, pc, name)
      exprs = exprs.map(substPC(_, pc, name))
    }
    (f, exprs)
  }

  // ---------------- WHERE ----------------

  private def conjuncts(e: Expr): Seq[Expr] = e match {
    case BinOp("AND", l, r) => conjuncts(l) ++ conjuncts(r)
    case other              => Seq(other)
  }

  private[compiler] def applyWhere(f: Frame, where: Expr): Frame = {
    var cur = f
    val plain = mutable.ArrayBuffer.empty[Expr]
    conjuncts(where).foreach {
      case ExistsPattern(paths, sub, _) =>
        cur = existsJoin(cur, paths, sub, anti = false)
      case UnaryOp("NOT", ExistsPattern(paths, sub, _)) =>
        cur = existsJoin(cur, paths, sub, anti = true)
      case other => plain += other
    }
    if (plain.nonEmpty) {
      val (fr, rewritten) = rewritePCs(cur, plain.toSeq)
      val cond = rewritten.map(new ExpressionCompiler(fr, params).compile).reduce(_ && _)
      fr.copy(df = fr.df.filter(cond))
    } else cur
  }

  /** EXISTS / NOT EXISTS pattern predicate → left-semi / left-anti join
    * on the shared variables (reference: exists_evaluator.py → SURVEY
    * §2.3 semi/anti row).
    */
  private def existsJoin(f: Frame, paths: Seq[PathPattern],
                         subWhere: Option[Expr], anti: Boolean): Frame = {
    val sub = compileExistsSub(paths, subWhere, f.vars)
    val shared = (f.vars.keySet intersect sub.vars.keySet).toSeq.sorted
    require(shared.nonEmpty, "EXISTS pattern must share at least one variable")
    val keyCols = shared.zipWithIndex.map { case (v, i) => (v, s"__jk_$i") }
    val subPrepared0 = keyCols.foldLeft(sub.df) { case (df, (v, jk)) =>
      df.withColumn(jk, col(sub.idCol(v)))
    }
    val subPrepared = subPrepared0.select(keyCols.map(c => col(c._2)): _*)
    val cond = keyCols.map { case (v, jk) => col(f.idCol(v)) === col(jk) }
      .reduce(_ && _)
    val jt = if (anti) "left_anti" else "left_semi"
    f.copy(df = f.df.join(subPrepared, cond, jt))
  }

  /** `boundVars`: enclosing bindings visible to the subpattern — a bare
    * re-mention of a bound node var inherits its label, same rule as
    * `compileMatch`. Intra-subpattern accumulation applies across paths.
    */
  private def compileExistsSub(paths: Seq[PathPattern],
                               subWhere: Option[Expr],
                               boundVars: Map[String, VarMeta] = Map.empty): Frame = {
    var sub = paths.foldLeft(Option.empty[Frame]) { (acc, p) =>
      val f = compilePath(p, boundVars ++ acc.map(_.vars).getOrElse(Map.empty))
      Some(acc.map(naturalJoin(_, f, "inner")).getOrElse(f))
    }.get
    subWhere.foreach(w => sub = applyWhere(sub, w))
    sub
  }

  /** EXISTS as a boolean column: left join the frame against the
    * DISTINCT shared-key tuples of the subpattern and coalesce the
    * marker to false. Distinct keys keep multiplicity intact, so the
    * flag is usable inside any predicate (left-join conditions included)
    * rather than only as a top-level semi/anti join.
    */
  private def existsFlag(f: Frame, sub: Frame): (Frame, String) = {
    val shared = (f.vars.keySet intersect sub.vars.keySet).toSeq.sorted
    require(shared.nonEmpty, "EXISTS pattern must share at least one variable")
    anonCounter += 1
    val flag = s"__exflag$anonCounter"
    val keyCols = shared.zipWithIndex.map { case (v, i) => (v, s"__ek_$i") }
    val subPrepared = keyCols.foldLeft(sub.df) { case (df, (v, jk)) =>
      df.withColumn(jk, col(sub.idCol(v)))
    }.select(keyCols.map(c => col(c._2)): _*).distinct()
      .withColumn(flag, lit(true))
    val cond = keyCols.map { case (v, jk) => col(f.idCol(v)) === col(jk) }
      .reduce(_ && _)
    val joined = f.df.join(subPrepared, cond, "left_outer")
      .drop(keyCols.map(_._2): _*)
      .withColumn(flag, coalesce(col(flag), lit(false)))
    (Frame(joined, f.vars + (flag -> ValueVar)), flag)
  }

  /** EXISTS spanning outer AND pattern scope: the predicate depends on
    * the (outer row, pattern row) pair, so no single-frame flag works.
    *
    * Positive EXISTS lowers to an EQUI condition: inner-join each
    * pattern row with its DISTINCT outer-key witness structs (pattern
    * rows with no witness can never satisfy the predicate, so dropping
    * them pre-join is sound; each (outer, pattern) pair matches at most
    * its own key struct, so multiplicity is preserved) and equate the
    * witness with the outer row's key struct in the join condition —
    * Spark plans a hash/sort-merge join, not a nested loop.
    *
    * NOT EXISTS genuinely needs per-pair membership: attach the witness
    * SET (grouped collect_set, left join so witness-less rows keep an
    * empty set) and negate array_contains — a residual condition,
    * nested-loop only when no equi conjunct exists besides it.
    */
  private def existsWitness(outer: Frame, pat: Frame, sub: Frame,
                            neg: Boolean): (Frame, Frame => Column, String) = {
    val patShared = (pat.vars.keySet intersect sub.vars.keySet).toSeq.sorted
    val outShared = ((outer.vars.keySet -- pat.vars.keySet)
      intersect sub.vars.keySet).toSeq.sorted
    require(patShared.nonEmpty && outShared.nonEmpty,
      "spanning EXISTS requires both outer and pattern correlation")
    anonCounter += 1
    val wname = s"__exwit$anonCounter"
    val patCond = (m: DataFrame) =>
      patShared.map(v => col(pat.idCol(v)) === m(s"__wk_$v")).reduce(_ && _)
    def probeKeys(probe: Frame): Column =
      struct(outShared.map(v => col(probe.idCol(v)).as(s"__wo_$v")): _*)
    if (!neg) {
      val m = sub.df.select(
        patShared.map(v => col(sub.idCol(v)).as(s"__wk_$v")) :+
          struct(outShared.map(v => col(sub.idCol(v)).as(s"__wo_$v")): _*)
            .as(wname): _*)
        .distinct()
      val pf2 = pat.copy(df = pat.df.join(m, patCond(m), "inner")
        .drop(patShared.map(v => s"__wk_$v"): _*))
      (pf2, (probe: Frame) => probeKeys(probe) === col(wname), wname)
    } else {
      val m = sub.df.select(
        patShared.map(v => col(sub.idCol(v)).as(s"__wk_$v")) ++
          outShared.map(v => col(sub.idCol(v)).as(s"__wo_$v")): _*)
        .groupBy(patShared.map(v => col(s"__wk_$v")): _*)
        .agg(collect_set(struct(outShared.map(v => col(s"__wo_$v")): _*)).as(wname))
      val pf2 = pat.copy(df = pat.df.join(m, patCond(m), "left_outer")
        .drop(patShared.map(v => s"__wk_$v"): _*))
      val fn = (probe: Frame) =>
        !coalesce(array_contains(col(wname), probeKeys(probe)), lit(false))
      (pf2, fn, wname)
    }
  }

  // ---------------- UNWIND ----------------

  private def compileUnwind(u: Unwind, outer: Option[Frame]): Frame = {
    val f = outer.getOrElse(unitFrame)
    val c = new ExpressionCompiler(f, params).compile(u.expr)
    Frame(f.df.withColumn(u.alias, explode(c)), f.vars + (u.alias -> ValueVar))
  }

  // ---------------- WITH / RETURN ----------------

  private def containsAgg(e: Expr): Boolean = e match {
    case CountStar            => true
    case FnCall(name, args, _) =>
      FunctionRegistry.isAggregate(name) || args.exists(containsAgg)
    case BinOp(_, l, r)       => containsAgg(l) || containsAgg(r)
    case UnaryOp(_, x)        => containsAgg(x)
    case IsNull(x, _)         => containsAgg(x)
    case CaseExpr(s, br, d)   =>
      s.exists(containsAgg) || br.exists { case (w, t) => containsAgg(w) || containsAgg(t) } ||
        d.exists(containsAgg)
    case Index(s, i)          => containsAgg(s) || containsAgg(i)
    case Slice(s, f, t)       => containsAgg(s) || f.exists(containsAgg) || t.exists(containsAgg)
    case _                    => false
  }

  private def defaultAlias(e: Expr): String = e match {
    case Variable(v)          => v
    case Property(Variable(v), k) => s"$v.$k"
    case _                    => e.toString.take(48)
  }

  /** Compile an aggregation item: aggregate calls route to the agg
    * registry; everything around them is scalar arithmetic over the
    * aggregated columns (Spark supports e.g. sum(x)/count(y) natively).
    */
  private def compileAggExpr(e: Expr, ec: ExpressionCompiler): Column = e match {
    case CountStar => count(lit(1))
    case FnCall(name, args, distinct) if FunctionRegistry.isAggregate(name) =>
      // A bare entity variable as aggregate argument stands for its
      // identity: count(c) counts matched nodes, i.e. non-null ids —
      // a struct of null fields would not be null itself.
      val compiled = args.map {
        case Variable(v) if ec.frame.vars.get(v).exists {
          case _: NodeVar | _: RelVar => true; case _ => false
        } => col(ec.frame.idCol(v))
        case a => ec.compile(a)
      }
      FunctionRegistry.aggregate(name, compiled, distinct)
    case FnCall(name, args, _) if containsAgg(e) =>
      // scalar function over aggregates, e.g. round(avg(x), 2)
      FunctionRegistry.scalar(name, args.map(compileAggExpr(_, ec)), args, ec, Map.empty)
    case BinOp(op, l, r) if containsAgg(e) =>
      val lc = compileAggExpr(l, ec)
      val rc = compileAggExpr(r, ec)
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
        case "%" => lc % rc
        case "^" => pow(lc, rc)
        case other => throw new IllegalArgumentException(
          s"operator $other over aggregates not supported")
      }
    case UnaryOp("-", x) if containsAgg(x) => negate(compileAggExpr(x, ec))
    case other => ec.compile(other)
  }

  private def project(f: Frame, proj: Projection, where: Option[Expr],
                      keepEntities: Boolean): Frame = {
    // expand * to all bound vars (sorted for determinism)
    val starItems =
      if (proj.star) f.vars.keys.toSeq.sorted.filterNot(_.startsWith("__anon"))
        .map(v => ReturnItem(Variable(v), Some(v)))
      else Seq.empty
    val items0 = starItems ++ proj.items
    if (items0.isEmpty && proj.star) {
      // WITH * over a frame with no user-visible variables (e.g. after
      // an anonymous CREATE in a combined pipeline): identity pass,
      // WHERE still applies
      return where.foldLeft(f)((acc, w) => applyWhere(acc, w))
    }
    require(items0.nonEmpty, "empty projection")

    // pattern comprehensions become precomputed columns before projection
    val (fr, rewritten) = rewritePCs(f, items0.map(_.expr))
    val items = items0.zip(rewritten).map { case (it, e) => it.copy(expr = e) }

    val ec = new ExpressionCompiler(fr, params)
    val hasAggItems = items.exists(i => containsAgg(i.expr))

    // openCypher: a non-aggregating projection's ORDER BY may reference
    // the pre-projection scope (RETURN p.name ORDER BY p.age). Such
    // expressions are carried through as hidden sort-key columns and
    // dropped after the sort. With aggregation or DISTINCT the input
    // scope is gone/cardinality-bearing, so only projected aliases sort.
    val aliasSet: Set[String] =
      items.map(i => i.alias.getOrElse(defaultAlias(i.expr))).toSet
    // An ORDER BY expression resolves, in order: (a) structurally equal
    // to a projected item → its alias; (b) over projected aliases only →
    // compiled post-projection; (c) otherwise → carried through as a
    // hidden sort-key column (pre-projection scope for plain
    // projections, an extra aggregate for aggregating ones) and dropped
    // after the sort. DISTINCT forbids (c): the key would change
    // cardinality.
    def projectedAlias(e: Expr): Option[String] =
      items.collectFirst { case it if it.expr == e =>
        it.alias.getOrElse(defaultAlias(it.expr)) }
    def needsHidden(e: Expr): Boolean =
      projectedAlias(e).isEmpty &&
        (if (hasAggItems) containsAgg(e)
         else containsAgg(e) || !freeVars(e).subsetOf(aliasSet))
    // A hidden sort key compiles against the PRE-projection frame, where
    // projected aliases do not exist — an ORDER BY mixing an alias with
    // pre-projection scope (RETURN p.name AS nm ORDER BY nm + p.age)
    // therefore substitutes each alias reference with its source
    // expression first (Neo4j accepts the mixed form).
    val aliasExpr: Map[String, Expr] =
      items.map(i => i.alias.getOrElse(defaultAlias(i.expr)) -> i.expr).toMap
    def substAliasRefs(e: Expr, bound: Set[String] = Set.empty): Expr = {
      def go(x: Expr): Expr = substAliasRefs(x, bound)
      e match {
        case Variable(v) if !bound(v) && aliasExpr.contains(v) => aliasExpr(v)
        case BinOp(op, l, r)     => BinOp(op, go(l), go(r))
        case UnaryOp(op, y)      => UnaryOp(op, go(y))
        case IsNull(y, n)        => IsNull(go(y), n)
        case FnCall(n, args, d)  => FnCall(n, args.map(go), d)
        case CaseExpr(s, br, d)  =>
          CaseExpr(s.map(go), br.map { case (w, t) => (go(w), go(t)) }, d.map(go))
        case Index(s, i)         => Index(go(s), go(i))
        case Slice(s, f, t)      => Slice(go(s), f.map(go), t.map(go))
        case ListComprehension(v, l, w, p) =>
          ListComprehension(v, go(l),
            w.map(substAliasRefs(_, bound + v)), p.map(substAliasRefs(_, bound + v)))
        case Quantifier(k, v, l, w) =>
          Quantifier(k, v, go(l), substAliasRefs(w, bound + v))
        case Reduce(a, init, v, l, st) =>
          Reduce(a, go(init), v, go(l), substAliasRefs(st, bound + a + v))
        case ListLit(its)        => ListLit(its.map(go))
        case MapLit(its)         => MapLit(its.map { case (k, v) => (k, go(v)) })
        case Property(s, k)      => Property(go(s), k)
        case other               => other
      }
    }
    val hidden: Seq[(String, Expr)] =
      if (!proj.distinct && proj.orderBy.nonEmpty)
        proj.orderBy.zipWithIndex.collect {
          case (oi, i) if needsHidden(oi.expr) =>
            (s"__sortkey_$i", substAliasRefs(oi.expr))
        }
      else Seq.empty
    val itemsWithHidden = items ++ hidden.map { case (n, e) => ReturnItem(e, Some(n)) }
    // an aggregate appearing only in ORDER BY still makes the projection
    // aggregate, with the projected items as the grouping keys
    val hasAgg = hasAggItems || hidden.exists { case (_, e) => containsAgg(e) }

    var out: Frame =
      if (!hasAgg) projectPlain(fr, itemsWithHidden, ec, keepEntities)
      else projectAgg(fr, itemsWithHidden, ec, keepEntities)

    where.foreach { w => out = applyWhere(out, w) }
    if (proj.distinct) out = out.copy(df = out.df.distinct())

    if (proj.orderBy.nonEmpty) {
      val oec = new ExpressionCompiler(out, params)
      val sortCols = proj.orderBy.zipWithIndex.map { case (oi, i) =>
        val c =
          if (out.df.columns.contains(s"__sortkey_$i")) col(s"__sortkey_$i")
          else projectedAlias(oi.expr).map(col).getOrElse(oec.compile(oi.expr))
        // Cypher/Neo4j null placement: last in ASC, first in DESC.
        if (oi.descending) c.desc_nulls_first else c.asc_nulls_last
      }
      out = out.copy(df = out.df.orderBy(sortCols: _*))
    }
    proj.skip.foreach { e => out = out.copy(df = out.df.offset(constInt(e))) }
    proj.limit.foreach { e => out = out.copy(df = out.df.limit(constInt(e))) }
    if (hidden.nonEmpty)
      out = Frame(out.df.drop(hidden.map(_._1): _*), out.vars -- hidden.map(_._1))
    out
  }

  private def constInt(e: Expr): Int = e match {
    case IntLit(v) => v.toInt
    case Param(p)  => params(p) match {
      case i: Int => i; case l: Long => l.toInt
      case other  => throw new IllegalArgumentException(s"SKIP/LIMIT param: $other")
    }
    case other => throw new IllegalArgumentException(s"SKIP/LIMIT must be integer: $other")
  }

  private def projectPlain(f: Frame, items: Seq[ReturnItem],
                           ec: ExpressionCompiler, keepEntities: Boolean): Frame = {
    val cols = mutable.ArrayBuffer.empty[Column]
    val vars = mutable.LinkedHashMap.empty[String, VarMeta]
    items.foreach { item =>
      val alias = item.alias.getOrElse(defaultAlias(item.expr))
      item.expr match {
        case Variable(v) if keepEntities && f.vars.get(v).exists {
          case _: NodeVar | _: RelVar | _: PathVar => true; case _ => false
        } =>
          // entity pass-through under (possibly) a new name
          f.vars(v) match {
            case m: NodeVar =>
              m.attrs.foreach(a => cols += col(f.col(v, a)).as(s"${alias}__$a"))
              vars(alias) = m
            case m: RelVar =>
              m.attrs.foreach(a => cols += col(f.col(v, a)).as(s"${alias}__$a"))
              if (f.df.columns.contains(Frame.revCol(v)))
                cols += col(Frame.revCol(v)).as(Frame.revCol(alias))
              vars(alias) = m
            case PathVar(h, n, r) =>
              cols += col(h).as(s"${alias}__hops")
              n.foreach(nc => cols += col(nc).as(s"${alias}__nodes"))
              r.foreach(rc => cols += col(rc).as(s"${alias}__rels"))
              vars(alias) = PathVar(s"${alias}__hops",
                n.map(_ => s"${alias}__nodes"), r.map(_ => s"${alias}__rels"))
            case _ =>
          }
        case e =>
          cols += ec.compile(e).as(alias)
          vars(alias) = ValueVar
      }
    }
    Frame(f.df.select(cols.toSeq: _*), vars.toMap)
  }

  private def projectAgg(f: Frame, items: Seq[ReturnItem],
                         ec: ExpressionCompiler, keepEntities: Boolean): Frame = {
    val keyItems = items.filterNot(i => containsAgg(i.expr))
    val aggItems = items.filter(i => containsAgg(i.expr))

    // materialize key expressions as named columns first
    val keyCols = mutable.ArrayBuffer.empty[(String, Column)] // (alias, col)
    val outVars = mutable.LinkedHashMap.empty[String, VarMeta]
    val groupByNames = mutable.ArrayBuffer.empty[String]
    var work = f.df
    keyItems.foreach { item =>
      val alias = item.alias.getOrElse(defaultAlias(item.expr))
      item.expr match {
        case Variable(v) if f.vars.get(v).exists {
          case _: NodeVar | _: RelVar => true; case _ => false
        } =>
          // group by the entity id; carry the remaining attrs in the keys
          // (id is the functional determinant — SURVEY §7.4 item 6)
          f.vars(v) match {
            case m: NodeVar =>
              m.attrs.foreach { a =>
                val newName = s"${alias}__$a"
                work = work.withColumn(newName, col(f.col(v, a)))
                groupByNames += newName
              }
              outVars(alias) = m
            case m: RelVar =>
              m.attrs.foreach { a =>
                val newName = s"${alias}__$a"
                work = work.withColumn(newName, col(f.col(v, a)))
                groupByNames += newName
              }
              outVars(alias) = m
            case _ =>
          }
        case e =>
          val alias2 = alias
          work = work.withColumn(alias2, ec.compileEnv(e, Map.empty))
          groupByNames += alias2
          outVars(alias2) = ValueVar
      }
      ()
    }

    val aggCols = aggItems.map { item =>
      val alias = item.alias.getOrElse(defaultAlias(item.expr))
      outVars(alias) = ValueVar
      compileAggExpr(item.expr, new ExpressionCompiler(Frame(work, f.vars), params)).as(alias)
    }

    val grouped =
      if (groupByNames.isEmpty) work.agg(aggCols.head, aggCols.tail: _*)
      else work.groupBy(groupByNames.map(col).toSeq: _*).agg(aggCols.head, aggCols.tail: _*)
    // non-entity keys keep their alias name; entity keys already prefixed
    Frame(grouped, outVars.toMap)
  }
}
