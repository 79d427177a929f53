package graft.paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.compiler.{ExpressionCompiler, Frame, NodeVar, PathVar, QueryCompiler}
import graft.model.GraphCatalog
import graft.parser.CypherAst._

/** Variable-length path / shortestPath expansion as an iterative
  * frontier-join loop — the Spark counterpart of the reference's BFS
  * expander (/root/reference/packages/pycypher/src/pycypher/
  * path_expander.py:53-298; caps :40-50; shortestPath :299-490).
  *
  * Each hop is one equi-join of the frontier against the edge table
  * (hash-partitioned on the join key — at scale this is the same
  * plan GraphFrames BFS produces), with `localCheckpoint` per hop to
  * keep lineage flat and an action-based empty-frontier early stop.
  *
  * Semantics:
  *  - plain var-length counts WALKS (edge repetition allowed), which
  *    equals Cypher path counting on acyclic graphs and matches the
  *    reference's expander; the hop cap bounds cyclic inputs exactly
  *    like the reference's MAX_HOPS=20. Setting
  *    `graft.pathExpand.trailSemantics=true` switches to openCypher's
  *    TRAIL counting (relationship uniqueness): each frontier row
  *    carries its used-edge id array and a hop never reuses an edge —
  *    inherently heavier (O(maxHops) ids ride along per path, and
  *    walk-sharing across duplicate start rows still applies), so it
  *    is opt-in where cyclic-graph parity with Neo4j matters;
  *  - shortestPath runs true BFS: per-hop `(origin, node)` frontier
  *    dedup plus a visited-set anti-join (path_expander.py:56-76), so
  *    on a dense graph the frontier is bounded by |V| per origin instead
  *    of growing with the walk count — first reach IS the minimum hop,
  *    and expansion stops as soon as a frontier empties.
  *
  * The expansion is keyed on the START NODE ID, not a synthetic row id:
  * walks depend only on the start node, so duplicate start rows in the
  * outer frame share one expansion and the join-back multiplies results
  * per row — deterministic (no monotonically_increasing_id) and strictly
  * less work.
  */
object PathExpand {

  val DefaultMaxHops = 20

  /** Compile a whole shortestPath pattern (single var-length segment). */
  def compile(qc: QueryCompiler, catalog: GraphCatalog, p: PathPattern,
              params: Map[String, Any]): Frame = {
    require(p.hops.size == 1,
      "shortestPath requires a single relationship segment")
    val (rel, endNode) = p.hops.head
    val startVar = p.start.variable.getOrElse(qc.mkFreshVar())
    val startLabel = qc.mkResolveLabel(p.start, Some(rel), isStart = rel.direction != "IN")
    val start = qc.mkNodeFrame(startVar, startLabel, p.start.props)
    val (f, _, hopsCol, mat) = expandSegment(qc, catalog, start, startVar, rel, endNode,
      params, p.shortest)
    // Without materialization shortestPath exposes length(p) only: its
    // BFS dedup keeps an ARBITRARY witness per (origin, node), which
    // must not leak into output. Under materializePaths the dedup
    // switches to the deterministic lex-min reduction (expandSegment),
    // so nodes(p)/relationships(p) are well-defined: the
    // lexicographically least shortest node sequence (openCypher
    // leaves the witness choice implementation-defined; a
    // correctness-gated engine must pick a deterministic one).
    p.pathVariable match {
      case Some(pv) =>
        val pc = s"__hops_$pv"
        Frame(f.df.withColumn(pc, col(hopsCol)),
          f.vars + (pv -> PathVar(pc, mat.map(_._1), mat.map(_._2))))
      case None => f
    }
  }

  /** Expand one var-length segment from `fromVar` in `cur`; returns the
    * joined frame (end node bound), the end variable name, the name of
    * the per-row hop-count column (for length(path)), and — when
    * `graft.pathExpand.materializePaths` is on and the regime permits —
    * the (nodesCol, relsCol) pair holding this segment's traversed
    * node-id sequence (origin included) and relationship-identity
    * sequence, for nodes(p)/relationships(p). Callable mid-pattern, so
    * fixed hops can precede/follow the segment.
    */
  def expandSegment(qc: QueryCompiler, catalog: GraphCatalog, cur: Frame,
                    fromVar: String, rel: RelPattern, endNode: NodePattern,
                    params: Map[String, Any],
                    shortest: Option[String])
  : (Frame, String, String, Option[(String, String)]) = {
    val (minHops, maxHopsOpt) = rel.varLength.getOrElse((1, Some(1)))
    val maxHops = maxHopsOpt.getOrElse(DefaultMaxHops)
    require(minHops <= maxHops, s"bad var-length range $minHops..$maxHops")
    require(rel.types.nonEmpty, "var-length requires a relationship type")

    // openCypher trail semantics (edge uniqueness) is conf-gated; BFS
    // shortest-path is unaffected (a shortest walk never repeats an
    // edge, so walk- and trail-shortest coincide)
    val trailMode = shortest.isEmpty && cur.df.sparkSession.conf
      .get("graft.pathExpand.trailSemantics", "false").toBoolean
    // path materialization (nodes(p)/relationships(p)) rides the same
    // frontier: each path row carries its node-id and edge-identity
    // arrays — O(maxHops) ids per path, so it is opt-in like trail
    // mode. Under shortestPath the BFS per-hop dedup additionally
    // switches from an arbitrary-row dropDuplicates to a deterministic
    // min(struct(hops, nodes, edges)) reduction: the kept prefix per
    // (origin, node) is the lexicographically least, and since every
    // shortest path to a level-k node extends a kept level-(k-1)
    // prefix (its predecessor is necessarily first-reached one level
    // earlier), the surviving witness is the GLOBAL lex-min shortest
    // node sequence — deterministic, so it may appear in output.
    val matPaths = cur.df.sparkSession.conf
      .get("graft.pathExpand.materializePaths", "false").toBoolean
    val carryEdges = trailMode || matPaths
    // allShortestPaths enumerates EVERY min-hop witness — only
    // distinguishable from shortestPath when paths are materialized
    // (without witnesses the two coincide, hop counts being equal);
    // the per-hop reduction then keeps all DISTINCT prefixes per
    // (origin, node) instead of the lex-min one, so the frontier grows
    // with the shortest-path multiplicity (opt-in, like everything
    // else the conf buys).
    val allPaths = matPaths && shortest.contains("allShortest")

    // direction-adjusted, property-filtered edge set; [:A|B] alternation
    // unions the per-type edge lists before the loop. Materialized ONCE
    // when the loop iterates — otherwise every hop re-executes the edge
    // derivation subtree (the standard iterative-graph pattern; GraphX
    // caches its edge RDD the same way). Each hop's join is planned by
    // AQE, which broadcasts a small side; under adaptive execution a
    // pin reports UnknownPartitioning, so no DataFrame layout keeps a
    // large edge table from re-shuffling per hop (the whole-graph loops
    // hold that layout in RDDs instead, VertexLoop).
    val edges0 = rel.types.map(t => edgeSet(qc, catalog, rel, t, params, carryEdges))
      .reduce(_ unionByName _)
    val loops = maxHopsOpt.getOrElse(DefaultMaxHops) > 1
    // edge count folded into the materialization job (IterPin.pinProbed)
    val (edges, edgeCount) =
      if (loops) {
        val (m, r) = graft.operators.IterPin.pinProbed(edges0,
          Seq(count(lit(1))))
        (m, r.getLong(0))
      } else (edges0, 0L)

    val startLabel = cur.vars(fromVar) match {
      case NodeVar(l, _, _) => Some(l)
      case _ => None
    }
    val endVar = endNode.variable.getOrElse(qc.mkFreshVar())
    val cyclic = cur.vars.contains(endVar)
    val endLabel =
      if (cyclic) startLabel.getOrElse("")
      else qc.mkResolveLabel(endNode, Some(rel), isStart = rel.direction == "IN")

    // expansion is per distinct start node, joined back to rows afterwards
    val startIds = cur.df.select(col(cur.idCol(fromVar)).as("__origin")).distinct()
    var frontier: DataFrame = startIds
      .select(col("__origin"), col("__origin").as("__node"), lit(0L).as("__hops"))
    if (carryEdges)
      frontier = frontier.withColumn("__edges", array().cast("array<bigint>"))
    if (matPaths)
      frontier = frontier.withColumn("__nodes", array(col("__origin")))
    val walkCols = Seq(col("__origin"), col("__node"), col("__hops")) ++
      (if (matPaths) Seq(col("__nodes"), col("__edges")) else Seq.empty)
    def walkRows(f: DataFrame) = f.select(walkCols: _*)
    var results = Vector.empty[DataFrame]
    // A zero-length path means start and end are the SAME node, so it can
    // only contribute when the end label is the start label — otherwise an
    // id coincidence across label key spaces would fabricate matches.
    if (minHops == 0 && startLabel.contains(endLabel)) results :+= walkRows(frontier)

    // BFS dedup is only valid when any reached hop >= minHops counts
    // (minHops <= 1); a minHops > 1 shortestPath must keep walks so a
    // node first seen below the floor can still be reported at the floor.
    val bfs = shortest.isDefined && minHops <= 1

    // Min-plus path-doubling regime for shortest-path expansion over
    // SMALL edge sets (dimension-table graphs): the transitive min-hop
    // closure of E doubles its horizon per round, so ⌈log2 maxHops⌉
    // self-joins replace maxHops sequential frontier rounds — at local
    // scale each BFS round costs a fixed scheduler floor, so a 12-hop
    // expansion drops from 12 to 4 round-trips. Two guards keep the
    // closure from dwarfing the per-origin frontier cost: the edge-count
    // gate below, and a RUNTIME row cap — a dense ≤threshold-edge graph
    // can still have an O(V²) closure, so if any round's closure exceeds
    // graft.pathExpand.doublingMaxClosureRows the regime abandons
    // (work wasted is bounded by the cap) and the frontier loop runs
    // instead. Rounds also stop early once a round adds/improves
    // nothing (the closure is a fixpoint — further squaring is a no-op).
    val doublingThreshold = edges0.sparkSession.conf
      .get("graft.pathExpand.doublingMaxEdges", "100000").toLong
    val closureRowCap = edges0.sparkSession.conf
      .get("graft.pathExpand.doublingMaxClosureRows", "4000000").toLong
    // (the closure carries pair-distances only — it cannot materialize
    // witness paths, so materialization routes through the frontier)
    val doubling = bfs && loops && !matPaths && edgeCount <= doublingThreshold

    if (doubling) {
      val probe = Seq(count(lit(1)), coalesce(sum(col("__hops")), lit(0L)))
      var (closure, closureRow) = graft.operators.IterPin.pinProbed(edges
        .select(col("__src").as("__a"), col("__dst").as("__b"), lit(1L).as("__hops"))
        .groupBy(col("__a"), col("__b")).agg(min(col("__hops")).as("__hops")),
        probe)
      var signature = (closureRow.getLong(0), closureRow.getLong(1))
      var span = 1L
      var abandoned = false
      var converged = false
      while (span < maxHops && !abandoned && !converged) {
        val composed = closure.as("l")
          .join(closure.as("r"), col("l.__b") === col("r.__a"))
          .select(col("l.__a").as("__a"), col("r.__b").as("__b"),
            (col("l.__hops") + col("r.__hops")).as("__hops"))
          .filter(col("__hops") <= maxHops)
        // row-cap AND fixpoint probe folded into the pin's own job:
        // the closure is MONOTONE — union ∪ min never removes a pair
        // (count non-decreasing) and never increases a pair's hops
        // (sum non-increasing at fixed count) — so (count, sum(__hops))
        // unchanged ⟺ no pair added and no hop improved, the exact
        // fixpoint. (Count equality ALONE is not sufficient — a pair
        // whose true distance exceeds the current horizon can hold a
        // non-minimal path length that later rounds improve in place;
        // the sum term catches exactly those in-place improvements.)
        // Replaces the old per-round left_anti probe job.
        val (next, nextRow) = graft.operators.IterPin.pinProbed(
          closure.unionByName(composed)
            .groupBy(col("__a"), col("__b")).agg(min(col("__hops")).as("__hops")),
          probe)
        if (nextRow.getLong(0) > closureRowCap) abandoned = true
        else {
          val nextSig = (nextRow.getLong(0), nextRow.getLong(1))
          converged = nextSig == signature
          // superseded closure: its last consumer (the composed join)
          // has run; each round's closure is the full pair set, so
          // retention across log2(maxHops) rounds is the doubling
          // regime's dominant memory term
          graft.operators.IterPin.free(closure)
          closure = next
          signature = nextSig
          span *= 2
        }
      }
      if (!abandoned) {
        var dist = startIds.join(closure, col("__origin") === col("__a"))
          .select(col("__origin"), col("__b").as("__node"), col("__hops"))
          .filter(col("__hops") >= minHops)
        // With minHops=0 the frontier regime seeds its visited set with
        // the origins, so a cycle back to the origin is never reported —
        // only the 0-hop row (added above iff the labels match) is. Drop
        // closure self-pairs to match; otherwise a cross-label id
        // coincidence would fabricate the exact match the 0-hop guard
        // exists to prevent.
        if (minHops == 0) dist = dist.filter(col("__origin") =!= col("__node"))
        val collapsed = (results :+ dist).reduce(_ unionByName _)
          .groupBy(col("__origin"), col("__node"))
          .agg(min(col("__hops")).as("__hops"))
        return finishSegment(qc, cur, fromVar, collapsed, endVar,
          cyclic, endLabel, endNode)
      }
    }

    var visited: DataFrame =
      if (minHops == 0) frontier.select(col("__origin"), col("__node"))
      else frontier.select(col("__origin"), col("__node")).limit(0)

    // explosion guards (reference parity: path_expander.py:40-50 caps
    // the frontier at 1M rows and the accumulated walk set at 5M —
    // cyclic graphs grow walk counts as degree^hops, and an unbounded
    // loop would OOM the cluster before the hop cap bites). Spark
    // defaults are 10x the reference's single-node caps; both are conf
    // knobs. The count is read off the eagerly-checkpointed frontier,
    // so it costs a job over materialized blocks, not a recompute.
    val frontierCap = edges0.sparkSession.conf
      .get("graft.pathExpand.maxFrontierRows", "10000000").toLong
    val totalCap = edges0.sparkSession.conf
      .get("graft.pathExpand.maxTotalRows", "50000000").toLong
    var totalRows = 0L

    var hop = 1
    var exhausted = false
    while (hop <= maxHops && !exhausted) {
      // trail mode: relationship uniqueness — a hop may not reuse an
      // edge already on this path; the extended path records the edge
      // it took. Materialization appends the reached node the same way.
      var step = frontier.join(edges, col("__node") === col("__src"))
      if (trailMode)
        step = step.filter(!array_contains(col("__edges"), col("__eid")))
      val stepCols =
        Seq(col("__origin"), col("__dst").as("__node"),
          (col("__hops") + 1).as("__hops")) ++
        (if (carryEdges)
           Seq(concat(col("__edges"), array(col("__eid"))).as("__edges"))
         else Seq.empty) ++
        (if (matPaths)
           Seq(concat(col("__nodes"), array(col("__dst"))).as("__nodes"))
         else Seq.empty)
      var next = step.select(stepCols: _*)
      if (bfs) {
        // per-hop dedup: one surviving path prefix per (origin, node).
        // With materialization the survivor must be DETERMINISTIC — the
        // min(struct) keeps the lexicographically least (nodes, edges)
        // prefix, which by induction makes the final witness the global
        // lex-min shortest node sequence (see matPaths note above);
        // without it, any row serves (only the hop count is exposed)
        // and dropDuplicates is the cheaper reduction. Both group on
        // the same keys.
        next =
          if (allPaths)
            // keep every distinct shortest prefix: all level-k shortest
            // paths extend level-(k-1) shortest prefixes, all retained
            next.dropDuplicates("__origin", "__node", "__nodes", "__edges")
          else if (matPaths)
            next.groupBy(col("__origin"), col("__node"))
              .agg(min(struct(col("__hops"), col("__nodes"), col("__edges")))
                .as("__w"))
              .select(col("__origin"), col("__node"),
                col("__w.__hops").as("__hops"),
                col("__w.__nodes").as("__nodes"),
                col("__w.__edges").as("__edges"))
          else next.dropDuplicates("__origin", "__node")
        next = next.join(visited, Seq("__origin", "__node"), "left_anti")
      }
      // flat lineage; the early-stop/cap probe rides the checkpoint's
      // own job
      val (pinned, pinnedRow) = graft.operators.IterPin.pinProbed(next,
        Seq(count(lit(1))))
      frontier = pinned
      val frontierRows = pinnedRow.getLong(0)
      if (frontierRows == 0) exhausted = true
      else {
        totalRows += frontierRows
        if (frontierRows > frontierCap || totalRows > totalCap)
          throw new IllegalStateException(
            s"path expansion exploded at hop $hop: frontier=$frontierRows " +
              s"(cap $frontierCap), accumulated=$totalRows (cap $totalCap) — " +
              "tighten the hop range/pattern or raise " +
              "graft.pathExpand.maxFrontierRows / maxTotalRows")
        if (hop >= minHops) results :+= walkRows(frontier)
        // allShortest frontiers carry one row per WITNESS; the visited
        // set needs one per (origin, node) or it grows with multiplicity
        if (bfs) visited = visited.unionByName(
          if (allPaths)
            frontier.select(col("__origin"), col("__node"))
              .dropDuplicates("__origin", "__node")
          else frontier.select(col("__origin"), col("__node")))
      }
      hop += 1
    }

    val reached =
      if (results.isEmpty) walkRows(frontier).limit(0)
      else results.reduce(_ unionByName _)

    val collapsed = shortest match {
      // BFS already yields each (origin, node) exactly once (lex-min
      // witness) or once per distinct witness (allShortest); the grouped
      // reduction is only needed on the walk-mode fallback (minHops > 1
      // keeps walks) — deterministic there too: min over the full
      // (hops, nodes, edges) struct, or a min-hop filter keeping every
      // distinct witness for allShortest. Without materialized edge
      // lists, shortestPath and allShortestPaths coincide.
      case Some(_) if !bfs && allPaths =>
        val mh = reached.groupBy(col("__origin"), col("__node"))
          .agg(min(col("__hops")).as("__mh"))
        reached.join(mh, Seq("__origin", "__node"))
          .filter(col("__hops") === col("__mh")).drop("__mh")
          .dropDuplicates("__origin", "__node", "__nodes", "__edges")
      case Some(_) if !bfs && matPaths =>
        reached.groupBy(col("__origin"), col("__node"))
          .agg(min(struct(col("__hops"), col("__nodes"), col("__edges")))
            .as("__w"))
          .select(col("__origin"), col("__node"),
            col("__w.__hops").as("__hops"),
            col("__w.__nodes").as("__nodes"),
            col("__w.__edges").as("__edges"))
      case Some(_) if !bfs =>
        reached.groupBy(col("__origin"), col("__node"))
          .agg(min(col("__hops")).as("__hops"))
      case _ => reached
    }
    finishSegment(qc, cur, fromVar, collapsed, endVar, cyclic, endLabel, endNode)
  }

  /** Join the collapsed (origin, node, hops) expansion result back to the
    * outer frame and bind the end node — shared by the frontier-loop and
    * path-doubling regimes. Materialized `__nodes`/`__edges` arrays (if
    * the expansion carried them) are renamed to per-segment columns and
    * reported so the pattern compiler can splice them into the path
    * variable's node/relationship sequences.
    */
  private def finishSegment(qc: QueryCompiler, cur: Frame, fromVar: String,
                            collapsed: DataFrame, endVar: String,
                            cyclic: Boolean, endLabel: String,
                            endNode: NodePattern)
  : (Frame, String, String, Option[(String, String)]) = {
    val joined0 = cur.df.join(collapsed,
      col(cur.idCol(fromVar)) === col("__origin")).drop("__origin")
    val (outDf, outVars) =
      if (cyclic) {
        require(endNode.props.isEmpty,
          "inline props on an already-bound var-length end node are unsupported")
        (joined0.filter(col("__node") === col(cur.idCol(endVar))), cur.vars)
      } else {
        val endFrame = qc.mkNodeFrame(endVar, endLabel, endNode.props)
        (joined0.join(endFrame.df, col("__node") === col(endFrame.idCol(endVar))),
          cur.vars ++ endFrame.vars)
      }
    val hopsCol = s"__vhops_$endVar"
    var out = outDf.withColumn(hopsCol, col("__hops")).drop("__node", "__hops")
    val mat =
      if (collapsed.columns.contains("__nodes")) {
        val nc = s"__vnodes_$endVar"
        val rc = s"__vrels_$endVar"
        out = out.withColumnRenamed("__nodes", nc).withColumnRenamed("__edges", rc)
        Some((nc, rc))
      } else None
    (Frame(out, outVars), endVar, hopsCol, mat)
  }

  /** (src, dst[, eid]) edge list for one relationship type,
    * direction-adjusted (BOTH = union of both orientations) with inline
    * rel property predicates filtering the edge set before the loop.
    * With `withId`, each edge row carries a relationship identity for
    * trail-mode uniqueness: the declared edge id column when the
    * relationship has one, else a hash of (type, src, dst) — identical
    * for both orientations of one edge, so a BOTH-direction trail
    * cannot re-traverse an edge backwards (openCypher agrees: one
    * relationship, one use).
    */
  private def edgeSet(qc: QueryCompiler, catalog: GraphCatalog, rel: RelPattern,
                      relType: String, params: Map[String, Any],
                      withId: Boolean = false): DataFrame = {
    val rd = catalog.relationship(relType)
    val idCols: Seq[String] = rd.idCol.toSeq
    val base: DataFrame =
      if (rel.props.isEmpty) rd.df
      else {
        val relVar = rel.variable.getOrElse(qc.mkFreshVar())
        val attrs = rd.df.columns.toSeq
        val pref = rd.df.select(attrs.map(a => col(a).as(s"${relVar}__$a")): _*)
        val rf = Frame(pref,
          Map(relVar -> graft.compiler.RelVar(rd.relType, rd.srcCol, rd.dstCol, attrs)))
        val cond = rel.props.map { case (k, e) =>
          col(s"${relVar}__$k") === new ExpressionCompiler(rf, params).compile(e)
        }.reduce(_ && _)
        pref.filter(cond).select((Seq(
          col(s"${relVar}__${rd.srcCol}").as(rd.srcCol),
          col(s"${relVar}__${rd.dstCol}").as(rd.dstCol)) ++
          idCols.map(ic => col(s"${relVar}__$ic").as(ic))): _*)
      }
    val eid: org.apache.spark.sql.Column = idCols.headOption match {
      case Some(ic) => xxhash64(lit(relType), col(ic))
      case None     => xxhash64(lit(relType), col(rd.srcCol), col(rd.dstCol))
    }
    def oriented(s: String, d: String) = {
      val cols = Seq(col(s).as("__src"), col(d).as("__dst")) ++
        (if (withId) Seq(eid.as("__eid")) else Seq.empty)
      base.select(cols: _*)
    }
    val fwd = oriented(rd.srcCol, rd.dstCol)
    val bwd = oriented(rd.dstCol, rd.srcCol)
    rel.direction match {
      case "OUT"  => fwd
      case "IN"   => bwd
      case "BOTH" => fwd.unionByName(bwd)
    }
  }
}
