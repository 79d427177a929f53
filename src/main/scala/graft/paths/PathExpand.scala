package graft.paths

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.compiler.{ExpressionCompiler, Frame, NodeVar, PathVar, QueryCompiler}
import graft.model.GraphCatalog
import graft.parser.CypherAst._

/** Variable-length path / shortestPath expansion — the Spark
  * counterpart of the reference's BFS expander (pycypher
  * `path_expander.py:53-298`; caps :40-50; shortestPath :299-490). Two
  * regimes:
  *
  *  - Broadcast BFS: a shortestPath segment that reports hop counts only
  *    (no materialized witnesses, `maxHops > 1`) over an edge list that
  *    fits under `spark.sql.autoBroadcastJoinThreshold` runs the
  *    reference's per-origin BFS inside one `mapPartitions` over the
  *    distinct start ids, against a broadcast adjacency map. The edge
  *    list is collected once; the BFS itself is lazy and runs inside the
  *    query's own action, so no job is paid per hop.
  *  - Frontier loop: everything else (walks, trails, materialized
  *    witnesses, edge lists too large to broadcast, broadcast disabled
  *    with `-1`). Each hop is one equi-join of the frontier against the
  *    edge table, with `localCheckpoint` per hop to keep lineage flat
  *    and an empty-frontier early stop read off the pin's own job.
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
  *  - shortestPath runs true BFS in both regimes: each `(origin, node)`
  *    appears once, at its least hop count, and expansion stops at
  *    `maxHops` or as soon as a frontier empties. The origin counts as
  *    visited only when its zero-hop row is emitted (`*0..` with the
  *    end label equal to the start label), so a one-hop match whose
  *    end id merely equals the start id under another label survives.
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
    // unions the per-type edge lists before the loop
    val edges0 = rel.types.map(t => edgeSet(qc, catalog, rel, t, params, carryEdges))
      .reduce(_ unionByName _)
    val loops = maxHops > 1

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
    // A zero-length path means start and end are the SAME node, so it can
    // only contribute when the end label is the start label — otherwise an
    // id coincidence across label key spaces would fabricate matches.
    val zeroHop = minHops == 0 && startLabel.contains(endLabel)

    // BFS dedup is only valid when any reached hop >= minHops counts
    // (minHops <= 1); a minHops > 1 shortestPath must keep walks so a
    // node first seen below the floor can still be reported at the floor.
    val bfs = shortest.isDefined && minHops <= 1

    // Broadcast regime: hop counts only (the map holds no edge identities
    // to build witnesses from) over an edge list small enough to ship.
    if (bfs && loops && !matPaths) broadcastAdjacency(edges0, startIds) match {
      case Some((adj, keyType)) =>
        return finishSegment(qc, cur, fromVar,
          broadcastBfs(startIds, adj, keyType, maxHops, zeroHop),
          endVar, cyclic, endLabel, endNode)
      case None =>
    }

    // Frontier loop. The edge set is pinned ONCE when the loop iterates,
    // or every hop re-executes its derivation (GraphX caches its edge RDD
    // the same way). Under adaptive execution a pin reports
    // UnknownPartitioning, so a large edge table re-shuffles per hop.
    val edges = if (loops) graft.operators.IterPin.pin(edges0) else edges0
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
    if (zeroHop) results :+= walkRows(frontier)

    // the origin is visited only when its zero-hop row was emitted
    var visited: DataFrame =
      if (zeroHop) frontier.select(col("__origin"), col("__node"))
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
    * broadcast regimes. Materialized `__nodes`/`__edges` arrays (if
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

  /** The edge list as a broadcast adjacency map plus its key type, or
    * None when it does not fit under `spark.sql.autoBroadcastJoinThreshold`
    * (or that is `-1`). Rows are counted, not estimated: at most one row
    * past what fits is collected, each sized as Spark sizes a row (8 bytes
    * plus each column's default size). Keys and neighbours are cast to
    * the common type of the start ids and both endpoints, so lookups
    * compare values of one type, strings included. Edges with a null
    * endpoint are dropped, as the frontier loop's equi-join drops them.
    */
  private def broadcastAdjacency(edges: DataFrame, startIds: DataFrame)
  : Option[(Broadcast[Map[Any, Array[Any]]], DataType)] = {
    val spark = edges.sparkSession
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val keyType = startIds.select(col("__origin").as("__id"))
      .unionByName(edges.select(col("__src").as("__id")))
      .unionByName(edges.select(col("__dst").as("__id"))).schema.head.dataType
    val fits = math.min(threshold / (8 + 2 * keyType.defaultSize), Int.MaxValue - 1L)
    if (fits <= 0) None
    else {
      val rows = edges
        .select(col("__src").cast(keyType).as("__src"), col("__dst").cast(keyType).as("__dst"))
        .where(col("__src").isNotNull && col("__dst").isNotNull)
        .limit(fits.toInt + 1).collect()
      Option.when(rows.length <= fits) {
        val adj = rows.groupMap(_.get(0))(_.get(1)).map { case (u, vs) => u -> vs.distinct }
        (spark.sparkContext.broadcast(adj), keyType)
      }
    }
  }

  /** The reference's per-origin BFS over a broadcast adjacency map, run
    * lazily inside one `mapPartitions` over the distinct start ids:
    * `(__origin, __node, __hops)` with each reached node once, at its
    * least hop count (1..maxHops), plus the `(origin, origin, 0)` row
    * when `zeroHop`. `__origin` keeps the start id's type; `__node`
    * takes the adjacency's key type.
    */
  private def broadcastBfs(startIds: DataFrame, adj: Broadcast[Map[Any, Array[Any]]],
                           keyType: DataType, maxHops: Int, zeroHop: Boolean)
  : DataFrame = {
    val schema = StructType(Seq(startIds.schema("__origin"),
      StructField("__node", keyType), StructField("__hops", LongType, nullable = false)))
    startIds.select(col("__origin"), col("__origin").cast(keyType))
      .mapPartitions { (origins: Iterator[Row]) =>
        val next = adj.value
        origins.filter(!_.isNullAt(1)).flatMap { r =>
          val (origin, seed) = (r.get(0), r.get(1))
          val seen = mutable.HashSet.empty[Any]
          val out = mutable.ArrayBuffer.empty[Row]
          if (zeroHop) { seen += seed; out += Row(origin, seed, 0L) }
          var frontier = Vector[Any](seed)
          var hop = 1L
          while (hop <= maxHops && frontier.nonEmpty) {
            val reached = frontier.flatMap(next.getOrElse(_, Array.empty[Any])).filter(seen.add)
            reached.foreach(v => out += Row(origin, v, hop))
            frontier = reached
            hop += 1
          }
          out
        }
      }(Encoders.row(schema))
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
