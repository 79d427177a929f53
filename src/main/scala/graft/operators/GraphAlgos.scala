package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph iterative analytics over plain `(src, dst)` edge
  * DataFrames — the batch counterpart of the per-pattern traversals in
  * [[graft.paths.PathExpand]]. Beyond the reference's surface (its
  * graph layer stops at Cypher pattern matching), but a first-class
  * need of the curation stack: centrality scores rank seed URLs /
  * entities when building a crawl-derived corpus, and they reuse the
  * same bucketed edge tables the compiled hops read.
  */
object GraphAlgos {

  /** Synchronous power-iteration PageRank (Page et al. 1999) with full
    * dangling-node redistribution, so rank mass is conserved exactly
    * (sum of ranks stays 1 every iteration — spec-asserted; GraphX's
    * formulation leaks dangling mass instead).
    *
    * Per iteration:
    *   rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u)/outdeg(u) + D/n )
    * where D is the total rank held by dangling nodes (no out-edges).
    *
    * Scale shape ([[VertexLoop.ranks]]): the adjacency is partitioned
    * by source once, each weight already divided by its source's total;
    * an iteration moves every rank along its out-edges in one
    * map-side-summed shuffle and merges the sums into the
    * co-partitioned rank vector — one Spark job per iteration, which
    * pins the ranks, sums the next iteration's dangling mass D and
    * counts the ranks that moved by `tolerance` or more (none moved:
    * the L∞ delta is below it). Set-up is one more job: the node set
    * and its count n.
    *
    * Node set = distinct sources ∪ destinations. `relative = true`
    * returns rank scaled by n (rank relative to uniform — the form
    * that compares across corpus sizes). `tolerance = Some(tol)` stops
    * early once the L∞ rank delta drops below `tol` (`iterations`
    * stays the hard cap). `weightCol` makes the walk weighted: a
    * source's rank splits across its out-edges proportionally to the
    * edge weight (unit weights reproduce the unweighted results). `seeds`
    * personalizes: teleport and dangling mass go to the seed set
    * instead of uniform, turning rank into proximity-to-seeds (the
    * graph-retrieval form); seeds must be nodes of the graph or their
    * teleport mass is lost.
    */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85,
               relative: Boolean = false,
               tolerance: Option[Double] = None,
               weightCol: Option[String] = None,
               seeds: Option[Seq[Long]] = None): DataFrame = {
    seeds.foreach(s => require(s.nonEmpty, "personalized pageRank needs at least one seed"))
    VertexLoop.ranks(edges.select(col("src"), col("dst"),
        weightCol.fold(lit(1.0))(col(_).cast("double")).as("weight")),
      iterations, damping, relative, tolerance.getOrElse(0.0), seeds)
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * distributed formulation of Montresor et al. 2013): repeatedly
    * delete every node whose degree is below `k` until no such node
    * remains; what survives is the k-core, the standard density filter
    * for seed selection / spam-farm pruning over crawl graphs. Expects
    * symmetrized edges (both directions present) and returns each
    * surviving node with its degree INSIDE the core.
    *
    * Scale shape ([[VertexLoop.core]]): the state is each node's
    * out-degree among surviving nodes; a round peels the nodes below
    * `k`, and each sends the edges it takes away to its in-neighbours
    * in one map-side-summed shuffle — one Spark job per round, and the
    * traffic falls with the peel. The loop stops after a round that
    * lowered no survivor's degree.
    *
    * Determinism: peeling is confluent — the fixpoint does not depend
    * on deletion order — and IDEMPOTENT past convergence, so a replay
    * that unrolls exactly `maxRounds` rounds produces the identical
    * core whether or not it knows where the fixpoint fell. That is
    * what makes the fixed-unroll external-SQL oracle exact.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    VertexLoop.core(edges, k, maxRounds)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with fully
    * deterministic tie-breaking: every node starts labeled with its
    * own id; each iteration it adopts the most frequent label among
    * its in-neighbors, ties to the SMALLEST label (the openly known
    * fix for LPA's tie nondeterminism). Nodes with no in-edges keep
    * their label. Pass symmetrized edges for the usual undirected
    * community semantics. Exact integer state — an external SQL
    * engine replays every iteration verbatim.
    *
    * Scale shape ([[VertexLoop]]): the adjacency is partitioned by
    * source once; each iteration moves every label along its
    * out-edges in one map-side-combined (node, label) count shuffle
    * and merges the per-node winner into the co-partitioned label
    * vector — one Spark job per iteration, which also pins the
    * labels. An iteration that changes no label is a fixpoint, so the
    * loop stops there with identical labels.
    *
    * Synchronous LPA can oscillate on bipartite structures (period-2
    * flips) — the documented trade for determinism; `iterations` caps
    * the loop either way.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame =
    VertexLoop.labels(edges, iterations)

  /** Per-node triangle participation + local clustering coefficient
    * (Watts–Strogatz 1998) over a SYMMETRIC simple edge table.
    *
    * Triangle enumeration reuses the worst-case-optimal join
    * ([[Wcoj.triangles]]) on the a<b<c orientation, so each triangle
    * is produced exactly once and total work respects the AGM bound
    * (Σ per-edge min-degree) instead of the wedge count — the thing
    * that matters on a skewed 100 TB web graph, where the wedge count
    * of one celebrity node alone can exceed the full triangle count.
    * Everything after enumeration is map-side-combinable: explode the
    * 3 corners, count per node, one broadcast-sized join back to the
    * degree table. Nodes in no triangle are kept (triangles = 0), so
    * the output is exactly one row per node of the input graph.
    *
    * cc(v) = 2·T(v) / (d(v)·(d(v)−1)), 0 when d < 2; rounded to 6dp
    * (+1e-11) for cross-engine hash stability.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val oriented = sym.filter(col("src") < col("dst"))
    // pattern frames for a<b<c: ab = (a,b), bc = (b,c), ca = (c,a) —
    // the closing edge runs against orientation, so reverse it
    val tri = Wcoj.triangles(oriented, oriented,
      oriented.select(col("dst").as("src"), col("src").as("dst")))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        col("degree"),
        round(when(col("degree") >= 2,
            lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)) + lit(1e-11), 6).as("cc"))
  }

  /** Single-source (or multi-seed) shortest weighted distances by
    * synchronous Bellman–Ford relaxation: each round every edge offers
    * `dist(src) + weight` to its destination and every node keeps its
    * minimum. Seeds start at 0; nodes never reached emit no row.
    *
    * Exact integer arithmetic (weights are cast to long), so an
    * external engine replays the loop verbatim; relaxation is
    * IDEMPOTENT past the fixpoint, which makes a fixed-unroll oracle
    * exact whether or not it knows where convergence fell (same
    * argument as [[kCore]]).
    *
    * Scale shape ([[VertexLoop.relax]]): frontier-delta rounds — only
    * nodes whose distance changed last round offer along their
    * out-edges (the Pregel/GraphX shape), so total traffic is
    * O(improvements), not O(rounds × reached set). One map-side min
    * shuffle and one Spark job per round; the loop stops after a round
    * that changed nothing, and `maxRounds` caps hostile diameters.
    */
  def sssp(edges: DataFrame, seeds: DataFrame, maxRounds: Int = 15): DataFrame =
    VertexLoop.relax(edges.select(col("src"), col("dst"), col("weight")),
      seeds.select(lit(0L).as("origin"), col("node")), maxRounds,
      withOrigin = false)

  /** Per-origin hop distances from a seed set — synchronous BFS with
    * (origin, node) state, the landmark-distance building block.
    * Same loop and fixed-unroll-exact argument as [[sssp]] with unit
    * weights; each (origin, node) moves through the shuffle once, in
    * its reach round. The state is |seeds| × reached nodes, so seed
    * count is the memory knob (landmark methods sample tens of seeds,
    * not thousands).
    */
  def multiSourceHopDistances(edges: DataFrame, seeds: DataFrame,
                              maxRounds: Int = 10): DataFrame =
    VertexLoop.relax(edges.select(col("src"), col("dst"), lit(1L).as("weight")),
      seeds.select(col("node").as("origin"), col("node")), maxRounds,
      withOrigin = true)

  /** Weighted one-mode projection of a bipartite graph: given
    * (left, right) membership edges, connect left nodes that share a
    * right neighbor, weighted by the number of shared neighbors — the
    * standard co-occurrence graph build (users→items ⇒ item-item,
    * orders→parts ⇒ part-part co-purchase), which this repo's graph
    * queries have been deriving inline; as an operator it carries the
    * skew guard the inline form lacks.
    *
    * Scale shape: one self-join keyed on the RIGHT node + one
    * map-side-combinable count. The hazard is a celebrity right node
    * (a part in every order) squaring into pairs; `maxRightDegree`
    * drops right nodes above the cap BEFORE the join (one aggregate),
    * the documented projection practice — a right node shared by
    * everyone carries no co-occurrence signal, only quadratic cost.
    * Emits each undirected pair once (a < b).
    */
  def bipartiteProject(edges: DataFrame, maxRightDegree: Int = 1 << 20): DataFrame = {
    val e = edges.select(col("left"), col("right")).distinct()
    val keep = e.groupBy(col("right")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") <= maxRightDegree).select(col("right"))
    val ek = e.join(keep, Seq("right"), "left_semi")
    ek.as("x").join(ek.as("y"),
        col("x.right") === col("y.right") && col("x.left") < col("y.left"))
      .groupBy(col("x.left").as("a"), col("y.left").as("b"))
      .agg(count(lit(1)).as("weight"))
  }

  /** Harmonic closeness centrality of each seed: Σ 1/d(seed, v) over
    * reached v ≠ seed (Marchiori–Latora 2000 — the closeness variant
    * that is well-defined on disconnected graphs). Exact hop
    * distances from [[multiSourceHopDistances]]; rounded 6dp (+1e-11)
    * for cross-engine stability.
    */
  def harmonicCloseness(edges: DataFrame, seeds: DataFrame,
                        maxRounds: Int = 10): DataFrame =
    multiSourceHopDistances(edges, seeds, maxRounds)
      .filter(col("dist") > 0)
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n_reached"),
        round(sum(lit(1.0) / col("dist")) + lit(1e-11), 6).as("closeness"))

  /** Pivot-sampled harmonic closeness of EVERY vertex (Eppstein & Wang
    * 2001, "Fast approximation of centrality", SODA — the pivot
    * estimator, on the harmonic variant): BFS from `pivots` md5-ranked
    * seed vertices (deterministic — the sampledCentroids rank rule, so
    * an external SQL engine replays the pivot pick verbatim) and
    * estimate each vertex's harmonic centrality as
    * `(n / k) * Σ_pivots 1/d(pivot, v)` — the unbiased scale-up of the
    * sampled inverse-distance sum (a pivot at `v` itself contributes 0:
    * `d = 0` rows are excluded, exactly the self-term the true sum
    * excludes). With `pivots >= n` the sample IS every vertex and the
    * estimate is the exact (in-)harmonic centrality — the oracle-gate
    * regime; the scale factor is then exactly 1.0, so values are
    * bit-identical to the unscaled sum.
    *
    * Why this exists: exact all-vertex closeness is all-sources BFS —
    * state |V| × reached, quadratic-ish in total at 100× data. Here
    * cost is ∝ pivots × graph (the [[multiSourceHopDistances]] state is
    * |pivots| × reached), with accuracy O(1/√k) per Eppstein–Wang —
    * tens of pivots suffice for ranking, independent of |V|.
    */
  def sampledHarmonicCloseness(edges: DataFrame, pivots: Int,
                               maxRounds: Int = 10): DataFrame = {
    require(pivots >= 1, s"pivots must be >= 1, got $pivots")
    pivotCloseness(edges, _ => pivots, maxRounds)
  }

  /** SIZE-ROUTED all-vertex harmonic closeness — the production entry
    * the CALL surface uses: graphs at or under `exactMaxVertices`
    * vertices run the exact regime (every vertex a pivot — the
    * estimator's `pivots >= n` degenerate case, scale factor exactly
    * 1.0), larger graphs get the Eppstein–Wang `pivots` estimator
    * whose cost is ∝ pivots × graph instead of |V| × graph — a caller
    * should get the ∝-pivots plan at scale without having to know the
    * estimator exists. Exact stays opt-in by raising the threshold.
    * Both regimes return (node, pivots_reached, closeness_est) and the
    * routing decision is logged. The router reads the vertex count the
    * estimator's pin already takes, so routing costs no job.
    */
  def harmonicClosenessAuto(edges: DataFrame,
                            exactMaxVertices: Long = 10000L,
                            pivots: Int = 16,
                            maxRounds: Int = 10): DataFrame = {
    require(pivots >= 1, s"pivots must be >= 1, got $pivots")
    pivotCloseness(edges, { n =>
      val exact = n <= exactMaxVertices
      System.err.println(
        s"[graft] closeness routing: n_vertices=$n regime=" +
          (if (exact) "exact" else s"sampled(pivots=$pivots)") +
          s" (exact.maxVertices=$exactMaxVertices)")
      if (exact) Int.MaxValue else pivots
    }, maxRounds)
  }

  /** [[sampledHarmonicCloseness]] with the pivot count chosen by
    * `pivotsFor(vertex count)`.
    */
  private def pivotCloseness(edges: DataFrame, pivotsFor: Long => Int,
                             maxRounds: Int): DataFrame = {
    // pin the edges once: `edges` is usually a lazy build plan, and the
    // vertex set, the pivot pick, and the BFS would otherwise each
    // re-execute it from the source (4 full builds per call measured
    // before this). The vertex count rides on the verts pin's own job.
    val e = IterPin.pin(edges.select(col("src"), col("dst")))
    val (verts, vRow) = IterPin.pinProbed(
      e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct(),
      Seq(count(lit(1))))
    val n = vRow.getLong(0)
    val k = math.min(pivotsFor(n).toLong, n)
    val seeds = verts
      .orderBy(md5(col("node").cast("string").cast("binary")), col("node"))
      .limit(k.toInt)
    val dists = multiSourceHopDistances(e, seeds, maxRounds)
    // the BFS pinned its own edge/seed state — the loop inputs can go
    IterPin.free(e)
    IterPin.free(verts)
    dists
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("pivots_reached"),
        round(sum(lit(1.0) / col("dist")) *
            (lit(n.toDouble) / lit(k.toDouble)) + lit(1e-11), 6)
          .as("closeness_est"))
  }
}
