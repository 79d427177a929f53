package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the clustering step that
  * turns near-duplicate PAIRS (from Dedup.*Pairs) into duplicate
  * GROUPS, so a corpus keeps one canonical document per component.
  * The reference's ETL dedups row-wise; at corpus scale the standard
  * pipeline is pairs → components → keep min-id representative.
  */
object Components {

  /** (id, component) for every node appearing in `pairs`; component is
    * the minimum node id reachable through the pair graph. Ids must be
    * integral.
    *
    * Two regimes, gated on the deduped edge count
    * (`graft.components.driverMaxEdges`, default 200k), which rides the
    * edge pin's own job: near-duplicate pair sets are usually a
    * vanishing fraction of the corpus, and for those a driver-side
    * union-find over the collected pairs costs ONE job instead of
    * O(log d) rounds — each distributed round pays a fixed scheduler
    * floor that dwarfs the actual work at that size. Pair sets above
    * the gate (or when the cap is lowered) take the distributed
    * min-label propagation with pointer jumping
    * ([[VertexLoop.components]]: O(log diameter) rounds of one job
    * each), which never materializes edges on the driver.
    */
  def connectedComponents(pairs: DataFrame, idCol1: String, idCol2: String,
                          maxIter: Int = 25): DataFrame = {
    // undirected edge list, deduped once and pinned; its count rides
    // the pin's job (IterPin.pinProbed)
    val (und, row) = IterPin.pinProbed(
      pairs.select(col(idCol1).as("src"), col(idCol2).as("dst"))
        .unionByName(pairs.select(col(idCol2).as("src"), col(idCol1).as("dst")))
        .distinct(), Seq(count(lit(1))))
    val driverCap = und.sparkSession.conf
      .get("graft.components.driverMaxEdges", "200000").toLong
    val r =
      if (row.getLong(0) <= driverCap) driverUnionFind(und) // builds from collected longs
      else VertexLoop.components(und, maxIter)
    IterPin.free(und) // neither result reads the edge pin
    r
  }

  /** Driver-side union-find for small pair sets: edges collected as
    * primitive long pairs (16 B each — the 200k default gate is ~3 MB
    * on the driver), path-halving find, union attaching the larger root
    * under the smaller so the final root IS the set's minimum id
    * (matching the distributed min-label semantics exactly).
    */
  private def driverUnionFind(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val edges = und.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(id => (id, find(id))).toSeq.toDF("id", "comp")
  }

  /** One canonical (minimum-id) representative per component, plus the
    * component size — the "keep one copy" output of a dedup pipeline.
    */
  def canonicalPerComponent(pairs: DataFrame, idCol1: String,
                            idCol2: String): DataFrame =
    connectedComponents(pairs, idCol1, idCol2)
      .groupBy(col("comp").as("component"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_members"))
}
