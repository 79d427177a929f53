package graft.operators

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.{KryoSerializer, Serializer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BaseGenericInternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.RowsBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** GraphX's layout (Gonzalez et al., OSDI'14) for every whole-graph loop
  * of [[GraphAlgos]] and [[Components]]: sssp, multi-source BFS, label
  * propagation, PageRank, k-core peeling and connected components.
  *
  * Under adaptive execution a DataFrame pin does not keep its hash
  * partitioning (`repartition(k).localCheckpoint()` reports
  * `UnknownPartitioning`), so a DataFrame loop re-plans, re-stages and
  * re-shuffles its state every round. Here every RDD shares ONE
  * `HashPartitioner(spark.sql.shuffle.partitions)` on the node id:
  *
  *  - the adjacency is keyed by one endpoint, indexed per partition and
  *    persisted once;
  *  - a round is a narrow zip of the state (or only its changed rows)
  *    with that adjacency, Kryo-serialized shuffles of messages
  *    combined map-side in an [[Inbox]], and a narrow zip that merges
  *    them into the state;
  *  - the round's state is pinned ([[IterPin.pin]]'s RDD overload) by
  *    the one job that counts its changed rows (and sums the scalar the
  *    next round reads, if any), and the loop stops when a round
  *    changed nothing.
  *
  * So a round costs one job, with no Catalyst planning or generated
  * code. Ids are exact 64-bit integers throughout; the returned frame's
  * plan root is the final state RDD itself (its rows are [[VRow]]s), so
  * `IterPin.free` on the result releases it. Ids must be integral (a
  * null id names no vertex: edges and seeds with a null id or weight
  * are skipped).
  */
private[graft] object VertexLoop {

  private val Min: (Long, Long) => Long = math.min
  private val Sum: (Long, Long) => Long = _ + _
  /** Sum of doubles carried as their raw bits. */
  private val DSum: (Long, Long) => Long = (a, b) => bits(dbl(a) + dbl(b))

  private def dbl(b: Long): Double = java.lang.Double.longBitsToDouble(b)
  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** Values addressed to nodes, combined per (node, x) with `op`: a
    * distance per origin, a count per label, a weight per destination.
    * A map task fills one and ships it as one `(node, [x0, v0, x1, v1,
    * …])` record per node; the receiving task merges the records into
    * another.
    */
  private final class Inbox(op: (Long, Long) => Long) {
    val byNode = mutable.LongMap.empty[mutable.LongMap[Long]]
    def add(node: Long, x: Long, v: Long): Unit = {
      val in = byNode.getOrElseUpdate(node, mutable.LongMap.empty[Long])
      val n = in.size
      val old = in.getOrElseUpdate(x, v)
      if (in.size == n) in(x) = op(old, v)
    }
    def take(node: Long, x: Long): Option[Long] = byNode.get(node).flatMap(_.remove(x))
    def rows: Iterator[(Long, Long, Long)] = byNode.iterator.flatMap { case (node, in) =>
      in.iterator.map { case (x, v) => (node, x, v) }
    }
    def records: Iterator[(Long, Array[Long])] = byNode.iterator.map { case (node, in) =>
      val xv = new Array[Long](2 * in.size)
      var i = 0
      in.foreachEntry { (x, v) => xv(i) = x; xv(i + 1) = v; i += 2 }
      (node, xv)
    }
  }

  private object Inbox {
    /** Map side: an inbox filled by `fill`, as shuffle records. */
    def send(op: (Long, Long) => Long)(fill: Inbox => Unit): Iterator[(Long, Array[Long])] = {
      val in = new Inbox(op)
      fill(in)
      in.records
    }
    /** Reduce side: the shipped records merged into one inbox. */
    def receive(op: (Long, Long) => Long, records: Iterator[(Long, Array[Long])]): Inbox = {
      val in = new Inbox(op)
      records.foreach { case (node, xv) =>
        var i = 0
        while (i < xv.length) { in.add(node, xv(i), xv(i + 1)); i += 2 }
      }
      in
    }
  }

  /** One partition's edges, indexed by their key endpoint (CSR): the
    * edges of `src` are `dst(i)`, `w(i)` for `i` in `off(slot(src))`
    * until `off(slot(src) + 1)`.
    */
  private final class Adj(in: Inbox) extends Serializable {
    private val slot = mutable.LongMap.empty[Int]
    private val off = new Array[Int](in.byNode.size + 1)
    private val dst, w = new Array[Long](in.byNode.valuesIterator.map(_.size).sum)
    locally {
      var k = 0
      in.byNode.foreachEntry { (src, out) =>
        slot(src) = k
        var i = off(k)
        out.foreachEntry { (d, x) => dst(i) = d; w(i) = x; i += 1 }
        off(k + 1) = i
        k += 1
      }
    }
    def foreachOut(src: Long)(f: (Long, Long) => Unit): Unit = {
      val k = slot.getOrElse(src, -1)
      if (k >= 0) {
        var i = off(k)
        while (i < off(k + 1)) { f(dst(i), w(i)); i += 1 }
      }
    }
    def foreachEdge(f: (Long, Long, Long) => Unit): Unit =
      slot.foreachEntry((src, _) => foreachOut(src)(f(src, _, _)))
  }

  /** One row of vertex state — `value` (a distance, a label, a degree
    * or a rank's raw bits) of `node`, reached from `origin` (PageRank:
    * 1 on a dangling node), and whether this round changed it — and
    * also a row of the returned frame: `schema` names its columns,
    * `(node, value)` or, with three fields, `(origin, node, value)`.
    */
  private final class VRow(val origin: Long, val node: Long, val value: Long,
                           val changed: Boolean, schema: StructType)
    extends BaseGenericInternalRow {
    def next(v: Long, ch: Boolean): VRow =
      if (v == value && ch == changed) this
      else new VRow(origin, node, v, ch, schema)
    private def at(i: Int): Long = i + 3 - schema.length match {
      case 0 => origin
      case 1 => node
      case _ => value
    }
    override def numFields: Int = schema.length
    override protected def genericGet(i: Int): Any = schema(i).dataType match {
      case IntegerType => at(i).toInt
      case ShortType => at(i).toShort
      case ByteType => at(i).toByte
      case DoubleType => dbl(at(i))
      case _ => at(i)
    }
    override def isNullAt(i: Int): Boolean = false
    override def getLong(i: Int): Long = at(i)
    override def getInt(i: Int): Int = at(i).toInt
    override def getDouble(i: Int): Double = dbl(at(i))
    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
    override def update(i: Int, v: Any): Unit = throw new UnsupportedOperationException
  }

  /** Frontier-delta relaxation (sssp, BFS): `edges` (src, dst, weight)
    * and `seeds` (origin, node); state is the least `dist` per
    * (origin, node). A round offers `dist + weight` along the out-edges
    * of rows that changed last round only — an unchanged row's offers
    * were applied the round after it last changed and min is
    * idempotent, so every round equals full Bellman–Ford relaxation
    * (parallel edges keep their least weight for the same reason).
    * Returns (node, dist), or (origin, node, dist) with `withOrigin`.
    */
  def relax(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
            withOrigin: Boolean): DataFrame = {
    val spark = edges.sparkSession
    val nodeType = seeds.select(col("node"))
      .unionAll(edges.select(col("dst").as("node"))).schema.head.dataType
    idField("src", edges.schema("src").dataType) // a src is an id too: integral
    val schema = StructType(
      (if (withOrigin) Seq(idField("origin", seeds.schema("origin").dataType))
       else Nil) ++ Seq(idField("node", nodeType), StructField("dist", LongType, false)))
    val (part, ser) = layout(spark)
    val adj = adjacency(edges, Min, part, ser)
    val state0 = ship(longs(seeds, Seq("node", "origin")).mapPartitions(rs =>
        Inbox.send(Min)(in => rs.foreach(r => in.add(r(0), r(1), 0L)))), part, ser)
      .mapPartitions(recs => Inbox.receive(Min, recs).rows
        .map { case (n, o, d) => new VRow(o, n, d, true, schema) }, preservesPartitioning = true)
    iterate(spark, state0, maxRounds, schema, Seq(adj)) { (state, _) =>
      val offers = ship(state.zipPartitions(adj) { (rows, as) =>
        val a = as.next()
        Inbox.send(Min)(in => rows.foreach(r => if (r.changed)
          a.foreachOut(r.node)((d, w) => in.add(d, r.origin, r.value + w))))
      }, part, ser)
      state.zipPartitions(offers, preservesPartitioning = true) { (rows, recs) =>
        val in = Inbox.receive(Min, recs)
        rows.map { r =>
          in.take(r.node, r.origin) match {
            case Some(d) if d < r.value => r.next(d, ch = true)
            case _ => r.next(r.value, ch = false)
          }
        } ++ in.rows.map { case (n, o, d) => new VRow(o, n, d, true, schema) }
      }
    }
  }

  /** Synchronous label propagation over `edges` (src, dst): every node
    * takes the most frequent label among its in-neighbors (parallel
    * edges counted), ties to the smallest, and keeps its own id without
    * in-edges. The update is a function of the labels alone, so a round
    * that changed no label is a fixpoint and the loop stops there.
    * Returns (node, label).
    */
  def labels(edges: DataFrame, iterations: Int): DataFrame = {
    val spark = edges.sparkSession
    val t = idType(edges)
    val schema = StructType(Seq(idField("node", t), idField("label", t)))
    val (part, ser) = layout(spark)
    // weight = edge multiplicity
    val adj = adjacency(edges.select(col("src"), col("dst"), lit(1L).as("weight")),
      Sum, part, ser)
    iterate(spark, ownIds(adj, part, ser, schema), iterations, schema, Seq(adj)) { (state, _) =>
      val counts = ship(state.zipPartitions(adj) { (rows, as) =>
        val a = as.next()
        Inbox.send(Sum)(in => rows.foreach(r =>
          a.foreachOut(r.node)((d, m) => in.add(d, r.value, m))))
      }, part, ser)
      state.zipPartitions(counts, preservesPartitioning = true) { (rows, recs) =>
        val in = Inbox.receive(Sum, recs)
        rows.map { r =>
          val l = in.byNode.get(r.node).fold(r.node) { counts =>
            var (bc, bl) = (0L, 0L)
            counts.foreachEntry { (lab, c) => if (c > bc || (c == bc && lab < bl)) { bc = c; bl = lab } }
            bl
          }
          r.next(l, l != r.value)
        }
      }
    }
  }

  /** Connected components of undirected `edges` (src, dst; both
    * directions present) by min-label propagation with pointer jumping:
    * a round takes `c(v) = min(label(v), min label of v's neighbours)`,
    * then jumps `label'(v) = c(c(v))` — a request to the node `c(v)`
    * names and its reply, two more shuffles inside the round's job. The
    * jump halves path lengths, so the loop converges in O(log diameter)
    * rounds; labels only fall, so a round that changed none is the
    * fixpoint. Returns (id, comp), comp the least id in id's component.
    */
  def components(edges: DataFrame, maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    val t = idType(edges)
    val schema = StructType(Seq(idField("id", t), idField("comp", t)))
    val (part, ser) = layout(spark)
    val adj = adjacency(edges.select(col("src"), col("dst"), lit(0L).as("weight")),
      Min, part, ser)
    iterate(spark, ownIds(adj, part, ser, schema), maxIter, schema, Seq(adj)) { (state, _) =>
      val nbr = ship(state.zipPartitions(adj) { (rows, as) =>
        val a = as.next()
        Inbox.send(Min)(in => rows.foreach(r =>
          a.foreachOut(r.node)((d, _) => in.add(d, 0L, r.value))))
      }, part, ser)
      // (v, c(v)); built twice below, reading the one `nbr` shuffle
      def least = state.zipPartitions(nbr, preservesPartitioning = true) { (rows, recs) =>
        val in = Inbox.receive(Min, recs)
        rows.map(r => (r.node, in.take(r.node, 0L).fold(r.value)(math.min(_, r.value))))
      }
      val asks = ship(least.mapPartitions(vc =>
        Inbox.send(Min)(in => vc.foreach { case (v, c) => in.add(c, v, 0L) })), part, ser)
      val replies = ship(least.zipPartitions(asks) { (vc, recs) =>
        val in = Inbox.receive(Min, recs)
        Inbox.send(Min)(out => vc.foreach { case (l, c) =>
          in.byNode.get(l).foreach(_.foreachKey(v => out.add(v, 0L, c))) })
      }, part, ser)
      state.zipPartitions(replies, preservesPartitioning = true) { (rows, recs) =>
        val in = Inbox.receive(Min, recs)
        rows.map { r => val c = in.take(r.node, 0L).get; r.next(c, c != r.value) }
      }
    }
  }

  /** Synchronous k-core peeling over `edges` (src, dst): state is each
    * surviving node's out-degree among surviving nodes (parallel edges
    * counted). A round removes every node of degree below `k`; each
    * sends the multiplicity of the edges it takes away to its
    * in-neighbours over a dst-keyed adjacency. This is round for round
    * the edge-set peel (keep the edges whose two ends both have
    * out-degree ≥ k), and a round that lowered no survivor's degree
    * leaves every survivor at ≥ k: the fixpoint. Returns (node, deg) for
    * the survivors with deg > 0.
    */
  def core(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    val schema = StructType(Seq(idField("node", idType(edges)),
      StructField("deg", LongType, false)))
    val (part, ser) = layout(spark)
    // keyed by dst: (v, in-neighbour u, multiplicity of u -> v)
    val in = adjacency(edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(1L).as("weight")), Sum, part, ser)
    val state0 = nodes(in, Sum, part, ser) { (v, u, m, out) =>
      out.add(u, 0L, m); out.add(v, 0L, 0L)
    } { (n, deg) => new VRow(0L, n, deg, true, schema) }
    iterate(spark, state0, maxRounds, schema, Seq(in), keep = _.value > 0) { (state, _) =>
      val taken = ship(state.zipPartitions(in) { (rows, as) =>
        val a = as.next()
        Inbox.send(Sum)(out => rows.foreach(r => if (r.value < k)
          a.foreachOut(r.node)((u, m) => out.add(u, 0L, m))))
      }, part, ser)
      state.zipPartitions(taken, preservesPartitioning = true) { (rows, recs) =>
        val got = Inbox.receive(Sum, recs)
        rows.filter(_.value >= k).map { r =>
          val m = got.take(r.node, 0L).getOrElse(0L)
          r.next(r.value - m, m > 0)
        }
      }
    }
  }

  /** Synchronous power-iteration PageRank over `edges` (src, dst,
    * weight: double) with dangling mass redistributed: per round
    * `rank'(v) = (1-d)·t(v) + d·(Σ_{u→v} rank(u)·w(u,v)/w(u) + D·t(v))`,
    * `t` the teleport vector (uniform, or 1/|seeds| on each seed), `w(u)`
    * u's total out-weight and `D` the rank held by nodes without
    * out-edges. The adjacency stores each weight divided by its
    * source's total; the job that pins a round also sums the next
    * round's `D`. With `tolerance` > 0 the loop stops after a round
    * whose L∞ rank delta is below it. Returns (node, rank), rank scaled
    * by the node count with `relative`.
    */
  def ranks(edges: DataFrame, iterations: Int, damping: Double, relative: Boolean,
            tolerance: Double, seeds: Option[Seq[Long]]): DataFrame = {
    val spark = edges.sparkSession
    val schema = StructType(Seq(idField("node", idType(edges)),
      StructField("rank", DoubleType, false)))
    val (part, ser) = layout(spark)
    val adj = adjacency(edges, DSum, part, ser, in => in.byNode.foreachValue { out =>
      val total = out.valuesIterator.map(dbl).sum
      out.mapValuesInPlace((_, w) => bits(dbl(w) / total))
    }, doubleWeights = true)
    val seedSet = seeds.map(_.toSet)
    // the node set, origin = 1 on a dangling node; its pin counts the
    // nodes and the dangling ones that teleport lands on
    val (nodeSet, _, n, dangling0) = pinned(spark,
      nodes(adj, Min, part, ser) { (s, d, _, in) => in.add(s, 0L, 0L); in.add(d, 0L, 1L) } {
        (v, flag) => new VRow(flag, v, 0L, true, schema)
      },
      r => if (r.origin == 1 && seedSet.forall(_(r.node))) 1.0 else 0.0)
    val (tele, share): (Long => Double, Double) = seeds match {
      case Some(s) => (v => if (seedSet.exists(_(v))) 1.0 / s.size else 0.0, 1.0 / s.size)
      case None => (_ => 1.0 / n, 1.0 / n)
    }
    val base = (1.0 - damping) / n
    def update(v: Long, s: Double, dmass: Double): Double =
      if (seeds.isDefined) (1.0 - damping) * tele(v) + damping * (s + dmass * tele(v))
      else base + damping * (s + dmass / n)
    val state0 = nodeSet.mapPartitions(_.map(r => r.next(bits(tele(r.node)), true)),
      preservesPartitioning = true)
    val frame = iterate(spark, state0, iterations, schema, Seq(adj, nodeSet),
        mass = r => if (r.origin == 1) dbl(r.value) else 0.0,
        mass0 = dangling0 * share) { (state, dmass) =>
      val contrib = ship(state.zipPartitions(adj) { (rows, as) =>
        val a = as.next()
        Inbox.send(DSum)(in => rows.foreach { r =>
          val rank = dbl(r.value)
          a.foreachOut(r.node)((v, f) => in.add(v, 0L, bits(rank * dbl(f))))
        })
      }, part, ser)
      state.zipPartitions(contrib, preservesPartitioning = true) { (rows, recs) =>
        val in = Inbox.receive(DSum, recs)
        rows.map { r =>
          val rank = update(r.node, in.take(r.node, 0L).fold(0.0)(dbl), dmass)
          r.next(bits(rank), !(math.abs(rank - dbl(r.value)) < tolerance))
        }
      }
    }
    if (relative) frame.select(col("node"), (col("rank") * n).as("rank")) else frame
  }

  /** Runs `step` for up to `rounds` rounds, stopping after a round that
    * changed no row. `step` gets the state and the sum of `mass` over
    * its rows (`mass0` for `state0`). Each round's state is pinned by
    * the single job that counts its changed rows and sums `mass`, and
    * the superseded state is freed once its successor is materialized.
    * Rows failing `keep` are dropped from the last round the cap allows
    * (or from `state0` at zero rounds); `keep` must hold on every row of
    * a fixpoint. Returns the final state as a frame, freeing `frees`.
    */
  private def iterate(spark: SparkSession, state0: RDD[VRow], rounds: Int,
                      schema: StructType, frees: Seq[RDD[_]],
                      keep: VRow => Boolean = _ => true,
                      mass: VRow => Double = _ => 0.0, mass0: Double = 0.0)
                     (step: (RDD[VRow], Double) => RDD[VRow]): DataFrame = {
    var (state, changed, rows, m, round) = (state0, -1L, 0L, mass0, 0)
    while (round < rounds && changed != 0) {
      val s = step(state, m)
      val (next, c, n, nm) = pinned(spark, if (round == rounds - 1) s.filter(keep) else s, mass)
      IterPin.free(spark, state)
      state = next; changed = c; rows = n; m = nm
      round += 1
    }
    if (round == 0) {
      val (p, _, n, _) = pinned(spark, state.filter(keep), mass)
      state = p; rows = n
    }
    frees.foreach(IterPin.free(spark, _))
    // the frame's plan root is the pinned state itself (VRow is an
    // InternalRow; RDD's type parameter is erased)
    RowsBridge.frame(spark, state.asInstanceOf[RDD[InternalRow]], schema, rows)
  }

  /** `s` pinned by one job that returns its changed rows, its rows and
    * the sum of `mass` over them.
    */
  private def pinned(spark: SparkSession, s: RDD[VRow],
                     mass: VRow => Double): (RDD[VRow], Long, Long, Double) = {
    val p = IterPin.pin(spark, s)
    val parts = spark.sparkContext.runJob(p, (it: Iterator[VRow]) => {
      var (c, n, m) = (0L, 0L, 0.0)
      it.foreach { r => if (r.changed) c += 1; n += 1; m += mass(r) }
      (c, n, m)
    })
    (p, parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }

  private def layout(spark: SparkSession): (Partitioner, Serializer) =
    (new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt),
      new KryoSerializer(spark.sparkContext.getConf))

  /** `edges` (src, dst, weight) shipped once to their source's
    * partition (weights cast to long, or carried as a double's raw
    * bits with `doubleWeights`), parallel edges' weights combined with
    * `op`, `prep` applied, and indexed there; persisted, not
    * checkpointed — its short lineage can recompute a lost block.
    */
  private def adjacency(edges: DataFrame, op: (Long, Long) => Long, part: Partitioner,
                        ser: Serializer, prep: Inbox => Unit = _ => (),
                        doubleWeights: Boolean = false): RDD[Adj] =
    ship(longs(edges, Seq("src", "dst", "weight"), doubleWeights).mapPartitions(rs =>
        Inbox.send(op)(in => rs.foreach(r => in.add(r(0), r(1), r(2))))), part, ser)
      .mapPartitions(recs => {
        val in = Inbox.receive(op, recs)
        prep(in)
        Iterator(new Adj(in))
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Every endpoint of `adj`'s edges once, as `row(node, v)`: `v`
    * combines with `op` the values `emit` sent the node from each edge
    * (key, other end, weight).
    */
  private def nodes(adj: RDD[Adj], op: (Long, Long) => Long, part: Partitioner,
                    ser: Serializer)(emit: (Long, Long, Long, Inbox) => Unit)
                   (row: (Long, Long) => VRow): RDD[VRow] =
    ship(adj.mapPartitions(as =>
        Inbox.send(op)(in => as.next().foreachEdge(emit(_, _, _, in)))), part, ser)
      .mapPartitions(recs => Inbox.receive(op, recs).rows.map { case (n, _, v) => row(n, v) },
        preservesPartitioning = true)

  /** Every node of `adj`, labelled with its own id. */
  private def ownIds(adj: RDD[Adj], part: Partitioner, ser: Serializer,
                     schema: StructType): RDD[VRow] =
    nodes(adj, Min, part, ser) { (s, d, _, in) => in.add(s, 0L, 0L); in.add(d, 0L, 0L) } {
      (v, _) => new VRow(0L, v, v, true, schema)
    }

  /** A shuffle of inbox records to the partition of their node. */
  private def ship(records: RDD[(Long, Array[Long])], part: Partitioner,
                   ser: Serializer): RDD[(Long, Array[Long])] =
    new ShuffledRDD[Long, Array[Long], Array[Long]](records, part).setSerializer(ser)

  /** `cols` of `df` cast to long — with `bitsLast`, the last one read
    * as a double's raw bits instead; rows with a null in any of them
    * dropped.
    */
  private def longs(df: DataFrame, cols: Seq[String],
                    bitsLast: Boolean = false): RDD[Array[Long]] = {
    val n = cols.length
    val last = if (bitsLast) col(cols.last).cast(DoubleType) else col(cols.last).cast(LongType)
    df.select(cols.init.map(col(_).cast(LongType)) :+ last: _*).na.drop()
      .queryExecution.toRdd.map(r => Array.tabulate(n)(i =>
        if (bitsLast && i == n - 1) bits(r.getDouble(i)) else r.getLong(i)))
  }

  /** The common type of `edges`' src and dst. */
  private def idType(edges: DataFrame): DataType =
    edges.select(col("src").as("n")).unionAll(edges.select(col("dst").as("n")))
      .schema.head.dataType

  private def idField(name: String, t: DataType): StructField = t match {
    case ByteType | ShortType | IntegerType | LongType => StructField(name, t, false)
    case other => throw new IllegalArgumentException(
      s"graph ids must be integers, but $name is $other")
  }
}
