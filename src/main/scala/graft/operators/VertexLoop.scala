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

/** GraphX's layout (Gonzalez et al., OSDI'14) for the vertex-state loops
  * of [[GraphAlgos]] — sssp, multi-source BFS and label propagation.
  *
  * Under adaptive execution a DataFrame pin does not keep its hash
  * partitioning (`repartition(k).localCheckpoint()` reports
  * `UnknownPartitioning`), so a DataFrame loop re-plans, re-stages and
  * re-shuffles its state every round. Here every RDD shares ONE
  * `HashPartitioner(spark.sql.shuffle.partitions)` on the node id:
  *
  *  - the adjacency is keyed by `src`, indexed per partition and
  *    persisted once;
  *  - a round is a narrow zip of the state (or only its changed rows)
  *    with that adjacency, ONE Kryo-serialized shuffle of messages
  *    combined map-side in an [[Inbox]], and a narrow zip that merges
  *    them into the state;
  *  - the round's state is pinned ([[IterPin.pin]]'s RDD overload) by
  *    the one job that counts its changed rows, and the loop stops
  *    when a round changed nothing.
  *
  * So a round costs one job and one shuffle, with no Catalyst planning
  * or generated code. Ids are exact 64-bit integers throughout; the
  * returned frame's plan root is the final state RDD itself (its rows
  * are [[VRow]]s), so `IterPin.free` on the result releases it. Ids
  * must be integral (a null id names no vertex: edges and seeds with a
  * null id or weight are skipped).
  */
private[graft] object VertexLoop {

  private val Min: (Long, Long) => Long = math.min
  private val Sum: (Long, Long) => Long = _ + _

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

  /** One partition's out-edges, indexed by source (CSR): the edges of
    * `src` are `dst(i)`, `w(i)` for `i` in `off(slot(src))` until
    * `off(slot(src) + 1)`.
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
    def nodes: Iterator[Long] = slot.keysIterator ++ dst.iterator
  }

  /** One row of vertex state — `value` (a distance or a label) of
    * `node`, reached from `origin`, and whether this round changed it —
    * and also a row of the returned frame: `schema` names its columns,
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
      case _ => at(i)
    }
    override def isNullAt(i: Int): Boolean = false
    override def getLong(i: Int): Long = at(i)
    override def getInt(i: Int): Int = at(i).toInt
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
    val schema = StructType(
      (if (withOrigin) Seq(idField("origin", seeds.schema("origin").dataType))
       else Nil) ++ Seq(idField("node", nodeType), StructField("dist", LongType, false)))
    val (part, ser) = layout(spark)
    val adj = adjacency(edges, Min, part, ser)
    val state0 = ship(longs(seeds, "node", "origin").mapPartitions(rs =>
        Inbox.send(Min)(in => rs.foreach(r => in.add(r(0), r(1), 0L)))), part, ser)
      .mapPartitions(recs => Inbox.receive(Min, recs).rows
        .map { case (n, o, d) => new VRow(o, n, d, true, schema) }, preservesPartitioning = true)
    iterate(spark, state0, maxRounds, adj, schema) { state =>
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
    val t = edges.select(col("src").as("n"))
      .unionAll(edges.select(col("dst").as("n"))).schema.head.dataType
    val schema = StructType(Seq(idField("node", t), idField("label", t)))
    val (part, ser) = layout(spark)
    // weight = edge multiplicity
    val adj = adjacency(edges.select(col("src"), col("dst"), lit(1L).as("weight")),
      Sum, part, ser)
    val nodes = ship(adj.mapPartitions(as =>
        Inbox.send(Min)(in => as.next().nodes.foreach(n => in.add(n, n, n)))), part, ser)
      .mapPartitions(recs => Inbox.receive(Min, recs).byNode.keysIterator
        .map(n => new VRow(0L, n, n, true, schema)), preservesPartitioning = true)
    iterate(spark, nodes, iterations, adj, schema) { state =>
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

  /** Runs `step` for up to `rounds` rounds, stopping after a round that
    * changed no row. Each round's state is pinned by the single job
    * that counts its changed rows, and the superseded state is freed
    * once its successor is materialized. Returns the final state as a
    * frame, freeing the adjacency.
    */
  private def iterate(spark: SparkSession, state0: RDD[VRow], rounds: Int,
                      adj: RDD[Adj], schema: StructType)
                     (step: RDD[VRow] => RDD[VRow]): DataFrame = {
    var (state, changed, rows, round) = (state0, -1L, 0L, 0)
    def pinned(s: RDD[VRow]): RDD[VRow] = {
      val p = IterPin.pin(spark, s)
      val counts = spark.sparkContext.runJob(p, (it: Iterator[VRow]) =>
        it.foldLeft((0L, 0L))((a, r) => (a._1 + (if (r.changed) 1 else 0), a._2 + 1)))
      changed = counts.map(_._1).sum
      rows = counts.map(_._2).sum
      p
    }
    while (round < rounds && changed != 0) {
      val next = pinned(step(state))
      IterPin.free(spark, state)
      state = next
      round += 1
    }
    if (round == 0) state = pinned(state)
    IterPin.free(spark, adj)
    // the frame's plan root is the pinned state itself (VRow is an
    // InternalRow; RDD's type parameter is erased)
    RowsBridge.frame(spark, state.asInstanceOf[RDD[InternalRow]], schema, rows)
  }

  private def layout(spark: SparkSession): (Partitioner, Serializer) =
    (new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt),
      new KryoSerializer(spark.sparkContext.getConf))

  /** `edges` (src, dst, weight) shipped once to their source's
    * partition, parallel edges' weights combined with `op`, and indexed
    * there; persisted, not checkpointed — its short lineage can
    * recompute a lost block.
    */
  private def adjacency(edges: DataFrame, op: (Long, Long) => Long, part: Partitioner,
                        ser: Serializer): RDD[Adj] =
    ship(longs(edges, "src", "dst", "weight").mapPartitions(rs =>
        Inbox.send(op)(in => rs.foreach(r => in.add(r(0), r(1), r(2))))), part, ser)
      .mapPartitions(recs => Iterator(new Adj(Inbox.receive(op, recs))),
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** A shuffle of inbox records to the partition of their node. */
  private def ship(records: RDD[(Long, Array[Long])], part: Partitioner,
                   ser: Serializer): RDD[(Long, Array[Long])] =
    new ShuffledRDD[Long, Array[Long], Array[Long]](records, part).setSerializer(ser)

  /** `cols` of `df` as longs; rows with a null in any of them dropped. */
  private def longs(df: DataFrame, cols: String*): RDD[Array[Long]] = {
    val n = cols.length
    df.select(cols.map(c => col(c).cast(LongType)): _*).na.drop()
      .queryExecution.toRdd.map(r => Array.tabulate(n)(r.getLong))
  }

  private def idField(name: String, t: DataType): StructField = t match {
    case ByteType | ShortType | IntegerType | LongType => StructField(name, t, false)
    case other => throw new IllegalArgumentException(
      s"graph ids must be integers, but $name is $other")
  }
}
