package graft.compiler

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EntityDef, GraphCatalog, RelationshipDef}
import graft.parser.CypherAst._

/** Dense sequential id assignment WITHOUT a global window.
  *
  * `row_number() OVER (ORDER BY …)` with no PARTITION BY funnels every
  * row through ONE task (Spark warns "No Partition Defined for Window
  * operation") — the write path's single-partition bottleneck: CREATE
  * from a 100M-row binding frame serializes. This is the zipWithIndex
  * shape instead: a distributed range-partitioned sort on the order
  * key, then one lightweight count job over partition sizes and a
  * per-partition map adding `base + partitionOffset + localIndex`.
  * Same dense deterministic ids (identical to the window's output
  * whenever the order key is a total order), no single-task stage.
  */
private[graft] object DenseId {
  def assign(df: DataFrame, orderCols: Seq[String],
             idName: String, base: Long): DataFrame = {
    val spark = df.sparkSession
    // a property column sharing the id name would silently duplicate
    // under schema.add (the replaced row_number path overwrote it) —
    // drop it so the assigned id stays the single unambiguous column
    val clean = if (df.columns.contains(idName)) df.drop(idName) else df
    // localCheckpoint pins the sorted layout so zipWithIndex's count
    // job and the subsequent map see the SAME partition contents (an
    // uncached RDD would re-execute the sort once per job)
    val sorted = clean.orderBy(orderCols.map(col): _*).localCheckpoint()
    val schema = sorted.schema.add(idName,
      org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + i))
    }
    spark.createDataFrame(rdd, schema)
  }
}

/** Write-path executor — the Spark counterpart of the reference's
  * MutationEngine + shadow-write transaction (reference
  * mutation_engine.py:53-1143, relational_models.py:589-708). Where the
  * reference stages shadow copies and promotes them on commit, here
  * every mutation derives a NEW immutable DataFrame (append =
  * unionByName, delete = anti-join, set = keyed left-join) registered
  * into a snapshot catalog; the engine swaps the snapshot in atomically
  * after the whole query succeeds. `localCheckpoint` pins each mutated
  * table so later reads in the same query see the writes without
  * unbounded lineage growth.
  *
  * Nodes and relationships share one write path: a bound variable's
  * `Element` (its table, key columns and commit) carries every SET,
  * REMOVE and map SET through one keyed update, and every write clause
  * rebinds the variables whose properties it wrote, so later clauses in
  * the same query read the written values (the reference re-reads
  * through the shadow layer).
  */
final class MutationEngine(catalog: GraphCatalog, spark: SparkSession,
                           params: Map[String, Any]) {
  import MutationEngine._

  private def ec(f: Frame) = new ExpressionCompiler(f, params)

  /** Does the expression tree reference the variable? Case classes are
    * Products, so a product walk covers every AST node shape (Seq/
    * Option children included — List cells and Some are Products too).
    */
  private def referencesVar(e: Any, rv: String): Boolean = e match {
    case Variable(`rv`) => true
    case s: Seq[_]      => s.exists(referencesVar(_, rv))
    case o: Option[_]   => o.exists(referencesVar(_, rv))
    case p: Product     => p.productIterator.exists(referencesVar(_, rv))
    case _              => false
  }

  /** The first free id: one past the table's current max (0 if empty). */
  private def nextIdBase(df: DataFrame, idCol: String): Long = {
    val m = df.agg(max(col(idCol))).head()
    if (m.isNullAt(0)) 0L else m.getLong(0) + 1L
  }

  // ---------------- elements and commit ----------------

  private def relElement(r: RelationshipDef, keys: Seq[String]): Element =
    Element(r.df, keys, Set(r.srcCol, r.dstCol) ++ r.idCol,
      RelVar(r.relType, r.srcCol, r.dstCol, _), d => commit(r.copy(df = d)),
      Map(r.srcCol -> r.dstCol, r.dstCol -> r.srcCol))

  /** The element a node or relationship variable binds. Keys: a node's
    * id; a relationship's declared id when the variable binds it, else
    * (src, dst) in the stored orientation ([[Element.bound]]) — parallel
    * edges of one orientation share them, and a keyed write reaches
    * them all.
    */
  private def element(f: Frame, v: String): Element = f.vars.get(v) match {
    case Some(NodeVar(label, _, _)) =>
      val e = catalog.entity(label)
      Element(e.df, Seq(e.idCol), Set(e.idCol), NodeVar(label, e.idCol, _),
        d => commit(e.copy(df = d)))
    // `[k:A|B]` binds a union named "A|B", which no stored table backs
    case Some(RelVar(relType, _, _, _))
        if relType.contains('|') && !catalog.hasRelationship(relType) =>
      throw new IllegalArgumentException(
        s"cannot write through relationship variable $v: it binds several types " +
          s"(${relType.split('|').mkString(", ")}); match a single type to SET, REMOVE or DELETE it")
    case Some(RelVar(relType, _, _, attrs)) =>
      val r = catalog.relationship(relType)
      relElement(r, r.idCol.filter(attrs.contains).fold(Seq(r.srcCol, r.dstCol))(Seq(_)))
    case _ => throw new IllegalArgumentException(
      s"$v is not a bound node or relationship variable")
  }

  /** Commit a new table: pin it, then replace the registration (or add
    * it, for a label or type not registered yet).
    */
  private def commit(e: EntityDef): Unit = {
    val pinned = e.df.localCheckpoint()
    if (catalog.hasEntity(e.label)) catalog.replaceEntity(e.label, pinned)
    else catalog.addEntity(e.label, pinned, e.idCol)
  }
  private def commit(r: RelationshipDef): Unit = {
    val pinned = r.df.localCheckpoint()
    if (catalog.hasRelationship(r.relType)) catalog.replaceRelationship(r.relType, pinned)
    else catalog.addRelationship(r.relType, pinned, r.srcCol, r.dstCol, r.idCol,
      r.srcLabel, r.dstLabel)
  }

  /** Append-and-register, shared by CREATE, MERGE and SET label: mint
    * dense ids for `rows` after the table's current max (in `order`;
    * no id column, no ids), union them by name into `table` (None: a
    * name not registered yet) and hand the result to `register`.
    * Returns the minted rows.
    */
  private def append(table: Option[DataFrame], idCol: Option[String], rows: DataFrame,
                     order: Seq[String])(register: DataFrame => Unit): DataFrame = {
    val minted = idCol.fold(rows)(ic =>
      DenseId.assign(rows, order, ic, table.fold(0L)(nextIdBase(_, ic))))
    val added = minted.drop("__rowid")
    register(table.fold(added)(_.unionByName(added, allowMissingColumns = true)))
    minted
  }

  /** Write properties on the rows of `df` where `hit` holds. The
    * element's columns `cols` bind as `v` (`v__attr`, as a MATCH binds
    * them; other columns pass through), so a value compiles like any
    * property access on the element's current row — a key written
    * earlier in `writes` included; each `(key, value)` overwrites or
    * adds the property, and the prefix comes off again.
    */
  private def writeWhere(df: DataFrame, v: String, bind: Seq[String] => VarMeta,
                         cols: Seq[String], hit: Column,
                         writes: Seq[(String, Frame => Column)]): DataFrame = {
    val prefixed = df.select(df.columns.toSeq.map(c =>
      if (cols.contains(c)) col(c).as(s"${v}__$c") else col(c)): _*)
    val (out, _) = writes.foldLeft((prefixed, cols)) { case ((d, seen), (k, value)) =>
      val at = Frame(d, Map(v -> bind(seen)))
      (d.withColumn(at.col(v, k), when(hit, value(at))
        .otherwise(if (seen.contains(k)) col(at.col(v, k)) else lit(null))),
       if (seen.contains(k)) seen else seen :+ k)
    }
    out.select(out.columns.toSeq.map(c => col(c).as(c.stripPrefix(s"${v}__"))): _*)
  }

  /** The one keyed update: `upd` holds one row per element to write —
    * its keys as `__uk_<key>` and any precomputed values — and
    * left-joins the element's table; `writes` land on the joined rows.
    */
  private def keyed(el: Element, v: String, upd: DataFrame,
                    writes: Seq[(String, Frame => Column)]): DataFrame = {
    val joined = el.df.join(upd,
      el.keys.map(k => col(k) === col(s"__uk_$k")).reduce(_ && _), "left_outer")
    writeWhere(joined, v, el.bind, el.df.columns.toSeq,
      col(s"__uk_${el.keys.head}").isNotNull, writes).drop(upd.columns.toSeq: _*)
  }

  /** SET, REMOVE and map SET on v's bound rows: each `(key, value)` is
    * written, `None` nulls it. A null write into a missing column is a
    * no-op, and with nothing left to write the table is untouched;
    * `replace` (SET v = {…}) also nulls every property outside the
    * element's key and endpoint columns. Values compile against `f`, so
    * every write of a clause reads the pre-clause state. Several binding
    * rows of one element keep one row's values (as the reference's
    * row-sequential writes make the last row win — order is undefined
    * there too: mutation_engine.py:118-228). Returns the keys written.
    */
  private def update(f: Frame, v: String, writes: Seq[(String, Option[Expr])],
                     replace: Boolean = false): Seq[String] = {
    val el = element(f, v)
    val cols = el.df.columns.toSeq
    val all = writes.filter { case (k, e) => e.isDefined || cols.contains(k) } ++
      (if (!replace) Nil
       else cols.filterNot(c => el.fixed(c) || writes.exists(_._1 == c)).map(_ -> None))
    if (all.nonEmpty) {
      val compiler = ec(f)
      val vals = all.zipWithIndex.collect { case ((_, Some(e)), i) =>
        compiler.compile(e).as(s"__uv$i") }
      val upd = f.df.select(el.keys.map(k => el.bound(f, v, k).as(s"__uk_$k")) ++ vals: _*)
        .dropDuplicates(el.keys.map(k => s"__uk_$k"))
      el.commit(keyed(el, v, upd, all.zipWithIndex.map { case ((k, e), i) =>
        k -> ((_: Frame) => if (e.isDefined) col(s"__uv$i") else lit(null))
      }))
    }
    all.map(_._1)
  }

  /** Re-read the properties `cols` of v's rows from its element's
    * current table by the element's keys, so later clauses read what
    * this clause wrote. It never changes the frame's row count: a row
    * whose keys address no stored element (a null OPTIONAL MATCH
    * variable) keeps its values, and (src, dst) keys, which parallel
    * edges share, read one of them — a keyed write gave them all the
    * same values.
    */
  private def rebind(f: Frame, v: String, cols: Seq[String]): Frame = {
    val el = element(f, v)
    val read = cols.distinct.filter(c => el.df.columns.contains(c) && !el.keys.contains(c))
    val fresh = el.df.select(el.keys.map(k => col(k).as(s"__rb_$k")) ++
      read.map(a => col(a).as(s"__rb_$a")): _*)
    val joined = f.df.join(
      if (el.keys.size > 1) fresh.dropDuplicates(el.keys.map("__rb_" + _)) else fresh,
      el.keys.map(k => el.bound(f, v, k) === col(s"__rb_$k")).reduce(_ && _), "left_outer")
    val attrs = f.varCols(v).map(_.stripPrefix(s"${v}__"))
    val out = read.foldLeft(joined)((d, a) => d.withColumn(f.col(v, a),
      when(col(s"__rb_${el.keys.head}").isNotNull, col(s"__rb_$a"))
        .otherwise(if (attrs.contains(a)) col(f.col(v, a)) else lit(null))))
    Frame(out.drop(fresh.columns.toSeq: _*), f.vars + (v -> el.bind((attrs ++ read).distinct)))
  }

  /** Rebind each variable on the keys a write clause wrote to it. */
  private def rebindWritten(f: Frame, written: Seq[(String, String)]): Frame =
    written.groupMap(_._1)(_._2).foldLeft(f) { case (g, (v, ks)) => rebind(g, v, ks) }

  // ---------------- CREATE ----------------

  /** CREATE per binding row: nodes get fresh ids; relationship patterns
    * connect bound or just-created endpoint variables. Anonymous node
    * patterns get a synthesized variable so the write still happens
    * (reference creates entities without a variable too:
    * mutation_engine.py:513-540; id allocation :229-323).
    */
  def create(f: Frame, paths: Seq[PathPattern]): Frame = {
    var frame = withRowId(f)
    paths.map(nameAnonNodes).foreach { p =>
      frame = createNodeIfUnbound(frame, p.start)
      var prevVar = p.start.variable.get
      p.hops.foreach { case (rel, node) =>
        frame = createNodeIfUnbound(frame, node)
        frame = createRel(frame, prevVar, rel, node.variable.get)
        prevVar = node.variable.get
      }
    }
    frame.copy(df = frame.df.drop("__rowid"))
  }

  private var anonN = 0
  private def freshVar(): String = { anonN += 1; s"__anonCre$anonN" }
  private def nameAnonNodes(p: PathPattern): PathPattern = p.copy(
    start = if (p.start.variable.isEmpty)
      p.start.copy(variable = Some(freshVar())) else p.start,
    hops = p.hops.map { case (r, n) =>
      (r, if (n.variable.isEmpty) n.copy(variable = Some(freshVar())) else n)
    })

  private def withRowId(f: Frame): Frame =
    if (f.df.columns.contains("__rowid")) f
    else f.copy(df = f.df.withColumn("__rowid", monotonically_increasing_id())
      .localCheckpoint())

  private def createNodeIfUnbound(f: Frame, np: NodePattern): Frame = {
    val v = np.variable.getOrElse(
      throw new IllegalStateException("CREATE node pattern not named (nameAnonNodes)"))
    if (f.vars.contains(v)) return f
    val label = np.labels.headOption.getOrElse(
      throw new IllegalArgumentException(s"CREATE node $v requires a label"))
    val table = Option.when(catalog.hasEntity(label))(catalog.entity(label))
    val idCol = table.fold("__ID__")(_.idCol)
    val compiler = ec(f)
    val propCols = np.props.map { case (k, e) => compiler.compile(e).as(k) }
    // one created node per binding row; id = base + dense row number.
    // No pin of its own (round 21, −1 job/CREATE): DenseId pins the
    // sorted layout already, so the id map is deterministic per
    // consumer, and both consumers are cheap narrow maps over those
    // pinned blocks (the table is pinned eagerly by commit; the
    // join-back is forced with the statement).
    val created = append(table.map(_.df), Some(idCol),
      f.df.select(Seq(col("__rowid")) ++ propCols: _*), Seq("__rowid")) { d =>
      // zero rows created against an unknown label (e.g. FOREACH over
      // an empty list): don't mint an empty label table
      if (table.isDefined || !d.isEmpty) commit(EntityDef(label, d, idCol))
    }
    bindCreated(f, v, created, NodeVar(label, idCol, _))
  }

  /** Bind the elements CREATE minted, one per binding row and keyed by
    * `__rowid`, as v (prefixed columns, joined back on `__rowid`).
    */
  private def bindCreated(f: Frame, v: String, created: DataFrame,
                          bind: Seq[String] => VarMeta): Frame = {
    val attrs = created.columns.toSeq.filter(_ != "__rowid")
    val prefixed = created.select(Seq(col("__rowid")) ++
      attrs.map(a => col(a).as(f.col(v, a))): _*)
    Frame(f.df.join(prefixed, Seq("__rowid")), f.vars + (v -> bind(attrs)))
  }

  private def relTarget(rel: RelPattern, fromVar: String, toVar: String): RelTarget = {
    val relType = rel.types.headOption.getOrElse(
      throw new IllegalArgumentException("CREATE/MERGE relationship requires a type"))
    val (s, d) = if (rel.direction == "IN") (toVar, fromVar) else (fromVar, toVar)
    if (catalog.hasRelationship(relType)) {
      val r = catalog.relationship(relType)
      RelTarget(relType, s, d, r.srcCol, r.dstCol, r.idCol, Some(r.df))
    } else RelTarget(relType, s, d, "__SOURCE__", "__TARGET__", Some("__ID__"), None)
  }

  /** Append new edges — `rows` carry the target's src and dst columns
    * and their properties — to the type's table as registered now (an
    * ON MATCH write earlier in the statement stays); a new type
    * registers with its endpoints' labels. Returns the minted rows.
    */
  private def appendRels(f: Frame, t: RelTarget, rows: DataFrame): DataFrame = {
    def label(v: String) = f.vars.get(v).collect { case NodeVar(l, _, _) => l }
    val now = Option.when(catalog.hasRelationship(t.relType))(catalog.relationship(t.relType).df)
    append(now, t.id, rows, Seq(t.src, t.dst)) { d =>
      commit(RelationshipDef(t.relType, d, t.src, t.dst, t.id, label(t.srcVar), label(t.dstVar)))
    }
  }

  /** CREATE one edge per binding row; a named relationship variable
    * binds the edges it created.
    */
  private def createRel(f: Frame, fromVar: String, rel: RelPattern, toVar: String): Frame = {
    val t = relTarget(rel, fromVar, toVar)
    val compiler = ec(f)
    val cols = Seq(col(f.idCol(t.srcVar)).as(t.src), col(f.idCol(t.dstVar)).as(t.dst)) ++
      rel.props.map { case (k, e) => compiler.compile(e).as(k) }
    rel.variable.filterNot(f.vars.contains) match {
      case Some(v) => bindCreated(f, v,
        appendRels(f, t, f.df.select(col("__rowid") +: cols: _*)),
        RelVar(t.relType, t.src, t.dst, _))
      case None => appendRels(f, t, f.df.select(cols: _*)); f
    }
  }

  // ---------------- SET / REMOVE ----------------

  /** SET v.key = expr, SET v += {…} and SET v = {…} per binding row
    * through the keyed update; `=` also nulls every other property
    * (mutation_engine.py SET map semantics).
    */
  def setItems(f: Frame, items: Seq[SetItem]): Frame = {
    rebindWritten(f, items.flatMap {
      case SetProperty(Variable(v), key, valueExpr) =>
        update(f, v, Seq(key -> Some(valueExpr))).map(v -> _)
      case SetVariable(v, MapLit(entries), additive) =>
        update(f, v, entries.map { case (k, e) => k -> Some(e) }, replace = !additive).map(v -> _)
      case SetLabels(v, labels) =>
        // An additional label copies the matched rows into that label's
        // table (created on demand) — the multi-table analog of adding a
        // label bit (reference: SET labels, mutation_engine.py:118-228).
        f.vars.get(v) match {
          case Some(NodeVar(_, idAttr, attrs)) =>
            val rows = f.df
              .select(attrs.map(a => col(f.col(v, a)).as(a)): _*).distinct()
            labels.foreach { l =>
              val table = Option.when(catalog.hasEntity(l))(catalog.entity(l))
              val fresh = table.fold(rows)(t => rows.join(t.df.select(col(t.idCol)),
                rows(idAttr) === t.df(t.idCol), "left_anti"))
              append(table.map(_.df), None, fresh, Nil)(d => commit(EntityDef(l, d, idAttr)))
            }
          case _ => throw new UnsupportedOperationException("SET label needs a node variable")
        }
        Nil
      case other => throw new UnsupportedOperationException(
        s"SET item not yet supported: $other")
    })
  }

  /** REMOVE v.key nulls the property on the matched elements (reference:
    * mutation_engine.py:1020-1060); REMOVE v:Label drops them from that
    * label's table.
    */
  def remove(f: Frame, items: Seq[RemoveItem]): Frame = {
    rebindWritten(f, items.flatMap {
      case RemoveProperty(Variable(v), key) => update(f, v, Seq(key -> None)).map(v -> _)
      case RemoveLabels(v, labels) =>
        // Remove from those labels' tables by id (no-op if unknown label
        // or the node was never copied there).
        f.vars.get(v) match {
          case Some(NodeVar(_, idAttr, _)) =>
            val ids = f.df.select(col(f.col(v, idAttr)).as("__rid")).distinct()
            labels.filter(catalog.hasEntity).foreach { l =>
              val t = catalog.entity(l)
              commit(t.copy(df = t.df.join(ids, col(t.idCol) === col("__rid"), "left_anti")))
            }
          case _ => throw new UnsupportedOperationException("REMOVE label needs a node variable")
        }
        Nil
    })
  }

  // ---------------- DELETE ----------------

  /** DELETE / DETACH DELETE by anti-join on the matched elements' keys
    * (reference: mutation_engine.py:619-745). DETACH also removes
    * relationships whose declared src/dst label matches the deleted
    * node label.
    */
  def delete(f: Frame, exprs: Seq[Expr], detach: Boolean): Frame = {
    exprs.foreach {
      case Variable(v) =>
        val el = element(f, v)
        val gone = f.df.select(el.keys.map(k => el.bound(f, v, k).as(s"__d_$k")): _*)
          .distinct().localCheckpoint()
        el.commit(el.df.join(gone,
          el.keys.map(k => col(k) === col(s"__d_$k")).reduce(_ && _), "left_anti"))
        f.vars(v) match {
          case NodeVar(label, _, _) if detach =>
            val did = col(s"__d_${el.keys.head}")
            catalog.relationshipDefs.foreach { rd =>
              // undeclared endpoint labels scrub conservatively by id
              // membership on BOTH endpoints (reference behavior) —
              // otherwise an id reused after delete could re-attach a
              // dangling edge to an unrelated new node
              val touchesSrc = rd.srcLabel.forall(_ == label)
              val touchesDst = rd.dstLabel.forall(_ == label)
              if (touchesSrc || touchesDst) {
                var d = rd.df
                if (touchesSrc) d = d.join(gone, col(rd.srcCol) === did, "left_anti")
                if (touchesDst) d = d.join(gone, col(rd.dstCol) === did, "left_anti")
                commit(rd.copy(df = d))
              }
            }
          case _ =>
        }
      case other => throw new IllegalArgumentException(s"DELETE expects variables, got $other")
    }
    f
  }

  // ---------------- MERGE ----------------

  /** Single-node MERGE with ON CREATE / ON MATCH (reference:
    * mutation_engine.py:746-855): exists-split on the property keys —
    * pre-existing keys get ON MATCH SET, missing keys are created with
    * the merge props + ON CREATE SET, then the variable binds to the
    * post-merge table so later clauses read the post-merge state.
    */
  def merge(f0: Frame, path: PathPattern,
            onCreate: Seq[SetItem], onMatch: Seq[SetItem]): Frame = {
    if (path.hops.nonEmpty) return mergeRelationship(f0, path, onCreate, onMatch)
    val np = path.start
    val v = np.variable.getOrElse(throw new IllegalArgumentException("MERGE needs a variable"))
    val label = np.labels.headOption.getOrElse(
      throw new IllegalArgumentException("MERGE needs a label"))
    require(np.props.nonEmpty, "MERGE needs property keys to match on")

    val f = withRowId(f0)
    val compiler = ec(f)
    val keyNames = np.props.map(_._1)
    val keyCols = np.props.map { case (k, e0) => compiler.compile(e0).as(k) }
    val want = f.df.select(Seq(col("__rowid")) ++ keyCols: _*).localCheckpoint()

    val e = catalog.entity(label)
    val existingKeyed = e.df.select(e.df.columns.map(c => col(c).as(s"__e_$c")).toSeq: _*)
    val joinCond = keyNames.map(k => col(k) === col(s"__e_$k")).reduce(_ && _)
    // exists-split counts ride the pins' own jobs (IterPin.pinProbed,
    // round 21): the old shape paid a separate .isEmpty job per branch
    // probe on top of each localCheckpoint — two jobs per MERGE saved,
    // same pinned frames, same values
    val (matchedIds, matchedRow) = graft.operators.IterPin.pinProbed(
      want.join(existingKeyed, joinCond, "inner")
        .select(col(s"__e_${e.idCol}").as("__mid")).distinct(),
      Seq(count(lit(1))))
    val anyMatched = matchedRow.getLong(0) > 0L
    val (missing, missingRow) = graft.operators.IterPin.pinProbed(
      want.join(existingKeyed, joinCond, "left_anti"),
      Seq(count(lit(1))))
    if (missingRow.getLong(0) > 0L)
      append(Some(e.df), Some(e.idCol), missing.dropDuplicates(keyNames),
        Seq("__rowid"))(d => commit(e.copy(df = d)))

    // bind v's id per binding row against the post-create table
    val idV = f.col(v, e.idCol)
    val idBind = catalog.entity(label).df.select(Seq(col(e.idCol).as(idV)) ++
      keyNames.map(k => col(k).as(s"__k_$k")): _*)
    val bindCond = keyNames.map(k => col(k) === col(s"__k_$k")).reduce(_ && _)
    val boundIds = want.join(idBind, bindCond).select(col("__rowid"), col(idV))
    val idOnly = Frame(f.df.join(boundIds, Seq("__rowid")),
      f.vars + (v -> NodeVar(label, e.idCol, Seq(e.idCol))))

    // ON MATCH / ON CREATE evaluate against the FULL post-create
    // attribute set, not just the bound id: `ON MATCH SET m.v = m.v + 1`
    // must read the entity's current property — with an id-only binding,
    // Cypher's null-for-missing property rule silently turned every
    // self-referencing SET into null (caught by the random-mutation
    // differential in PropertySpec)
    val bound = rebind(idOnly, v, catalog.entity(label).df.columns.toSeq)
    if (onMatch.nonEmpty && anyMatched)
      setItems(bound.copy(df = bound.df.join(matchedIds, col(idV) === col("__mid"))
        .drop("__mid")), onMatch)
    if (onCreate.nonEmpty) {
      val createdOnly = bound.df.join(matchedIds, col(idV) === col("__mid"), "left_anti")
      if (!createdOnly.isEmpty) setItems(bound.copy(df = createdOnly), onCreate)
    }
    val out = rebind(idOnly, v, catalog.entity(label).df.columns.toSeq)
    out.copy(df = out.df.drop("__rowid"))
  }

  /** Relationship MERGE: (a)-[:T {props}]->(b) with both endpoints
    * bound — create the missing (src, dst) edges, keep existing ones
    * (idempotent). ON CREATE SET writes onto the new edges before they
    * are appended; ON MATCH SET updates the existing edges keyed by
    * (src, dst) (mutation_engine.py:746-855).
    *
    * Duplicate binding rows for one (src, dst) pair fold
    * DETERMINISTICALLY (max over each carried SET/prop value — a fixed
    * linearization of Neo4j's row order, which a distributed frame does
    * not have), and a pair duplicated within the statement applies its
    * ON MATCH values to the edge the first row just created — Neo4j's
    * per-row MERGE does the same: row 2 matches row 1's edge.
    *
    * DOCUMENTED DIVERGENCE (non-idempotent deferred ON MATCH): a
    * self-referencing ON MATCH value (SET r.n = r.n + 1) is applied
    * ONCE per affected edge, not once per binding row — k duplicate
    * rows increment by 1 where Neo4j's sequential per-row MERGE
    * increments by k (k-1 on the created-edge path). Applying an
    * arbitrary expression k times is function iteration, which a
    * single relational pass cannot express; the once-per-edge fold is
    * the deterministic distributed semantics and is spec-tested in
    * MutationSpec ("duplicate binding rows apply a deferred ON MATCH
    * once per edge").
    */
  private def mergeRelationship(f: Frame, path: PathPattern,
                                onCreate: Seq[SetItem], onMatch: Seq[SetItem]): Frame = {
    require(path.hops.size == 1, "relationship MERGE supports a single hop")
    val (rel, endNode) = path.hops.head
    def endpoint(np: NodePattern): String = np.variable.filter(f.vars.contains).getOrElse(
      throw new IllegalArgumentException(
        "MERGE rel endpoints must be variables bound by a prior MATCH/CREATE"))
    val t = relTarget(rel, endpoint(path.start), endpoint(endNode))

    val compiler = ec(f)
    // ON CREATE / ON MATCH SET items must target the rel variable; their
    // value expressions evaluate against the binding frame, carried as
    // __oc_/__om_ columns through the (src, dst) dedup. EXCEPTION: an
    // ON MATCH value that references the relationship variable itself
    // (the canonical counter idiom, ON MATCH SET r.n = r.n + 1) cannot
    // be precomputed in the outer frame — it is DEFERRED and evaluated
    // against the matched edge's current row at update time.
    def relSets(items: Seq[SetItem]): Seq[(String, Expr)] = items.map {
      case SetProperty(Variable(rv), key, vexpr) if rel.variable.contains(rv) => key -> vexpr
      case other => throw new UnsupportedOperationException(
        s"relationship MERGE SET must target the relationship variable: $other")
    }
    val (omDeferred, omOuter) = relSets(onMatch).partition { case (_, vexpr) =>
      referencesVar(vexpr, rel.variable.get)
    }
    val oc = relSets(onCreate)
    val ocKeys = oc.map(_._1)
    val carried = rel.props.map(_._1) ++ ocKeys.map("__oc_" + _) ++
      omOuter.map("__om_" + _._1)
    // Duplicate rows for one (src, dst) fold to ONE surviving row
    // atomically: max over a struct of all carried values picks a single
    // deterministic row (lexicographic struct ordering), so the edge
    // never gets a cross-row mix of values no input row contained.
    val grouped = f.df.select(Seq(
      col(f.idCol(t.srcVar)).as(t.src), col(f.idCol(t.dstVar)).as(t.dst)) ++
      rel.props.map { case (k, e0) => compiler.compile(e0).as(k) } ++
      oc.map { case (k, e0) => compiler.compile(e0).as(s"__oc_$k") } ++
      omOuter.map { case (k, e0) => compiler.compile(e0).as(s"__om_$k") }: _*)
      .groupBy(col(t.src), col(t.dst))
    val wanted =
      if (carried.isEmpty) grouped.agg(count(lit(1)).as("__dup"))
      else grouped.agg(count(lit(1)).as("__dup"),
          max(struct(carried.map(col): _*)).as("__row"))
        .select(Seq(col(t.src), col(t.dst), col("__dup")) ++
          carried.map(c => col("__row").getField(c).as(c)): _*)

    val missing = t.table.fold(wanted)(d => wanted.join(
      d.select(col(t.src).as("__es"), col(t.dst).as("__ed")),
      col(t.src) === col("__es") && col(t.dst) === col("__ed"), "left_anti"))

    // ON MATCH values: precomputed ones read their carried column;
    // deferred (self-referencing) ones compile against the matched
    // edge's CURRENT row, bound as the rel variable
    val omWrites: Seq[(String, Frame => Column)] =
      omOuter.map { case (k, _) => k -> ((_: Frame) => col(s"__om_$k")) } ++
        omDeferred.map { case (k, vexpr) => k -> ((bf: Frame) => ec(bf).compile(vexpr)) }
    // ON MATCH: the keyed update of the pre-existing edges by (src, dst)
    if (omWrites.nonEmpty && t.table.isDefined) {
      val el = relElement(catalog.relationship(t.relType), Seq(t.src, t.dst))
      val upd = wanted.select(Seq(col(t.src).as(s"__uk_${t.src}"),
        col(t.dst).as(s"__uk_${t.dst}")) ++ omOuter.map(o => col(s"__om_${o._1}")): _*)
      el.commit(keyed(el, rel.variable.get, upd, omWrites))
    }

    if (!missing.isEmpty) {
      // ON CREATE values become the new edges' properties. Duplicate
      // binding rows matched the edge the first row just created, so on
      // those pairs the ON MATCH values land on it too — deferred ones
      // read its post-ON-CREATE columns
      val created = ocKeys.foldLeft(missing)((d, k) => d.withColumn(k, col(s"__oc_$k")))
      val rows = if (omWrites.isEmpty) created
        else writeWhere(created, rel.variable.get, RelVar(t.relType, t.src, t.dst, _),
          created.columns.toSeq.filterNot(c => c == "__dup" || c.startsWith("__oc_") ||
            c.startsWith("__om_")), col("__dup") > 1, omWrites)
      appendRels(f, t, rows.drop(("__dup" +: ocKeys.map("__oc_" + _)) ++
        omOuter.map("__om_" + _._1): _*))
    }
    f
  }
}

private object MutationEngine {
  /** One mutable element kind as the write path sees it: the catalog
    * table, the columns that key a bound variable's rows into it, the
    * columns `SET v = {…}` keeps, how a variable binds it, the commit of
    * a new version, and (relationships) each endpoint key's opposite.
    */
  private final case class Element(df: DataFrame, keys: Seq[String], fixed: Set[String],
                                   bind: Seq[String] => VarMeta, commit: DataFrame => Unit,
                                   opposite: Map[String, String] = Map.empty) {
    /** v's binding column for key `k`, in the stored orientation: a row
      * an undirected match sees reversed ([[Frame.revCol]]) reads an
      * endpoint key from the opposite endpoint's column.
      */
    def bound(f: Frame, v: String, k: String): Column =
      opposite.get(k).filter(_ => f.df.columns.contains(Frame.revCol(v)))
        .fold(col(f.col(v, k)))(o =>
          when(col(Frame.revCol(v)), col(f.col(v, o))).otherwise(col(f.col(v, k))))
  }

  /** Where CREATE and MERGE write a relationship pattern: its type, the
    * bound src and dst variables (the direction decides), and the
    * type's (src, dst, id) columns and table — the registration's, or
    * the reserved `__SOURCE__`/`__TARGET__`/`__ID__` and no table for a
    * type not registered yet.
    */
  private final case class RelTarget(relType: String, srcVar: String, dstVar: String,
                                     src: String, dst: String, id: Option[String],
                                     table: Option[DataFrame])
}
