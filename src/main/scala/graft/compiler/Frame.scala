package graft.compiler

import org.apache.spark.sql.DataFrame

/** Compile-time binding state: the Spark counterpart of the reference's
  * BindingFrame (/root/reference/packages/pycypher/src/pycypher/
  * binding_frame.py:1-28) — except that where the reference stores only
  * IDs and joins attributes on demand, we keep each bound variable's
  * columns in the frame under a `var__attr` prefix and let Catalyst's
  * ColumnPruning drop the unused ones at the scan. The type registry
  * (`Map[var -> VarMeta]`) is compile-time only, never shipped with data.
  */
sealed trait VarMeta

/** Node variable bound to a label table; columns are `v__attr`. */
final case class NodeVar(label: String, idAttr: String, attrs: Seq[String]) extends VarMeta

/** Relationship variable; columns are `v__attr` (incl. src/dst). */
final case class RelVar(relType: String, srcAttr: String, dstAttr: String,
                        attrs: Seq[String]) extends VarMeta

/** Plain value variable (from WITH/UNWIND); column name == var name. */
case object ValueVar extends VarMeta

/** Path variable. `hopsCol` always holds the traversal depth
  * (length(p)); `nodesCol`/`relsCol` hold the materialized node-id /
  * relationship-identity sequences when the path was materialized —
  * always for fixed-hop patterns (the ids are already in the row), and
  * under `graft.pathExpand.materializePaths` for var-length segments
  * (the frontier then carries O(maxHops) ids per path). None = the
  * query never asked, or the regime can't (shortestPath's BFS keeps
  * one arbitrary witness per (origin, node), so exposing ITS node list
  * would be nondeterministic).
  */
final case class PathVar(hopsCol: String,
                         nodesCol: Option[String] = None,
                         relsCol: Option[String] = None) extends VarMeta

final case class Frame(df: DataFrame, vars: Map[String, VarMeta]) {
  def col(v: String, attr: String): String = s"${v}__$attr"
  def idCol(v: String): String = vars(v) match {
    case NodeVar(_, idAttr, _) => col(v, idAttr)
    case RelVar(_, src, _, _)  => col(v, src) // rels have no id in general
    case _                     => v
  }
  /** All physical columns belonging to variable v. */
  def varCols(v: String): Seq[String] = vars(v) match {
    case NodeVar(_, _, attrs)    => attrs.map(col(v, _))
    case RelVar(_, _, _, attrs)  => attrs.map(col(v, _))
    case PathVar(h, n, r)        => Seq(h) ++ n ++ r
    case ValueVar                => Seq(v)
  }
}

object Frame {
  /** The marker an undirected match over a relationship type with no id
    * column sets on the rows that see a stored edge reversed (their
    * src/dst columns hold the stored dst/src), so writes through v
    * address the stored orientation. Absent from frames that need none.
    */
  def revCol(v: String): String = s"${v}____rev"
}
