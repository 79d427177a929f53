package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a result: columns sorted by name, each row
  * rendered as text, rows sorted. Two runs that return the same rows
  * (in any order) get the same digest.
  */
object Digest {
  private def cell(v: Any): String = v match {
    case null                          => "\u0000"
    case b: Array[Byte]                => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_]    => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => cell(k) + "=" + cell(x) }.toSeq.sorted.mkString("{", ",", "}")
    case r: Row                        => r.toSeq.map(cell).mkString("(", ",", ")")
    case other                         => other.toString
  }

  def of(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString(",").getBytes(UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes(UTF_8)) }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Plans {
  /** Shuffle and broadcast exchanges in the frame's executed plan,
    * looking through adaptive query stages and subqueries.
    */
  def exchanges(df: DataFrame): Int = count(df.queryExecution.executedPlan)

  private def count(p: SparkPlan): Int = {
    val own = p match {
      case _: Exchange => 1
      case _           => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children ++ other.subqueries
    }
    own + inner.map(count).sum
  }
}

/** Minimal JSON writer for the harness's report files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => str(s)
    case b: Boolean                 => b.toString
    case d: Double                  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                   => value(f.toDouble)
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_]             => s.map(value).mkString("[", ",", "]")
    case other                      => str(other.toString)
  }
}
