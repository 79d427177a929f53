package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{CypherEngine, SparkEntry}
import graft.etl.{CurationStages, PipelineConfig, PipelineRunner}
import graft.model.GraphCatalog
import graft.parser.CypherParser
import graft.parser.CypherAst._
import graft.queries.TpchGraph

/** A result written as parquet for the oracle check: `oracle` names the
  * `SparkEntry.oracleSql` entry it must equal (after projecting to
  * `columns` when given), or is "dedup" for the dedup sink's own checks.
  */
final case class Dumped(key: String, path: String, oracle: String,
                        columns: Seq[String] = Nil)

/** What one op execution produced, kept until it has been checked. */
trait Done {
  /** (result key, digest) for each result. */
  def digests(): Seq[(String, String)]
  /** Write the results where the oracle check can read them. */
  def dump(dir: String): Seq[Dumped]
  /** Exchanges in the executed plans of the op's read queries. */
  def exchanges(): Int
}

trait Op {
  def name: String
  /** The layer charged with the op's construction. */
  def layer: String
  /** Declared iterations of an iterative operator, else 0. */
  def iterations: Int = 0
  def run(t: Spans, pass: Int): Done
}

/** A declared query from `SparkEntry.queries`, built and then collected. */
final class QueryOp(spark: SparkSession, val name: String, dir: String,
                    val layer: String, texts: Seq[String],
                    override val iterations: Int) extends Op {
  def run(t: Spans, pass: Int): Done = {
    if (texts.nonEmpty && (t ne NoTrace))
      t.span(name, "parse", "parser") { texts.foreach(CypherParser.parse) }
    val df = t.span(name, "construct", layer) { SparkEntry.queries(name)(spark, dir) }
    val rows = t.span(name, "action", layer) { df.collect() }
    new RowsDone(spark, name, rows, df.schema, df)
  }
}

final class RowsDone(spark: SparkSession, key: String, rows: Array[Row],
                     schema: StructType, df: DataFrame) extends Done {
  def digests(): Seq[(String, String)] = Seq(key -> Digest.of(rows, schema))
  def dump(dir: String): Seq[Dumped] = {
    val path = s"$dir/$key"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    Seq(Dumped(key, path, key))
  }
  def exchanges(): Int = Plans.exchanges(df)
}

/** One `nmetl`-style pipeline run: `PipelineConfig.parse` of the YAML,
  * then `PipelineRunner.run`. Traced runs call the runner's public steps
  * one by one, in the order the runner takes them for this config; they
  * skip only the runner's dependency ordering, whose parses land in the
  * engine's AST cache that `execute` fills itself here.
  */
final class EtlOp(spark: SparkSession, yaml: String, data: String,
                  outRoot: String, budget: Long) extends Op {
  val name = "etl_pipeline"
  val layer = "etl"

  def passDir(pass: Int): String = s"$outRoot/pass-$pass"

  private def env(pass: Int): Map[String, String] =
    Map("DATA" -> data, "PASS_DIR" -> passDir(pass), "BUDGET" -> budget.toString)

  /** Ids of the queries that write; found once here, so traced runs parse
    * nothing inside their op span that the untraced run does not.
    */
  private val mutating: Set[String] =
    PipelineConfig.parse(yaml, env(0)).queries.filter(q => EtlOp.mutates(q.cypher)).map(_.id).toSet

  def run(t: Spans, pass: Int): Done = {
    val env = this.env(pass)
    val reads = mutable.ArrayBuffer.empty[DataFrame]
    val dedupInputs = mutable.ArrayBuffer.empty[DataFrame]
    val cfg = t match {
      case NoTrace =>
        val c = PipelineConfig.parse(yaml, env)
        PipelineRunner.run(spark, c)
        c
      case _ =>
        val c = t.span(name, "config_parse", "etl") { PipelineConfig.parse(yaml, env) }
        t.span(name, "parse", "parser") { c.queries.foreach(q => CypherParser.parse(q.cypher)) }
        steps(t, c, reads, dedupInputs)
        c
    }
    new SinkDone(spark, cfg, reads.toSeq, dedupInputs.toSeq)
  }

  private def steps(t: Spans, cfg: PipelineConfig,
                    reads: mutable.ArrayBuffer[DataFrame],
                    dedupInputs: mutable.ArrayBuffer[DataFrame]): Unit = {
    val entities = t.span(name, "source", "etl") {
      cfg.entities.map(e => e -> PipelineRunner.readSource(spark, e.uri, e.query, e.schemaHints))
    }
    val rels = t.span(name, "source", "etl") {
      cfg.relationships.map(r => r -> PipelineRunner.readSource(spark, r.uri))
    }
    val engine = t.span(name, "catalog", "model") {
      val c = new GraphCatalog
      entities.foreach { case (e, df) => c.addEntity(e.entityType, df, e.idCol) }
      rels.foreach { case (r, df) =>
        c.addRelationship(r.relationshipType, df, r.sourceCol, r.targetCol, r.idCol)
      }
      new CypherEngine(spark, c)
    }
    val results = mutable.LinkedHashMap.empty[String, DataFrame]
    // config order: for this YAML it is the order PipelineRunner's
    // dependency ordering yields (every label is created before it is read)
    cfg.queries.foreach { q =>
      val writes = mutating(q.id)
      val df = t.span(name, s"execute:${q.id}", if (writes) "mutation" else "compiler") {
        graft.ops.QueryAudit.label(engine.execute(q.cypher), q.id)
      }
      if (!writes) reads += df
      results(q.id) = df
    }
    cfg.curation.filterNot(_.streaming).foreach { c =>
      val input = results.getOrElse(c.input,
        t.span(name, "source", "etl") { PipelineRunner.readSource(spark, c.input) })
      if (c.stages.exists(_.op.endsWith("_dedup"))) dedupInputs += input
      val curated = t.span(name, s"curate:${c.id}", "operators") {
        CurationStages.run(spark, input, c)
      }
      results(c.id) = curated
      c.outputUri.foreach { u =>
        t.span(name, s"sink:${c.id}", "etl") { PipelineRunner.writeSink(curated, u, c.format) }
      }
    }
    cfg.outputs.foreach { o =>
      t.span(name, s"sink:${o.queryId}", "etl") {
        PipelineRunner.writeSink(results(o.queryId), o.uri, o.format)
      }
    }
  }
}

object EtlOp {
  def mutates(cypher: String): Boolean =
    CypherParser.parse(cypher).statements.exists(_.clauses.exists {
      case _: Create | _: Merge | _: SetClause | _: Delete | _: Remove | _: Foreach => true
      case _ => false
    })
}

/** Every sink of one pipeline run, read back for checking. */
final class SinkDone(spark: SparkSession, cfg: PipelineConfig,
                     reads: Seq[DataFrame], val dedupInputs: Seq[DataFrame]) extends Done {
  /** (key, uri) of each sink: curation pipelines by id, outputs by query id. */
  val sinks: Seq[(String, String)] =
    cfg.curation.flatMap(c => c.outputUri.map(c.id -> _)) ++
      cfg.outputs.map(o => o.queryId -> o.uri)

  def digests(): Seq[(String, String)] = sinks.map { case (k, uri) =>
    val df = spark.read.parquet(uri)
    k -> Digest.of(df.collect(), df.schema)
  }

  /** Sinks of the dedup pipelines, which have no oracle. */
  def dedupSinks: Seq[String] = sinks.map(_._1).filterNot(Workloads.EtlOracles.contains)

  def dump(dir: String): Seq[Dumped] = sinks.map { case (k, uri) =>
    Workloads.EtlOracles.get(k) match {
      case Some((oracle, cols)) => Dumped(k, uri, oracle, cols)
      case None                 => Dumped(k, uri, "dedup")
    }
  }

  def exchanges(): Int = reads.map(Plans.exchanges).sum

  def rows(key: String): Long =
    sinks.find(_._1 == key).fold(0L)(s => spark.read.parquet(s._2).count())

  def bytes(key: String): Long = sinks.find(_._1 == key).fold(0L)(s => Workloads.bytesUnder(s._2))
}

/** `minPasses`: timed passes a run makes at least, whatever `--seconds`. */
final case class Workload(name: String, dir: String, ops: Seq[Op],
                          setup: Spans => Unit, budget: Long = 0L, minPasses: Int = 1)

object Workloads {
  /** Iterative graph work: `GraphAlgos` fixpoint loops with their
    * declared iteration counts (gr05, frontier-delta sssp, is the
    * control), and `PathExpand`'s BFS frontier loops (cy15 var-length,
    * cy30 shortestPath) behind the Cypher parser and compiler.
    */
  val GraphOps: Seq[(String, Int)] = Seq("gr02_label_propagation" -> 3, "gr05_sssp" -> 15)
  val PathOps: Seq[String] = Seq("cy15_varlength", "cy30_shortestpath")

  /** ETL sink → (oracle entry, columns compared). */
  val EtlOracles: Map[String, (String, Seq[String])] = Map(
    "cy03_hop" -> ("cy03_hop", Nil),
    "cy07_with_having" -> ("cy07_with_having", Nil),
    "cy18_multipath" -> ("cy18_multipath", Nil),
    "mu01_read" -> ("mu01_mutation_pipeline", Nil),
    "cu01" -> ("cu01_curation_yaml", Seq("doc_id", "lang", "n_chars")))

  val Budgets: Seq[Long] = Seq(6000L, 7000L, 8000L, 9000L, 10000L)

  def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Cypher text of a declared query, read from the program's source so
    * the parse timing follows the query as it is declared.
    */
  def cypherText(name: String): Seq[String] = {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/CypherQueries.scala")), "UTF-8")
    val at = src.indexOf("\"" + name + "\" ->")
    val open = if (at < 0) -1 else src.indexOf("\"\"\"", at)
    val close = if (open < 0) -1 else src.indexOf("\"\"\"", open + 3)
    require(close > 0, s"no Cypher text for $name in CypherQueries.scala")
    Seq(src.substring(open + 3, close))
  }

  def apply(name: String, spark: SparkSession, dataRoot: String,
            out: String, seed: Long): Workload = name match {
    case "graph_iterative" =>
      val dir = s"$dataRoot/sf0.01"
      val graph = GraphOps.map { case (q, it) => new QueryOp(spark, q, dir, "operators", Nil, it) }
      val paths = PathOps.map(q => new QueryOp(spark, q, dir, "paths", cypherText(q), 0))
      Workload(name, dir, graph ++ paths,
        t => t.span("setup", "catalog", "model") { TpchGraph.engine(spark, dir) },
        minPasses = 2)
    case "etl_curation" =>
      val dir = s"$dataRoot/sf0.01"
      val yaml = new String(Files.readAllBytes(
        Paths.get("perfbench/workloads/etl_curation.yaml")), "UTF-8")
      val budget = Budgets(new scala.util.Random(seed).nextInt(Budgets.size))
      val op = new EtlOp(spark, yaml, Paths.get(dir).toAbsolutePath.toString,
        Paths.get(s"$out/etl").toAbsolutePath.toString, budget)
      Workload(name, dir, Seq(op), _ => (), budget)
    case other =>
      throw new IllegalArgumentException(s"unknown workload: $other")
  }
}
