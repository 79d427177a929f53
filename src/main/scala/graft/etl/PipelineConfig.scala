package graft.etl

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import scala.jdk.CollectionConverters._

/** YAML pipeline model — mirrors the reference's nmetl config shape
  * (/root/reference/packages/pycypher/src/pycypher/ingestion/config.py;
  * fixture tests/fixtures/configs/full_pipeline.yaml): project metadata,
  * entity/relationship sources, queries, outputs, with `${ENV}`
  * substitution. Parsed with jackson-dataformat-yaml (ships with Spark).
  */
final case class EntitySource(id: String, uri: String, entityType: String,
                              idCol: String, query: Option[String],
                              schemaHints: Map[String, String], onError: String)
final case class RelationshipSource(id: String, uri: String, relationshipType: String,
                                    sourceCol: String, targetCol: String,
                                    idCol: Option[String], onError: String)
final case class QueryDef(id: String, cypher: String, description: Option[String])
final case class OutputDef(queryId: String, uri: String, format: Option[String])

/** One declarative curation stage: an operator name from
  * [[CurationStages.SupportedOps]] plus its (string-typed, YAML-sourced)
  * parameters, read through the typed accessors below (a malformed
  * number throws NumberFormatException).
  */
final case class CurationStageDef(op: String, params: Map[String, String]) {
  def param(name: String): Option[String] = params.get(name)
  def intParam(name: String, default: Int): Int =
    param(name).map(_.toInt).getOrElse(default)
  def longParam(name: String): Option[Long] = param(name).map(_.toLong)
  def doubleParam(name: String, default: Double): Double =
    param(name).map(_.toDouble).getOrElse(default)
}

/** A curation pipeline: documents in (a source URI, or the id of an
  * earlier curation pipeline to chain from), stages in order, optional
  * sink. The result also lands in the run's results map under `id`, so
  * `output:` entries can reference it like any query id.
  */
final case class CurationPipelineDef(id: String, input: String,
                                     idCol: String, textCol: String,
                                     stages: Seq[CurationStageDef],
                                     outputUri: Option[String],
                                     format: Option[String],
                                     streaming: Boolean = false,
                                     checkpointUri: Option[String] = None,
                                     schemaDdl: Option[String] = None)

final case class PipelineConfig(name: String, description: Option[String],
                                entities: Seq[EntitySource],
                                relationships: Seq[RelationshipSource],
                                queries: Seq[QueryDef],
                                outputs: Seq[OutputDef],
                                auditUri: Option[String] = None,
                                auditDaily: Boolean = false,
                                curation: Seq[CurationPipelineDef] = Seq.empty)

object PipelineConfig {

  private val mapper = new ObjectMapper(new YAMLFactory())

  /** `${VAR}` environment substitution, as in the reference's loader. */
  private[graft] def substituteEnv(s: String, env: Map[String, String]): String =
    "\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        env.getOrElse(m.group(1),
          throw new IllegalArgumentException(s"undefined env var: ${m.group(1)}"))))

  def parse(yaml: String, env: Map[String, String] = sys.env): PipelineConfig = {
    val root = mapper.readTree(substituteEnv(yaml, env))
    def str(n: JsonNode, field: String): Option[String] =
      Option(n.get(field)).filterNot(_.isNull).map(_.asText)
    def req(n: JsonNode, field: String, ctx: String): String =
      str(n, field).getOrElse(
        throw new IllegalArgumentException(s"missing '$field' in $ctx"))
    def arr(n: JsonNode, field: String): Seq[JsonNode] =
      Option(n.get(field)).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)

    val project = Option(root.get("project"))
    val sources = Option(root.get("sources"))

    val entities = sources.toSeq.flatMap(s => arr(s, "entities")).map { e =>
      EntitySource(
        id = req(e, "id", "entity source"),
        uri = req(e, "uri", "entity source"),
        entityType = req(e, "entity_type", "entity source"),
        idCol = str(e, "id_col").getOrElse("__ID__"),
        query = str(e, "query"),
        schemaHints = Option(e.get("schema_hints")).map(h =>
          h.properties().asScala.map(kv => kv.getKey -> kv.getValue.asText).toMap)
          .getOrElse(Map.empty),
        onError = str(e, "on_error").getOrElse("fail"))
    }
    val relationships = sources.toSeq.flatMap(s => arr(s, "relationships")).map { r =>
      RelationshipSource(
        id = req(r, "id", "relationship source"),
        uri = req(r, "uri", "relationship source"),
        relationshipType = req(r, "relationship_type", "relationship source"),
        sourceCol = str(r, "source_col").getOrElse("__SOURCE__"),
        targetCol = str(r, "target_col").getOrElse("__TARGET__"),
        idCol = str(r, "id_col"),
        onError = str(r, "on_error").getOrElse("fail"))
    }
    val queries = arr(root, "queries").map { q =>
      val id = req(q, "id", "query")
      val cypher = str(q, "inline").orElse(str(q, "source").map { path =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          path.stripPrefix("file://"))))
      }).getOrElse(throw new IllegalArgumentException(s"query $id needs inline or source"))
      QueryDef(id, cypher, str(q, "description"))
    }
    val outputs = arr(root, "output").map { o =>
      OutputDef(req(o, "query_id", "output"), req(o, "uri", "output"), str(o, "format"))
    }
    val curation = arr(root, "curation").map { c =>
      val id = req(c, "id", "curation pipeline")
      val stages = arr(c, "stages").map { s =>
        val op = req(s, "op", s"curation pipeline $id stage")
        val params = s.properties().asScala
          .filter(_.getKey != "op")
          .map(kv => kv.getKey -> kv.getValue.asText).toMap
        CurationStageDef(op, params)
      }
      require(stages.nonEmpty, s"curation pipeline $id has no stages")
      CurationPipelineDef(id,
        input = req(c, "input", s"curation pipeline $id"),
        idCol = str(c, "id_col").getOrElse("doc_id"),
        textCol = str(c, "text_col").getOrElse("text"),
        stages = stages,
        outputUri = str(c, "output"),
        format = str(c, "format"),
        // streaming: true turns the same stage list into an
        // incremental foreachBatch pipeline (CurationStages
        // .runStreaming), started via PipelineRunner.startCuration
        streaming = Option(c.get("streaming")).exists(_.asBoolean(false)),
        checkpointUri = str(c, "checkpoint"),
        // schema: optional DDL ("doc_id LONG, text STRING") for the
        // streaming file source — beats inference when the input dir
        // is empty at start or CSV inference would mis-type columns
        // from the initial files
        schemaDdl = str(c, "schema"))
    }
    PipelineConfig(
      name = project.map(p => req(p, "name", "project")).getOrElse("pipeline"),
      description = project.flatMap(p => str(p, "description")),
      entities, relationships, queries, outputs,
      // project.audit_uri: parquet sink for the run's query-audit
      // records (star.py:833-896 parity in the nmetl path)
      auditUri = project.flatMap(p => str(p, "audit_uri")),
      // project.audit_daily: lay the sink out day-partitioned
      // (audit_date column) so retention-bounded analytics prune
      // partitions — the long-lived-service layout
      auditDaily = project.exists(p =>
        Option(p.get("audit_daily")).exists(_.asBoolean(false))),
      curation = curation)
  }
}
