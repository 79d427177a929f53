package graft.operators

import java.io.{InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** The at-rest store every index kind shares (MinHash, exact keys,
  * fuzzy hoods, the LSH / sampled-IVF / PQ vector indexes and the
  * streaming vector index): partition-local components under one
  * global record, the REPOSE shape.
  *
  * Layout under an index directory:
  *   - `_meta`: the record — kind, params, format version and the
  *     Spark schema of every component and side table, as a
  *     `java.util.Properties` file, written once through Hadoop FS
  *     (a hidden temp file renamed into place) only after the index's
  *     first data write landed, never rewritten, and read back with
  *     `fs.open`, so opening an index runs no Spark job. No record
  *     means no index: a write cut before the rename reads as absent,
  *     and the next admit writes its batch and the record.
  *   - components (`bands`, `sigs`, `keys`, `hood`, `vecs`), each
  *     partitioned by `batch` and read with the recorded schema (no
  *     inference job), or the root itself for the indexes written
  *     whole (`""`: LSH, sampled IVF, PQ).
  *   - side tables (`_centroids`, `_codebook`, `_drift_baseline`),
  *     read from the entries under them: Spark treats an `_`-prefixed
  *     root path as hidden and logs "All paths were ignored" for it.
  *
  * Indexes written before the record existed (a parquet `_meta`
  * directory, or a component with batch-less files) are not migrated:
  * opening one fails with an `IllegalArgumentException` that names it.
  */
object IndexStore {

  /** An index's record; `schemas` is keyed by component or side-table
    * name (`""` for a root dataset). */
  final case class Record(kind: String, params: Map[String, String],
                          schemas: Map[String, StructType]) {
    def int(name: String): Int = params(name).toInt
  }

  /** One component's rows in an admit, with its partition columns
    * below `batch`. */
  final case class Part(name: String, rows: DataFrame, residual: Seq[String] = Nil)

  private val Version = "1"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def at(dir: String, name: String): String =
    if (name.isEmpty) dir else s"$dir/$name"

  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  private def rebuild(dir: String, what: String) = new IllegalArgumentException(
    s"index at $dir $what: it was written before the index record " +
      "(_meta file) existed and is not migrated — rebuild it")

  /** The record of the `kind` index at `dir`; None before its first
    * write landed. Fails on another kind, a record of another format
    * version, or a layout written before the record existed. */
  def open(spark: SparkSession, dir: String, kind: String): Option[Record] = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    val rp = new Path(root, "_meta")
    if (fs.exists(rp)) {
      if (fs.getFileStatus(rp).isDirectory) throw rebuild(dir, "has a parquet _meta")
      val props = new java.util.Properties
      val in = new InputStreamReader(fs.open(rp), UTF_8)
      try props.load(in) finally in.close()
      val version = props.getProperty("version")
      if (version != Version) throw rebuild(dir, s"has record version $version")
      def under(prefix: String): Map[String, String] =
        props.stringPropertyNames.asScala.collect {
          case k if k.startsWith(prefix) => k.stripPrefix(prefix) -> props.getProperty(k)
        }.toMap
      val rec = Record(props.getProperty("kind"), under("param."),
        under("schema.").map { case (k, v) => k -> DataType.fromJson(v).asInstanceOf[StructType] })
      require(rec.kind == kind, s"index at $dir is '${rec.kind}', expected '$kind'")
      Some(rec)
    } else {
      // batch-less files in a component: a layout from before the record
      if (fs.exists(root))
        fs.listStatus(root).filter(s => s.isDirectory && visible(s.getPath.getName))
          .foreach { c =>
            fs.listStatus(c.getPath).map(s => (s.getPath.getName, s.isFile))
              .find { case (n, file) =>
                visible(n) && !n.startsWith("batch=") && (file || n.contains("=")) }
              .foreach { case (n, _) =>
                throw rebuild(dir, s"has batch-less ${c.getPath.getName}/$n") }
          }
      None
    }
  }

  /** Write the record of a new index (a no-op when it has one): the
    * side tables first, then the record through a hidden temp file and
    * a checked rename. `schemas` names the components already written. */
  def create(spark: SparkSession, dir: String, kind: String,
             params: Map[String, String], schemas: Seq[(String, StructType)],
             sides: Seq[(String, DataFrame)] = Nil): Unit = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    val rp = new Path(root, "_meta")
    if (fs.exists(rp)) return
    sides.foreach { case (name, d) =>
      d.coalesce(1).write.mode("overwrite").parquet(at(dir, name))
    }
    val props = new java.util.Properties
    props.setProperty("kind", kind)
    props.setProperty("version", Version)
    params.foreach { case (k, v) => props.setProperty(s"param.$k", v) }
    (schemas ++ sides.map { case (n, d) => n -> d.schema }).foreach {
      case (n, s) => props.setProperty(s"schema.$n", s.json)
    }
    val tmp = new Path(root, ".meta_tmp")
    val out = new OutputStreamWriter(fs.create(tmp, true), UTF_8)
    try props.store(out, null) finally out.close()
    BatchCompaction.renameOrThrow(fs, tmp, rp)
  }

  /** Admit one batch: each part lands as a dynamic-partition overwrite
    * of its `batch=<batch>` partition (a replay overwrites its own rows),
    * then [[create]] writes the record if the index has none. An admit
    * whose first part is empty writes nothing: data-less directories
    * would leave a record over components with no files. Returns
    * whether it wrote. */
  def admit(spark: SparkSession, dir: String, kind: String,
            params: Map[String, String], batch: Long, parts: Seq[Part],
            sides: Seq[(String, DataFrame)] = Nil): Boolean = {
    if (parts.head.rows.isEmpty) return false
    val schemas = parts.map { p =>
      val rows = p.rows.withColumn("batch", lit(batch))
      rows.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch" +: p.residual: _*).parquet(at(dir, p.name))
      p.name -> rows.schema
    }
    create(spark, dir, kind, params, schemas, sides)
    true
  }

  /** One component, read with its recorded schema after repairing any
    * interrupted compaction of it; `asOf = Some(b)` keeps the rows of
    * batches before `b` (partition pruning — a replayed batch never
    * sees its own earlier attempt). */
  def read(spark: SparkSession, dir: String, rec: Record, name: String,
           asOf: Option[Long] = None): DataFrame = {
    val path = at(dir, name)
    BatchCompaction.recoverDir(spark, path, "batch")
    val df = spark.read.schema(rec.schemas(name)).parquet(path)
    asOf.fold(df)(b => df.filter(col("batch") < lit(b)))
  }

  /** The side table `name` under `dir`, read from its entries (files or
    * `k=v` partition directories, with `name` as the partition base) —
    * with `schema` when given (the record's), inferred otherwise. */
  def side(spark: SparkSession, dir: String, name: String,
           schema: Option[StructType] = None): DataFrame = {
    val p = new Path(dir, name)
    val entries = fsOf(spark, p).listStatus(p).map(_.getPath)
      .filter(f => visible(f.getName)).map(_.toString)
    schema.fold(spark.read)(spark.read.schema).option("basePath", p.toString)
      .parquet(entries.toIndexedSeq: _*)
  }
}
