package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.IterPin

/** End-to-end curation SOAK at scale (VERDICT r17 item 3): the
  * cu01/tx13 declarative stage chain — quality_gate → langid_filter →
  * exact_dedup → minhash_dedup → decontaminate → token_budget — run
  * over a ScaleData corpus ONCE, with per-stage wall clock and row
  * counts recorded. Every per-op exponent is measured elsewhere
  * (ScaleEdges, ScaleCheck); this is the stage-COMPOSITION artifact:
  * each stage's output is materialized to parquet and the next stage
  * reads it back, so a stage's wall is its own transform + write, not
  * an accumulated recomputation of its predecessors (the reference's
  * pipeline runner is the product surface — cli/pipeline.py:653-914).
  *
  * Run (after ScaleData builds the corpus):
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_GRAFT_SHUFFLE=128 \
  *     sbt "runMain graft.SoakCuration" → one JSON line, recorded
  *   under artifacts/r18/ and adjudicated in PERFORMANCE.md.
  */
object SoakCuration {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf10")
    val work = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_soak_cur")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128")
    // ~1000× cu01's sf0.01 budget, matching the ×1000 document count
    val budget = sys.env.getOrElse("SPARK_GRAFT_SOAK_BUDGET", "8000000")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.etl.{CurationStageDef, CurationStages}
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(work))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the tx13 contamination split, keyed on the BASE doc id (ScaleData
    // replicas offset doc_id by k·1e8 and near-clone the text): a raw
    // doc_id % 29 split puts some replica of EVERY base doc into the
    // benchmark, so decontaminate correctly drops the whole corpus —
    // a degenerate artifact. Splitting by clone FAMILY keeps each base
    // doc and all its replicas on one side, so decontaminate measures
    // genuine cross-family n-gram sharing.
    val family = pmod(pmod(col("doc_id"), lit(100000000L)), lit(29))
    val benchPath = s"$work/bench.parquet"
    docs.filter(family === 0).write.parquet(benchPath)
    val stage0 = s"$work/stage_00_input.parquet"
    docs.filter(family =!= 0).write.parquet(stage0)

    val stages = Seq(
      "quality_gate" ->
        CurationStageDef("quality_gate", Map("min_quality" -> "0.5")),
      "langid_filter" ->
        CurationStageDef("langid_filter", Map("allow" -> "en")),
      "exact_dedup" ->
        CurationStageDef("exact_dedup", Map.empty),
      "minhash_dedup" ->
        CurationStageDef("minhash_dedup", Map("threshold" -> "0.8")),
      "decontaminate" ->
        CurationStageDef("decontaminate",
          Map("benchmark_uri" -> benchPath, "ngram" -> "4")),
      "token_budget" ->
        CurationStageDef("token_budget", Map("budget" -> budget)))

    val inRows = spark.read.parquet(stage0).count()
    var cur = stage0
    var prevRows = inRows
    val report = stages.zipWithIndex.map { case ((name, st), i) =>
      val in = spark.read.parquet(cur)
      val next = f"$work/stage_${i + 1}%02d_$name.parquet"
      val t0 = System.nanoTime()
      CurationStages.apply(spark, in, "doc_id", "text", st)
        .write.parquet(next)
      val secs = (System.nanoTime() - t0) / 1e9
      IterPin.freeAll(spark)
      val rows = spark.read.parquet(next).count()
      val line =
        s""""$name":{"secs":${f"$secs%.1f"},"rows_in":$prevRows,""" +
          s""""rows_out":$rows}"""
      println(f"[soak-curation] $name: $secs%.1fs $prevRows -> $rows")
      cur = next
      prevRows = rows
      line
    }
    println(s"""{"sf_dir":"$sfDir","budget":$budget,"rows_in":$inRows,""" +
      s""""rows_out":$prevRows,"stages":{${report.mkString(",")}}}""")
    spark.stop()
  }
}
