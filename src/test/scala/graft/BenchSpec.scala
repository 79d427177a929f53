package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val mapper = new ObjectMapper()

  test("Bench.run: per-query counters in the full record, -1 for a throwing query, compact stdout line") {
    val good = Seq("q03_topk_revenue", "cy30_shortestpath")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    val full = Files.createTempFile("bench_full", ".json")
    try {
      val line = Bench.run(spark, dir, Some((good :+ "zz_throws").toSet),
        repeats = 1, full, SparkEntry.queries + ("zz_throws" -> boom))
      assert(line.getBytes("UTF-8").length < 1024, line)
      val compact = mapper.readTree(line)
      assert(compact.get("metric").asText() == "total")
      assert(compact.get("n_queries").asInt() == 3)
      assert(compact.get("n_errors").asInt() == 1)
      assert(compact.get("full").asText() == full.toString)

      val rec = mapper.readTree(Files.readString(full))
      good.foreach { q =>
        assert(rec.get("queries").get(q).asDouble() > 0, q)
        val c = rec.get("counters").get(q)
        Seq("jobs", "stages", "tasks").foreach(k => assert(c.get(k).asLong() > 0, s"$q $k"))
      }
      assert(rec.get("queries").get("zz_throws").asDouble() == -1.0)
      assert(rec.get("errors").get("zz_throws").asText().contains("boom"))
      assert(rec.get("errors").size() == 1)
    } finally Files.deleteIfExists(full)
  }

  test("Bench.run counts only the query's own job group: a job run outside it is not counted") {
    val plain: Bench.Query = (s, _) => s.range(10).toDF("x")
    // the same frame, after a job on a thread that left the group
    val outside: Bench.Query = (s, _) => {
      val t = new Thread(() => {
        s.sparkContext.clearJobGroup()
        s.sparkContext.parallelize(1 to 4, 2).count()
      })
      t.start(); t.join()
      s.range(10).toDF("x")
    }
    val full = Files.createTempFile("bench_full", ".json")
    try {
      Bench.run(spark, dir, Some(Set("zz_plain", "zz_outside")), repeats = 1, full,
        Map("zz_plain" -> plain, "zz_outside" -> outside))
      val c = mapper.readTree(Files.readString(full)).get("counters")
      Seq("jobs", "stages", "tasks").foreach { k =>
        assert(c.get("zz_plain").get(k).asLong() > 0, k)
        assert(c.get("zz_outside").get(k).asLong() == c.get("zz_plain").get(k).asLong(), k)
      }
    } finally Files.deleteIfExists(full)
  }

  test("Bench.plans writes <query>_<suffix>.txt with the formatted plan") {
    val out = Files.createTempDirectory("bench_plans")
    try {
      Bench.plans(spark, dir, out.toString, "x", Some(Set("q03_topk_revenue")))
      val txt = Files.readString(out.resolve("q03_topk_revenue_x.txt"))
      assert(txt.startsWith("== Physical Plan =="), txt.take(200))
      assert(out.toFile.list().toSeq == Seq("q03_topk_revenue_x.txt"))
    } finally {
      out.toFile.listFiles().foreach(_.delete())
      Files.delete(out)
    }
  }
}
