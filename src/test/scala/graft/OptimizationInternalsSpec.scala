package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}

import graft.functions.{DotProduct, VectorDivScalar, VectorNorm}
import graft.operators.{IterPin, Par}

/** Focused gates for the round-20 optimization internals: the observed
  * convergence probe, the scan-parallelism guard, and the native
  * vector kernels must be BIT-IDENTICAL to the forms they replaced.
  */
class OptimizationInternalsSpec extends SparkSpec {
  import spark.implicits._

  test("pinProbed returns the same metrics row as pin-then-agg, both conf routes") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 12L)).toDF("node", "dist")
    val metrics = Seq(count(lit(1)), coalesce(sum(col("dist")), lit(0L)))
    val (p1, r1) = IterPin.pinProbed(df, metrics)
    assert(r1.getLong(0) == 3L && r1.getLong(1) == 42L)
    assert(p1.collect().toSet == df.collect().toSet)
    IterPin.free(p1)
    // fallback route must agree
    spark.conf.set("graft.iter.observeProbe", "false")
    try {
      val (p2, r2) = IterPin.pinProbed(df, metrics)
      assert(r2.getLong(0) == 3L && r2.getLong(1) == 42L)
      IterPin.free(p2)
    } finally spark.conf.unset("graft.iter.observeProbe")
  }

  test("pinProbed's observe route defaults on only for masters that run " +
       "every task in-process") {
    Seq("local", "local[4]", "local[*]", "local[4,2]")
      .foreach(m => assert(IterPin.localMaster(m), m))
    Seq("local-cluster[2,1,1024]", "spark://h:7077")
      .foreach(m => assert(!IterPin.localMaster(m), m))
  }

  test("pinProbed under graft.iter.checkpointDir takes the exact probe " +
       "(reliable checkpoint executes the plan twice — observed metrics " +
       "would read 2x)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("graft.iter.checkpointDir", dir)
    // even an explicit observe opt-in must NOT win: 2x under the
    // reliable route is a certainty, not a retry risk
    spark.conf.set("graft.iter.observeProbe", "true")
    try {
      val df = Seq((1L, 10L), (2L, 20L), (3L, 12L)).toDF("node", "dist")
      val (p, r) = IterPin.pinProbed(df,
        Seq(count(lit(1)), coalesce(sum(col("dist")), lit(0L))))
      assert(r.getLong(0) == 3L, s"count doubled: ${r.getLong(0)}")
      assert(r.getLong(1) == 42L, s"sum doubled: ${r.getLong(1)}")
      assert(p.collect().toSet == df.collect().toSet)
      IterPin.free(p)
    } finally {
      spark.conf.unset("graft.iter.checkpointDir")
      spark.conf.unset("graft.iter.observeProbe")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("Par.spreadPinned materializes a fired spread once, identity otherwise") {
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val one = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
      .select(col("id"), (col("id") * 2).as("y"))
    val pinned = Par.spreadPinned(one)
    assert(pinned.rdd.getNumPartitions == par)
    // the pin is a materialized leaf: consumers share its blocks
    // instead of re-running scan + spread shuffle per subtree
    assert(pinned.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    assert(pinned.collect().toSet == one.collect().toSet)
    IterPin.free(pinned)
    val wide = spark.range(0, 100, 1, numPartitions = par).toDF("id")
    assert(Par.spreadPinned(wide) eq wide) // no spread → no pin
  }

  test("pinProbed observes the frame being pinned, not its input") {
    // the probe must see post-transformation rows (the loop contract:
    // the signature describes the NEW state)
    val df = Seq(1L, 2L, 3L, 4L).toDF("x").filter(col("x") % 2 === 0)
    val (p, r) = IterPin.pinProbed(df, Seq(count(lit(1)), sum(col("x"))))
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L)
    IterPin.free(p)
  }

  test("Par.spread raises single-split narrow scans to session parallelism") {
    val one = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
      .select(col("id"), (col("id") * 2).as("y"))
    val spreadDf = Par.spread(one)
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(spreadDf.rdd.getNumPartitions == par)
    assert(spreadDf.collect().toSet == one.collect().toSet)
  }

  test("Par.spread is identity on parallel scans and on derived frames") {
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wide = spark.range(0, 100, 1, numPartitions = par).toDF("id")
    assert(Par.spread(wide) eq wide) // already parallel → untouched
    val derived = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
      .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
    assert(Par.spread(derived) eq derived) // aggregate upstream → untouched
  }

  test("VectorNorm equals the unrolled element_at chain bit for bit") {
    val nd = 5
    val df = Seq(
      Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      Seq(0.1, -0.2, 0.3, -0.4, 0.5),
      Seq(1e-9, 2e9, -3.5, 0.0, 7.25)).toDF("v")
    def unrolled = sqrt((1 to nd).map(d =>
      element_at(col("v"), d) * element_at(col("v"), d))
      .foldLeft(lit(0.0))(_ + _))
    val r = df.select(
      column(VectorNorm(expression(col("v")))).as("native"),
      unrolled.as("chain")).collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(row.getDouble(1)))
    }
  }

  test("VectorNorm nullifies on a null element, like element_at propagation") {
    val df = Seq(Tuple1(Seq[java.lang.Double](1.0, null, 3.0))).toDF("v")
    val r = df.select(column(VectorNorm(expression(
      col("v").cast("array<double>")))).as("n")).collect()
    assert(r.head.isNullAt(0))
  }

  test("VectorDivScalar equals per-element division bit for bit") {
    val df = Seq((Seq(1.0, 2.0, 3.0), 7.0), (Seq(-0.5, 0.0, 9.75), 3.1))
      .toDF("v", "d")
    val r = df.select(
      column(VectorDivScalar(expression(col("v")), expression(col("d"))))
        .as("native"),
      array((1 to 3).map(i => element_at(col("v"), i) / col("d")): _*)
        .as("chain")).collect()
    r.foreach { row =>
      val a = row.getSeq[Double](0)
      val b = row.getSeq[Double](1)
      assert(a.size == b.size)
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(y))
      }
    }
  }

  test("VectorQuantize equals the __m + per-slot round expression forms") {
    import graft.functions.VectorQuantize
    val nd = 4
    val df = Seq(
      Seq[java.lang.Double](1.0, -2.0, 3.5, -0.25),
      Seq[java.lang.Double](0.1, 0.2, 0.3, 0.4),
      Seq[java.lang.Double](-1e-9, 2e9, -3.5, 0.0),
      Seq[java.lang.Double](0.0, 0.0, 0.0, 0.0),        // zero vector → all-null codes
      Seq[java.lang.Double](1.0, null, -4.0, 2.0),      // null element stays null
      Seq[java.lang.Double](0.5, -0.5),                 // size != nd → HOF branch
      Seq[java.lang.Double]()).map(Tuple1(_)).toDF("v0")
      .select(col("v0").cast("array<double>").as("v"))
    val vc = col("v")
    // the replaced unrolled form (nd known, size matched) + HOF fallback
    def hofM = array_max(transform(vc, x => abs(x)))
    val els = (1 to nd).map(d => abs(element_at(vc, d)))
    val m = when(size(vc) === nd, greatest(els: _*)).otherwise(hofM)
    def hofCodes = transform(vc,
      x => round(x * lit(127.0) / col("__m")).cast("tinyint"))
    val codes = when(size(vc) === nd,
      array((1 to nd).map(d =>
        round(element_at(vc, d) * lit(127.0) / col("__m")).cast("tinyint")): _*))
      .otherwise(hofCodes)
    val r = df.withColumn("__m", nullif(m, lit(0.0)))
      .select(column(VectorQuantize(expression(vc))).as("native"),
        codes.as("chain")).collect()
    r.foreach { row =>
      assert(row.isNullAt(0) == row.isNullAt(1))
      if (!row.isNullAt(0)) {
        val a = row.getSeq[Any](0)
        val b = row.getSeq[Any](1)
        assert(a == b, s"native $a != chain $b")
      }
    }
  }

  test("cosine equal-size branch (native dot) matches the HOF fallback") {
    // same vectors through dims-known (native kernel) and dims=0 (HOF)
    val df = Seq(
      (Seq(1.0, 0.0, 2.0), Seq(0.5, 1.5, -2.0)),
      (Seq(0.25, 0.5, 0.125), Seq(4.0, -8.0, 16.0))).toDF("a", "b")
    val r = df.select(
      graft.operators.Similarity.cosine(col("a"), col("b"), 3).as("native"),
      graft.operators.Similarity.cosine(col("a"), col("b"), 0).as("hof"))
      .collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(row.getDouble(1)))
    }
  }
}
