package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), designed so the same plan shape works at 100 TB:
  * the query vector rides along as a broadcast single-row DataFrame
  * (never a driver-side collect into the plan), the distance math is
  * native `zip_with`/`aggregate` (codegen'd, no UDF), and top-k goes
  * through `orderBy().limit(k)` which Spark executes as
  * TakeOrderedAndProject — per-partition heaps + driver merge, no
  * global sort shuffle.
  */
object Similarity {

  /** Double-precision cosine similarity between two array<double> cols:
    * dot(a,b) / (norm(a) * norm(b)), sequential left-to-right fold so it
    * is bit-identical with the DuckDB oracle's evaluation order.
    *
    * With `dims > 0` the folds unroll into straight-line codegen'd
    * arithmetic in the SAME left-to-right order (bit-identical doubles).
    * Higher-order functions are CodegenFallback — interpreted dispatch
    * per (row × dim) is the dominant cost of a corpus-wide cosine scan
    * (measured 2.5× end-to-end on dd05's verify; see PERFORMANCE.md) —
    * so every top-k operator probes the corpus dimensionality once and
    * passes it here. Vectors of a different length fall back to the HOF
    * fold inside the `when` guard (ANSI-safe, identical results).
    */
  def cosine(a: Column, b: Column, dims: Int = 0): Column = {
    def hofDot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def hofN2(c: Column) = aggregate(c, lit(0.0), (acc, x) => acc + x * x)
    // cosine against a zero-norm vector is undefined: return NULL
    // (drops out of every >= / top-k filter) instead of tripping
    // Spark 4's ANSI divide-by-zero error — the same exit DuckDB's
    // list_cosine_similarity NaN takes through the oracles' filters.
    // try_divide, NOT a when() guard: when() re-evaluates the unrolled
    // norm sums in both the condition and the value branch (no
    // cross-branch subexpression elimination), which a same-session
    // A/B measured at 1.4-2.6× on the cosine-hot queries
    // (ann01/dd14/dd18); try_divide is the division itself with a
    // null-on-zero exit, evaluated once
    def guarded(dot: Column, na: Column, nb: Column): Column =
      try_divide(dot, na * nb)
    if (dims <= 0)
      guarded(hofDot, sqrt(hofN2(a)), sqrt(hofN2(b)))
    else {
      // equal-size branch through the native [[graft.functions.DotProduct]]
      // kernel (one virtual eval + a primitive loop) instead of the
      // 2·dims-deep unrolled element_at/Add chain: inside whole-stage
      // codegen both compile to the same loop shape, but the cosine-hot
      // operators (broadcast nested-loop top-k, LSH verify) host their
      // projection on stages with NO codegen region, where the unrolled
      // chain paid ~400 virtual evals + boxed doubles per pair. The
      // kernel folds left-to-right from 0.0 — bit-identical doubles.
      // Size-mismatched rows keep the HOF branch (DotProduct folds over
      // min-length and would MISS the null the zip_with form produces).
      import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
      def native(x: Column, y: Column) =
        column(graft.functions.DotProduct(expression(x), expression(y)))
      val ok = size(a) === dims && size(b) === dims
      val dot = when(ok, native(a, b)).otherwise(hofDot)
      val na = sqrt(when(ok, native(a, a)).otherwise(hofN2(a)))
      val nb = sqrt(when(ok, native(b, b)).otherwise(hofN2(b)))
      guarded(dot, na, nb)
    }
  }

  // native array cast (codegen'd Cast), NOT transform(_.cast) — a
  // per-element lambda is interpreted CodegenFallback dispatch on
  // every corpus vector load
  private[operators] def asDouble(c: Column): Column = c.cast("array<double>")

  /** One-row probe of the vector dimensionality — the plan-time
    * constant the unrolled kernels need. Reads a single row-group;
    * negligible at any corpus size. Null vectors are filtered before
    * the probe: under ANSI mode size(null) is null and getInt would
    * NPE, turning a degradable case (dims=0 → HOF fallback) into a
    * crash of the whole index build / lookup.
    */
  private[operators] def dimsOf(df: DataFrame, vecCol: String): Int =
    df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("s")).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** Exact brute-force cosine top-k against the vector with id
    * `queryVecId`. One broadcast-nested-loop against a 1-row dimension,
    * then TakeOrderedAndProject.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     queryVecId: Long, k: Int): DataFrame = {
    val nd = dimsOf(df, vecCol)
    val q = df.filter(col(idCol) === queryVecId)
      .select(asDouble(col(vecCol)).as("qv"))
    df.filter(col(idCol) =!= queryVecId)
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col("v"), col("qv"), nd), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Int8 scalar quantization: symmetric per-vector max-abs scaling,
    * `code_i = round(x_i * 127 / max|x|)` stored as tinyint — 4× less
    * memory/IO than float32, which at 100 TB is the difference between
    * an in-memory and a spilling ANN working set. Positive per-vector
    * scales cancel in cosine, so quantized cosine is EXACTLY the cosine
    * of the code vectors (and integer-valued dot products are exact in
    * double, making the whole pipeline bit-reproducible — unlike the
    * float original, this variant has a full external oracle).
    * Zero vectors quantize to null and drop out of similarity search.
    */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // ONE native kernel per row (graft.functions.VectorQuantize), not
    // a `__m` column + per-slot rounds: CollapseProject inlined the
    // nd-term max-abs into all nd code slots — ~nd² expression nodes,
    // interpreted eval (the normalizedVectors disease, round 20 #8,
    // with a smaller exponent). Same max/skip-null/zero→null/HALF_UP
    // semantics bit for bit — spec-gated against both expression forms
    // in OptimizationInternalsSpec.
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .select(col(idCol),
        column(graft.functions.VectorQuantize(expression(col("v")))).as("codes"))
  }

  /** Exact cosine top-k over int8-quantized vectors: same plan shape as
    * `bruteForceTopK` (broadcast 1-row query + TakeOrderedAndProject),
    * but the scan carries tinyint codes instead of floats.
    */
  def quantizedTopK(df: DataFrame, idCol: String, vecCol: String,
                    queryVecId: Long, k: Int): DataFrame = {
    val nd = dimsOf(df, vecCol)
    val codes = quantize(df, idCol, vecCol)
      .select(col(idCol), asDouble(col("codes")).as("cd"))
    val q = codes.filter(col(idCol) === queryVecId).select(col("cd").as("qcd"))
    codes.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col("cd"), col("qcd"), nd), 6).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** ±1 hyperplane component for (seed, plane, dim): +1 iff the first
    * hex digit of md5("seed_plane_dim") is >= '8'. MD5 is the one hash
    * both Spark and DuckDB evaluate identically, so an external oracle
    * can replay the ENTIRE signature pipeline (sign table → dots →
    * sign bits → buckets) in SQL — the sketches stop being
    * unverifiable. The table is precomputed on the driver and embedded
    * as array literals (constant-folded; zero per-row hash work).
    */
  private[graft] def mdSign(seed: Int, plane: Int, dim: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${seed}_${plane}_${dim}".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0x8) != 0) 1.0 else -1.0
  }

  /** Max vector dimensionality the embedded sign tables cover. */
  private[graft] val MaxSignDims = 256

  /** `planes`-bit random-hyperplane signature of an array<double> vector.
    * Hyperplane p's component for dimension d comes from the md5 sign
    * table (`mdSign`) — no stored model, executors see only literal
    * arrays, and the whole computation is replayable in the DuckDB
    * oracle. Dot products fold sequentially left-to-right.
    */
  private[graft] def hyperplaneSignature(v: Column, planes: Int, seed: Int,
                                         dims: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      def hof = {
        val signs = lit((0 until MaxSignDims).map(d => mdSign(seed, p, d)).toArray)
        aggregate(
          zip_with(v, slice(signs, lit(1), size(v)), (x, s) => x * s),
          lit(0.0), (acc, x) => acc + x)
      }
      // dims known → the sign for (p, d) is a plan-time CONSTANT, so
      // the dot unrolls to literal multiply-adds in the same fold
      // order (bit-identical); corpus-scale index writes stay inside
      // whole-stage codegen instead of interpreted HOF dispatch
      val dot =
        if (dims <= 0 || dims > MaxSignDims) hof
        else when(size(v) === dims,
          (1 to dims).map(d => element_at(v, d) * lit(mdSign(seed, p, d - 1)))
            .foldLeft(lit(0.0))(_ + _)).otherwise(hof)
      when(dot > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Fit the coarse k-means quantizer of a corpus. */
  def ivfFit(df: DataFrame, vecCol: String,
             nlist: Int, seed: Long): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    new KMeans().setK(nlist).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__fv").setPredictionCol("__bucket")
      .fit(df.select(asDouble(col(vecCol)).as("v"))
        .withColumn("__fv", array_to_vector(col("v"))))
  }

  /** IVF (inverted-file) ANN — the FAISS IVF-Flat layout expressed
    * relationally: coarse k-means centroids (Spark ML, a handful of
    * scan-bounded iterations) partition the corpus into `nlist`
    * buckets; a query scores exact cosine ONLY inside its `nprobe`
    * nearest buckets. At 100 TB the bucket id is the natural partition
    * key — write the corpus `partitionBy(__bucket)` and a query's scan
    * prunes to nprobe buckets of files; the centroid table is tiny and
    * driver-resident by construction (nlist rows).
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queryVecId: Long, k: Int, nlist: Int = 16,
              nprobe: Int = 4, seed: Long = 7L): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = df
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("__fv", array_to_vector(col("v")))
    val model = ivfFit(df, vecCol, nlist, seed)
    val assigned = model.transform(withVec).drop("__fv")
    // nprobe nearest centroids to the query vector: nlist² driver flops.
    // An absent query id returns an empty frame (matching the sibling
    // top-k operators' empty-broadcast behavior), never a throw.
    val qRow = withVec.filter(col(idCol) === queryVecId).select(col("v")).head(1)
    if (qRow.isEmpty)
      return df.select(col(idCol), lit(null).cast("double").as("cos_sim")).limit(0)
    val qVec = qRow.head.getSeq[Double](0).toArray
    val probe = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      val d = c.toArray.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum
      (d, i)
    }.sortBy(_._1).take(nprobe).map(_._2)
    val q = assigned.filter(col(idCol) === queryVecId).select(col("v").as("qv"))
    assigned.filter(col("__bucket").isin(probe.toIndexedSeq: _*))
      .filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col("v"), col("qv"), qVec.length), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** LSH-bucketed ANN: prefilter to vectors whose hyperplane signature
    * is within hamming distance 1 of the query's (multi-probe), then
    * exact cosine top-k inside the candidate set. Ad-hoc/one-shot form —
    * it signs the corpus inline, so EVERY query pays a full corpus scan
    * + signature compute. For repeated lookups use `lshIndexWrite` +
    * `lshIndexTopK`: the signed corpus lives at rest partitioned by
    * bucket and a query's scan prunes to its probe buckets.
    *
    * ROUTE BY CORPUS SIZE (r19 verdict item 5, measured): the 2^planes
    * signature space is FIXED, so a query's multi-probe candidate set
    * is a constant FRACTION of the corpus, not a constant count —
    * measured on the diverse embeddings at the wired planes=8
    * (artifacts/r20/lsh_topk_occupancy.json): 798 candidates/query at
    * 20k vectors and 7,983 at 200k — 4.0% of n at BOTH scales, i.e.
    * per-query cost grows linearly and the prefilter buys a constant
    * ~25× over brute force, nothing more. Small corpora (≤ ~100k) or
    * one-shot lookups: this is fine. At scale, use the IVF family
    * ([[ivfTopK]] / the persisted `ivfSampledIndex*`), whose nlist
    * derives from n so per-query candidates stay ~constant — the
    * production ANN path at 100 TB.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              queryVecId: Long, k: Int, planes: Int, seed: Int = 42): DataFrame = {
    val nd = dimsOf(df, vecCol)
    val withSig = df
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("sig", hyperplaneSignature(col("v"), planes, seed, nd))
    val q = withSig.filter(col(idCol) === queryVecId)
      .select(col("v").as("qv"), col("sig").as("qsig"))
    withSig.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .filter(bit_count(col("sig").bitwiseXOR(col("qsig"))) <= 1)
      .select(col(idCol), round(cosine(col("v"), col("qv"), nd), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  // ---------------- persisted index-at-rest ----------------
  //
  // The 100 TB usage model (mirroring the reference implementation's
  // persisted graph indexes, pycypher's graph_index.py): the corpus is signed/assigned ONCE offline
  // and written `partitionBy(__bucket)`, so a lookup is a
  // PARTITION-PRUNED scan of its probe buckets — never a corpus scan,
  // never a per-query signature pass. Probe parameters (planes / nlist,
  // seed) live in the index's `_meta` record ([[IndexStore]]), which
  // makes parameter drift between writer and reader impossible.

  /** Signature of one query vector, evaluated through the SAME Catalyst
    * expression the index writer used (a 1-row local relation — no
    * driver-side hash reimplementation to drift out of sync).
    */
  private def signatureOf(spark: org.apache.spark.sql.SparkSession,
                          queryVec: Seq[Double], planes: Int, seed: Int): Long = {
    import spark.implicits._
    Seq(Tuple1(queryVec)).toDF("v")
      .select(hyperplaneSignature(col("v"), planes, seed).as("s"))
      .head().getLong(0)
  }

  /** Build the LSH index: sign every vector and write the corpus
    * partitioned by its signature bucket. A rewrite replaces the index.
    */
  def lshIndexWrite(df: DataFrame, idCol: String, vecCol: String,
                    path: String, planes: Int, seed: Int = 42): Unit = {
    val rows = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("__bucket",
        hyperplaneSignature(col("v"), planes, seed, dimsOf(df, vecCol)))
    rows.write.mode("overwrite").partitionBy("__bucket").parquet(path)
    IndexStore.create(df.sparkSession, path, "lsh",
      Map("planes" -> planes.toString, "seed" -> seed.toString), Seq("" -> rows.schema))
  }

  /** A stored vector index's record; fails when there is none. */
  private def indexRecord(spark: org.apache.spark.sql.SparkSession, path: String,
                          kind: String): IndexStore.Record =
    IndexStore.open(spark, path, kind).getOrElse(
      throw new IllegalArgumentException(s"no $kind index at $path (no _meta)"))

  /** Append a batch to a stored LSH index — the maintenance half of an
    * incremental ANN corpus (`Dedup.minHashIndexPut` is the MinHash
    * counterpart, batch-tagged): the batch is signed with the INDEX's
    * own (planes, seed) from its record (writer/prober parameters can
    * never drift) and its rows land in their signature buckets in
    * APPEND mode at batch cost — the at-rest corpus is never re-signed
    * or rewritten. Probing after an append is exactly probing a full
    * rebuild over the union: bucket assignment is a pure per-row
    * function of the vector, so appended rows land in the same
    * partitions a rebuild would put them in (spec-asserted). The caller
    * owns id uniqueness across appends.
    */
  def lshIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                     df: DataFrame, idCol: String, vecCol: String): Unit = {
    val rec = indexRecord(spark, path, "lsh")
    df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("__bucket", hyperplaneSignature(col("v"), rec.int("planes"),
        rec.int("seed"), dimsOf(df, vecCol)))
      .write.mode("append").partitionBy("__bucket").parquet(path)
  }

  /** Probe-only ANN against a stored LSH index: compute the query's
    * signature (1-row job), enumerate its hamming<=1 multi-probe
    * buckets, and scan ONLY those partitions (the `__bucket IN (...)`
    * predicate is a partition filter — plan-asserted in PlanSpec).
    * Identical results to `lshTopK` at the same (planes, seed).
    */
  def lshIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queryVec: Seq[Double], k: Int,
                   excludeId: Option[Long] = None,
                   idColName: String = "id"): DataFrame = {
    val rec = indexRecord(spark, path, "lsh")
    val planes = rec.int("planes")
    val qsig = signatureOf(spark, queryVec, planes, rec.int("seed"))
    val probes = qsig +: (0 until planes).map(p => qsig ^ (1L << p))
    import spark.implicits._
    val q = Seq(Tuple1(queryVec)).toDF("qv")
    IndexStore.read(spark, path, rec, "")
      .filter(col("__bucket").isin(probes: _*))
      .filter(excludeId.map(col("id") =!= _).getOrElse(lit(true)))
      .crossJoin(broadcast(q))
      .select(col("id").as(idColName),
        round(cosine(col("v"), col("qv"), queryVec.size), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idColName))
      .limit(k)
  }

  // ------------- deterministic (oracle-able) IVF variant -------------

  /** Squared euclidean distance between two array<double> columns,
    * sequential left-to-right fold; `dims > 0` unrolls into codegen'd
    * arithmetic with the identical order (same rationale as `cosine`).
    */
  private[operators] def sqDist(a: Column, b: Column, dims: Int = 0): Column = {
    def hof = aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    if (dims <= 0) hof
    else when(size(a) === dims && size(b) === dims,
      (1 to dims).map { d =>
        val diff = element_at(a, d) - element_at(b, d)
        diff * diff
      }.foldLeft(lit(0.0))(_ + _)).otherwise(hof)
  }

  /** Coarse centroids by DETERMINISTIC SAMPLING: the `nlist` corpus
    * vectors ranked first by (md5(id), id) — FAISS-style sampled-init
    * centroids without the k-means iterations, and crucially a choice
    * an external SQL engine can replay verbatim (k-means centroids
    * cannot be recomputed outside Spark ML). The centroid id IS the
    * sampled vector's corpus id.
    */
  private[operators] def sampledCentroids(v: DataFrame, nlist: Int): DataFrame =
    v.orderBy(md5(col("id").cast("string").cast("binary")), col("id"))
      .limit(nlist)
      .select(col("id").as("cid"), col("v").as("c"))

  /** MAP-SIDE coarse assignment against a driver-collected centroid
    * table — the builders this hands out replace the
    * `crossJoin(broadcast(cent))` + per-id `row_number` window every
    * sampled-IVF path used to run. The window was the 100 TB liability
    * (VERDICT r14 #1): the broadcast cross join is map-side, but
    * ranking forces an Exchange of the EXPANDED set — nlist (default
    * 64) rows per vector, each carrying the full vector payload, i.e.
    * shuffle volume ≈ 64× the corpus on the semantic-dedup/vector-index
    * path a 100 TB crawl hammers per micro-batch. Assignment now runs
    * inside the scan's codegen stage against a plan-constant centroid
    * matrix ([[graft.functions.NearestCentroids]], the PqEncode/
    * BpeApply reference-object discipline): no join, no window, no
    * shuffle, bit-identical results (deterministic argmin, ties to the
    * lower centroid id — the kernel documents the exact parity rules).
    *
    * Collecting the centroid table is the blessed bounded collect
    * (nlist ≤ a few hundred rows — the nlist/codebook-table class);
    * `ivfSampledIndexWrite` and `pqIndexWrite` always pinned it
    * driver-side anyway.
    *
    * `nearestOrds(v)` → `array<int>` of the `n` nearest centroid
    * ORDINALS by (squared L2, centroid id); `cidOf(ord)` maps an
    * ordinal back to the centroid id through a small literal array —
    * id-type-agnostic (long, int, string ids all sort here with
    * Spark's own ordering, so the tie rule matches the relational
    * `orderBy(dist, cid)` exactly); `home(v)` is the rank-1 bucket.
    */
  private[graft] final case class CentroidAssigner(
      nearestOrds: Column => Column, cidOf: Column => Column) {
    def home(v: Column): Column = cidOf(get(nearestOrds(v), lit(0)))
  }

  private[graft] def centroidAssigner(
      centRows: Seq[org.apache.spark.sql.Row],
      cidType: org.apache.spark.sql.types.DataType,
      n: Int): CentroidAssigner = {
    require(centRows.nonEmpty, "centroidAssigner needs >= 1 centroid")
    require(n >= 1, s"centroidAssigner needs n >= 1, got $n")
    // ascending-centroid-id matrix with SPARK's ordering for the id
    // type (UTF8String binary order for strings — java String order
    // differs on supplementary planes), so kernel ordinal order IS the
    // relational (dist, cid) tie rule
    val cmp: (Any, Any) => Int =
      cidType match {
        case org.apache.spark.sql.types.StringType => (a, b) =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String]))
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => (a, b) =>
          java.lang.Long.compare(a.asInstanceOf[Number].longValue,
            b.asInstanceOf[Number].longValue)
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => (a, b) =>
          java.lang.Double.compare(a.asInstanceOf[Number].doubleValue,
            b.asInstanceOf[Number].doubleValue)
        case other => throw new IllegalArgumentException(
          s"unsupported centroid id type for map-side assignment: $other")
      }
    val sorted = centRows.sortWith((x, y) => cmp(x.get(0), y.get(0)) < 0)
    // reject null ELEMENTS too, not just null vectors: a null inside a
    // sampled centroid would otherwise surface later as an opaque
    // unboxing NullPointerException in getSeq[Double].toArray
    require(sorted.forall(r =>
        !r.isNullAt(1) && !r.getSeq[Any](1).contains(null)),
      "null centroid vector (or null vector element) — filter null " +
        "embeddings before building an index (a null sampled centroid " +
        "has no meaningful distance to anything)")
    val matrix: Array[Array[Double]] =
      sorted.map(_.getSeq[Double](1).toArray).toArray
    val cids: Seq[Any] = sorted.map(_.get(0))
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    val cidArr = column(org.apache.spark.sql.catalyst.expressions.Literal
      .create(cids, org.apache.spark.sql.types.ArrayType(cidType)))
    CentroidAssigner(
      v => column(graft.functions.NearestCentroids(expression(v), matrix, n)),
      o => get(cidArr, o))
  }

  /** Deterministic cluster ASSIGNMENT (the ann03/dd14 sampled-centroid
    * rule) exposed as its own operator: (id, cluster) by argmin squared
    * L2 against the nlist md5-sampled centroids, ties to the lower
    * centroid id — the front half of every sampled-IVF pipeline, and
    * the grouping key for cluster-aware mixing/sampling. The nlist-row
    * centroid table is collected once and assignment runs MAP-SIDE in
    * the scan's codegen stage ([[centroidAssigner]]) — no join, no
    * window, no shuffle.
    */
  def ivfSampledAssign(df: DataFrame, idCol: String, vecCol: String,
                       nlist: Int = 16): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val cent = sampledCentroids(v, nlist)
    val centRows = cent.collect().toIndexedSeq
    if (centRows.isEmpty) // empty corpus: empty (id, cluster) frame
      return v.limit(0).select(col("id").as(idCol), col("id").as("cluster"))
    val asg = centroidAssigner(centRows, cent.schema("cid").dataType, 1)
    v.select(col("id").as(idCol), asg.home(col("v")).as("cluster"))
  }

  /** Deterministic IVF-Flat top-k: sampled centroids, assignment =
    * map-side argmin squared distance against the plan-constant
    * centroid matrix (ties to the lower centroid id —
    * [[centroidAssigner]]), probe = the same argmin rule on the query
    * vector, exact cosine inside the probed buckets. No ML fit; the
    * only driver work is the nlist-row centroid collect, and the
    * assignment values are replayable end-to-end by the DuckDB oracle
    * (same argmin, same tie rule). The k-means `ivfTopK` remains the
    * higher-recall learned variant; this is the auditable one.
    */
  def ivfSampledTopK(df: DataFrame, idCol: String, vecCol: String,
                     queryVecId: Long, k: Int, nlist: Int = 16,
                     nprobe: Int = 4): DataFrame = {
    val spark = df.sparkSession
    val nd = dimsOf(df, vecCol)
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // centroid table pinned driver-side once: corpus assignment runs
    // map-side (no window shuffle — centroidAssigner); the probe
    // ranking below reuses the materialized nlist-row frame instead of
    // re-running the corpus-wide sample scan
    val centPlan = sampledCentroids(v, nlist)
    val centRows = centPlan.collect().toIndexedSeq
    // empty corpus: no centroids (and no query row) — the lazily-empty
    // frame the old window plan returned, not centroidAssigner's
    // "needs >= 1 centroid" IllegalArgumentException
    if (centRows.isEmpty)
      return v.limit(0).select(col("id").as(idCol), lit(0.0).as("cos_sim"))
    val cent = spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), centPlan.schema)
    val asg = centroidAssigner(centRows, centPlan.schema("cid").dataType, 1)
    val assigned = v
      .withColumn("__bucket", asg.home(col("v")))
      .select(col("id"), col("v"), col("__bucket"))
    val q = v.filter(col("id") === queryVecId).select(col("v").as("qv"))
    val probes = cent.crossJoin(broadcast(q))
      .select(col("cid"), sqDist(col("c"), col("qv"), nd).as("__dist"))
      .orderBy(col("__dist"), col("cid")).limit(nprobe)
      .select(col("cid").as("__bucket"))
    assigned.join(broadcast(probes), Seq("__bucket"), "left_semi")
      .filter(col("id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("id").as(idCol), round(cosine(col("v"), col("qv"), nd), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Persist the deterministic IVF index: sampled centroids under
    * `_centroids`, the assigned corpus partitioned by bucket.
    */
  def ivfSampledIndexWrite(df: DataFrame, idCol: String, vecCol: String,
                           path: String, nlist: Int): Unit = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // pin the nlist-row centroid table on the driver: the sampled-
    // centroid TakeOrdered is a corpus-wide scan, and leaving it lazy
    // would execute it once for the assignment write and AGAIN for the
    // _centroids write — two extra corpus passes at index-build scale
    // for a table of nlist rows
    val spark = df.sparkSession
    val centPlan = sampledCentroids(v, nlist)
    val centRows = centPlan.collect().toIndexedSeq
    // curated empty-corpus error (the pqIndexWrite rationale: an empty
    // index dir would wedge probes on schema inference)
    require(centRows.nonEmpty,
      "cannot build an IVF index over an empty corpus — no rows to " +
        "sample centroids from")
    // re-created with the collected plan's OWN schema — a hand-written
    // StructType would hard-code the id type and crash callers whose id
    // column isn't LongType (sampledCentroids itself is id-type-agnostic)
    val cent = spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), centPlan.schema)
    val asg = centroidAssigner(centRows, centPlan.schema("cid").dataType, 1)
    val rows = v.withColumn("__bucket", asg.home(col("v")))
      .select(col("id"), col("v"), col("__bucket"))
    rows.write.mode("overwrite").partitionBy("__bucket").parquet(path)
    IndexStore.create(spark, path, "ivf_sampled", Map("nlist" -> nlist.toString),
      Seq("" -> rows.schema), sides = Seq("_centroids" -> cent))
  }

  /** The `_centroids` side table of a stored vector index, collected. */
  private def centroidRows(spark: org.apache.spark.sql.SparkSession, path: String,
                           rec: IndexStore.Record): IndexedSeq[org.apache.spark.sql.Row] =
    IndexStore.side(spark, path, "_centroids", rec.schemas.get("_centroids"))
      .collect().toIndexedSeq

  /** Append a batch to a stored deterministic IVF index: assign the
    * batch vectors to the EXISTING persisted centroids (map-side
    * against the collected nlist-row table, same argmin rule as the
    * build) and append them to
    * their buckets at batch cost. Append-assign is the
    * standard IVF maintenance trade-off (FAISS `add` semantics): the
    * coarse quantizer is NOT refit, so if the appended data's
    * distribution drifts from the build-time corpus, buckets grow
    * unbalanced and recall at fixed nprobe degrades — the cure is a
    * periodic full `ivfSampledIndexWrite` rebuild, which refits the
    * centroids (and re-partitions every row). Against a fixed centroid
    * set, probe-after-append is exactly probe-after-rebuild-with-the-
    * same-centroids (spec-asserted).
    */
  def ivfSampledIndexAppend(spark: org.apache.spark.sql.SparkSession,
                            path: String, df: DataFrame,
                            idCol: String, vecCol: String): Unit = {
    val rec = indexRecord(spark, path, "ivf_sampled")
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val asg = centroidAssigner(centroidRows(spark, path, rec),
      rec.schemas("_centroids")("cid").dataType, 1)
    v.withColumn("__bucket", asg.home(col("v")))
      .select(col("id"), col("v"), col("__bucket"))
      .write.mode("append").partitionBy("__bucket").parquet(path)
  }

  /** Probe-only top-k against a stored deterministic IVF index: rank
    * the tiny persisted centroid table against the query (driver-side,
    * nlist rows), then a partition-pruned scan of the nprobe buckets.
    */
  def ivfSampledIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                          queryVec: Seq[Double], k: Int, nprobe: Int = 4,
                          excludeId: Option[Long] = None,
                          idColName: String = "id"): DataFrame = {
    val rec = indexRecord(spark, path, "ivf_sampled")
    val cents = centroidRows(spark, path, rec)
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val probes = cents.map { case (cid, c) =>
      (c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
    }.sortBy(identity).take(nprobe).map(_._2)
    import spark.implicits._
    val q = Seq(Tuple1(queryVec)).toDF("qv")
    IndexStore.read(spark, path, rec, "")
      .filter(col("__bucket").isin(probes.toIndexedSeq: _*))
      .filter(excludeId.map(col("id") =!= _).getOrElse(lit(true)))
      .crossJoin(broadcast(q))
      .select(col("id").as(idColName),
        round(cosine(col("v"), col("qv"), queryVec.size), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idColName))
      .limit(k)
  }

  /** The per-micro-batch body of STREAMING semantic near-dup dedup
    * against a vector index-at-rest — the embedding counterpart of the
    * minhash crawl loop (batch sibling: [[semanticDedup]] / SemDeDup,
    * Abbas et al. 2023; exactly-once mechanics:
    * [[graft.operators.Dedup.minHashIndexPut]]). Layout under
    * `indexDir`: `vecs/batch=N/__bucket=B/` (id, v), `_centroids`
    * (frozen — FAISS `add` semantics: appended batches assign against
    * the FIRST batch's fitted centroids, the documented drift trade of
    * [[ivfSampledIndexAppend]]), and the `_meta` record written after
    * the first admit landed ([[IndexStore]]).
    *
    * Per batch:
    *  1. cross-batch probe: assign each batch vector to its `nprobe`
    *     nearest persisted centroids and join only those bucket
    *     partitions of the index AS OF earlier batches (`batch <
    *     batchId` — partition pruning; a replayed batch is blind to
    *     its own half-applied vectors). A batch doc with cosine >= tau
    *     against any indexed vector is dropped — arrival order is
    *     canonical across batches, a crawl cannot re-rank history.
    *  2. intra-batch: home-bucket pairs at cosine >= tau → connected
    *     components → min-id survivor (the streaming minhash stage's
    *     rule; like batch SemDeDup, pairing is within-cluster only —
    *     the recall trade `nlist` buys).
    *  3. `admit(shippedIds)` writes survivors' home-bucket vectors
    *     batch-tagged with DYNAMIC PARTITION OVERWRITE — run it only
    *     after the output write commits, and only over ids that
    *     reached the output (the deferred-admit contract of
    *     [[graft.etl.CurationStages.runStreaming]]).
    *
    * Returns (survivors of `df`, admit).
    */
  def semanticCrawlBatch(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, df: DataFrame,
                         idCol: String, vecCol: String, tau: Double,
                         nlist: Int, nprobe: Int, batchId: Long)
  : (DataFrame, DataFrame => Unit) = {
    val nd = dimsOf(df, vecCol)
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .localCheckpoint(true)
    val existing = IndexStore.open(spark, indexDir, "sem_stream")
    // centroids: persisted and frozen after the first committed batch;
    // a replay of batch 0 refits from the same rows (md5-ranked sample
    // — deterministic), so the rebuild is idempotent
    val (centRows, centSchema) = streamCentroids(spark, indexDir, existing, v, nlist)
    // an EMPTY batch against a not-yet-created index has no centroids
    // to sample: nothing to dedup, nothing to admit (the empty-admit
    // guard — never bootstrap an index from a data-less batch)
    if (existing.isEmpty && centRows.isEmpty) return (df, _ => IterPin.free(v))
    val cent = spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), centSchema)
    // home bucket AND the nprobe probe set in ONE map-side pass
    // (centroidAssigner — no broadcast-expand, no window shuffle; the
    // r14 plan-shape fix): __ords carries the top-nprobe centroid
    // ordinals per vector, rank-1 is the home bucket
    val asg = centroidAssigner(centRows, centSchema("cid").dataType,
      math.max(1, nprobe))
    val assigned = v
      .withColumn("__ords", asg.nearestOrds(col("v")))
      .withColumn("__bucket", asg.cidOf(get(col("__ords"), lit(0))))
      .localCheckpoint(true)
    val home = assigned.drop("__ords")
    // 1. cross-batch drop (index as of batches before this one). An
    //    interrupted compaction (batch partitions deleted, tmp not yet
    //    renamed) is repaired BEFORE the read — a probe against the
    //    broken window would silently re-admit everything consolidated
    val pre = existing.fold(home) { rec =>
        val idx = IndexStore.read(spark, indexDir, rec, "vecs", Some(batchId))
          .select(col("__bucket"), col("v").as("iv"))
        // probe SHAPE (the minHashIndexLookup discipline): the index
        // must stream through ONE scan; the batch's exploded nprobe
        // assignments are the SMALL side and must be the broadcast
        // build. Catalyst cannot see that itself — `assigned` is
        // LogicalRDD-rooted (checkpointed) with default unknown-size
        // stats, so left alone the planner sort-merge-joins and
        // SHUFFLES THE WHOLE INDEX every micro-batch, a cost linear
        // in crawl age. Size-gated: a bulk batch too big to broadcast
        // falls back to the shuffle join, which is then the right plan.
        val probe = assigned
          .select(col("id"), col("v"), explode(col("__ords")).as("__o"))
          .select(col("id"), col("v"), asg.cidOf(col("__o")).as("__bucket"))
        val nProbeRows = v.count() * math.max(1, nprobe).toLong
        val estBytes = nProbeRows * (nd.toLong * 8 + 32)
        val small = nProbeRows <= 2000000L && estBytes <= 64L * 1024 * 1024
        val dup = vecProbeDups(idx, probe, nd, tau, small)
        home.join(if (small) broadcast(dup) else dup, Seq("id"), "left_anti")
      }
    // 2. intra-batch components over home-bucket tau-pairs — at the
    //    DISTINCT-VECTOR level: cosine and the bucket assignment are
    //    pure functions of the vector, so identical embeddings (a
    //    boilerplate crawl flood's shape after text→embedding) form an
    //    equivalence class. One representative per distinct vector
    //    runs the bucket self-join and the cosine evals; members ride
    //    STAR edges into the components (eligibility decided by the
    //    same cosine >= tau predicate the member pairs faced, so
    //    zero-norm clones drop identically). A clone flood costs
    //    |batch| edges, not |group|²/2 join rows + cosine evals — the
    //    minHashLshDedupEdges rule on vectors.
    val keyed = pre.select(col("id"), col("__bucket"), col("v"),
      xxhash64(col("v")).as("__vk1"), xxhash64(lit(1), col("v")).as("__vk2"))
    val vcanon = keyed.groupBy(col("__vk1"), col("__vk2"))
      .agg(min(col("id")).as("__vcid"))
    val canonPre = keyed.join(
      vcanon.select(col("__vcid").as("id")), Seq("id"), "left_semi")
    val l = canonPre.select(col("__bucket"), col("id").as("id1"), col("v").as("v1"))
    val r = canonPre.select(col("__bucket"), col("id").as("id2"), col("v").as("v2"))
    val repPairs = l.join(r, Seq("__bucket"))
      .filter(col("id1") < col("id2") &&
        cosine(col("v1"), col("v2"), nd) >= tau)
      .select(col("id1"), col("id2"))
    val selfOk = canonPre.filter(cosine(col("v"), col("v"), nd) >= tau)
      .select(col("id").as("__vcid"))
    val star = keyed.join(vcanon, Seq("__vk1", "__vk2"))
      .filter(col("id") =!= col("__vcid"))
      .join(selfOk, Seq("__vcid"), "left_semi")
      .select(col("__vcid").as("id1"), col("id").as("id2"))
    val pairs = star.unionByName(repPairs)
    val comps = Components.connectedComponents(pairs, "id1", "id2")
    val nonCanon = comps
      .filter(col("id") =!= col("comp")).select(col("id"))
    val keep = pre.join(nonCanon, Seq("id"), "left_anti")
      .localCheckpoint(true)
    // the keep checkpoint consumed the component labels — free their
    // pin (distributed regime; no-op under the driver cap)
    IterPin.free(comps)
    val survivors = df.join(keep.select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
    val admit: DataFrame => Unit = shipped => {
      val adm = keep.join(shipped.select(col(shipped.columns.head).as("id")),
          Seq("id"), "left_semi")
        .localCheckpoint(true)
      // an EMPTY admit (a later stage dropped every survivor) writes
      // nothing: the NEXT non-empty batch refits centroids from its own
      // rows exactly as a first batch would
      vecAdmit(spark, indexDir, adm, batchId, nlist, cent)
      // admit is the batch's LAST consumer of every pin this operator
      // took (the caller materialized survivors into its own checkpoint
      // before the output write — the deferred-admit contract): free
      // them deterministically instead of waiting on GC
      IterPin.free(adm)
      IterPin.free(keep)
      IterPin.free(assigned)
      IterPin.free(v)
    }
    (survivors, admit)
  }

  /** The vector-index probe core, exposed for plan gating: batch ids
    * whose vector is within cosine >= tau of any indexed vector in a
    * probed bucket. `small = true` (the normal micro-batch regime,
    * size-gated by the caller) broadcasts the BATCH probe side so the
    * at-rest index streams through one partition-pruned scan with no
    * shuffle.
    */
  private[graft] def vecProbeDups(idx: DataFrame, probe: DataFrame,
                                  nd: Int, tau: Double,
                                  small: Boolean): DataFrame =
    idx.join(if (small) broadcast(probe) else probe, Seq("__bucket"))
      .filter(cosine(col("v"), col("iv"), nd) >= tau)
      .select(col("id")).distinct()

  /** Seed or bulk-append ALL of `df`'s vectors into a STREAMING vector
    * index ([[semanticCrawlBatch]]'s layout) — no dedup, the bootstrap
    * arm (a crawl's own admits stay survivor-only). The FIRST call
    * fits the frozen centroids on ITS rows (the deterministic
    * md5-ranked sample); later calls assign against the stored
    * centroids — FAISS `add` semantics, the drift trade
    * [[streamIndexDrift]] watches. Batch-tag a seed `-1` to sort
    * before every live micro-batch, or any id below the stream's next
    * batch. Empty frames write nothing.
    */
  def vecIndexPut(spark: org.apache.spark.sql.SparkSession,
                  indexDir: String, df: DataFrame,
                  idCol: String, vecCol: String, batch: Long,
                  nlist: Int = 64): Unit = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .localCheckpoint(true)
    if (v.isEmpty) { IterPin.free(v); return }
    val (centRows, centSchema) = streamCentroids(spark, indexDir,
      IndexStore.open(spark, indexDir, "sem_stream"), v, nlist)
    val cent = spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), centSchema)
    // map-side home-bucket assignment (centroidAssigner): the write
    // plan is scan → project → sort-for-partitioning, zero Exchange —
    // PlanSpec gates this shape
    val asg = centroidAssigner(centRows, centSchema("cid").dataType, 1)
    vecAdmit(spark, indexDir, v.withColumn("__bucket", asg.home(col("v")))
      .select(col("id"), col("v"), col("__bucket")), batch, nlist, cent)
    IterPin.free(v) // the write was the pin's last consumer
  }

  /** A streaming vector index's frozen centroids (rows and schema): the
    * stored ones, or — before the index exists — the deterministic
    * md5-ranked sample of `v`. */
  private def streamCentroids(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String, existing: Option[IndexStore.Record],
                              v: DataFrame, nlist: Int)
  : (IndexedSeq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType) =
    existing match {
      case Some(rec) => (centroidRows(spark, indexDir, rec), rec.schemas("_centroids"))
      case None =>
        val plan = sampledCentroids(v, nlist)
        (plan.collect().toIndexedSeq, plan.schema)
    }

  /** Admit (id, v, __bucket) rows as `batch` of a streaming vector
    * index; the first admit also writes the frozen centroids `cent`. */
  private def vecAdmit(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                       rows: DataFrame, batch: Long, nlist: Int, cent: DataFrame): Unit =
    IndexStore.admit(spark, indexDir, "sem_stream", Map("nlist" -> nlist.toString),
      batch, Seq(IndexStore.Part("vecs", rows, Seq("__bucket"))),
      sides = Seq("_centroids" -> cent))

  /** Drift audit for a STREAMING vector index
    * ([[semanticCrawlBatch]]'s layout): the index's centroids are
    * FROZEN at the first committed batch (FAISS `add` semantics), so
    * as a long crawl's distribution shifts, later batches land ever
    * farther from their assigned centroids — bucketing degrades and
    * the nprobe-pruned probe starts missing true neighbors near
    * Voronoi boundaries. This audit is the cheap watchdog: per batch,
    * the mean squared distance of each stored vector to its HOME
    * centroid, compared against the FIRST audit's earliest-batch mean
    * as the baseline. `alert = drift_ratio > thresholdRatio` (when the
    * baseline is 0 — every first-batch vector IS a centroid — any
    * later nonzero mean alerts). Fire → schedule [[refitStreamIndex]].
    *
    * The baseline is PINNED: the first audit persists its
    * earliest-batch (batch, n_vecs, mean) row to a `_drift_baseline`
    * sidecar (tmp + checked rename) and every later audit compares
    * against that row, never against whatever partition currently
    * sorts first — once `compact_every` folds batches 0..K under
    * `batch=-1`, the earliest LIVE partition's mean is the blend over
    * all compacted batches (post-drift ones included), which would
    * silently creep the reference toward the historical average and
    * desensitize the alert on exactly the long crawls it exists for.
    * [[refitStreamIndex]] deletes the sidecar (new centroids = new
    * drift epoch), so the next audit re-pins.
    *
    * Scale shape: one scan of `vecs` joined against the broadcast
    * nlist-row centroid table, then a groupBy on the batch partition
    * key — no driver data beyond the result (one row per batch); the
    * sidecar is one row, written once per index lifetime.
    */
  def streamIndexDrift(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String,
                       thresholdRatio: Double = 4.0,
                       onlyBatches: Option[Seq[Long]] = None): DataFrame = {
    val rec = indexRecord(spark, indexDir, "sem_stream")
    val cent = IndexStore.side(spark, indexDir, "_centroids", rec.schemas.get("_centroids"))
    // `onlyBatches` = the INCREMENTAL audit (the streaming drift
    // watchdog's arm): restrict the scan to the named batch partitions
    // — partition pruning, so a periodic audit costs O(named batches),
    // not O(index). The caller must include the EARLIEST live batch,
    // which is this audit's baseline row; values for the named batches
    // are identical to the full audit's (per-batch means are
    // independent). None = audit everything (the CALL surface / ann14).
    // The read repairs an interrupted compaction first — a broken
    // window would report drift over a partial index.
    val vecs0 = IndexStore.read(spark, indexDir, rec, "vecs")
    val vecs = onlyBatches.fold(vecs0)(bs =>
      vecs0.filter(col("batch").isin(bs.distinct: _*)))
    val nd = dimsOf(vecs, "v")
    // the recorded schema types `__bucket` as the id column, as `cid`
    val perBatch = vecs
      .join(broadcast(cent), vecs("__bucket") === cent("cid"))
      .select(col("batch"), sqDist(col("v"), col("c"), nd).as("__d"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_vecs"),
        avg(col("__d")).as("__mean"))
    // pinned baseline: read the sidecar, or (first audit) pin the
    // earliest scanned batch's UNROUNDED mean — identical to the old
    // earliest-live-partition rule on a fresh index, immune to
    // compaction's batch=-1 fold afterwards
    val basePath = new org.apache.hadoop.fs.Path(s"$indexDir/_drift_baseline")
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseVal: Option[Double] =
      if (fs.exists(basePath)) Some(storedBaseline(spark, indexDir))
      else
        perBatch.orderBy(col("batch"))
          .select(col("batch").cast("long"), col("n_vecs"), col("__mean"))
          .head(1).headOption.map { r =>
            val b = if (r.isNullAt(2)) 0.0 else r.getDouble(2)
            pinDriftBaseline(spark, fs, indexDir, r.getLong(0),
              r.getLong(1), b)
          }
    baseVal match {
      case Some(b) =>
        val baseCol = lit(b)
        perBatch.select(col("batch"), col("n_vecs"),
            round(col("__mean") + lit(1e-11), 6).as("mean_dist"),
            round(baseCol + lit(1e-11), 6).as("baseline_dist"),
            when(baseCol > 0,
              round(col("__mean") / baseCol + lit(1e-11), 4))
              .as("drift_ratio"),
            when(baseCol > 0, col("__mean") / baseCol > thresholdRatio)
              .otherwise(col("__mean") > 0).as("alert"))
          .orderBy(col("batch"))
      case None => // nothing scanned and nothing pinned: empty report
        perBatch.limit(0)
          .select(col("batch"), col("n_vecs"),
            lit(0.0).as("mean_dist"), lit(0.0).as("baseline_dist"),
            lit(0.0).as("drift_ratio"), lit(false).as("alert"))
    }
  }

  /** Pin the `_drift_baseline` sidecar via tmp + checked rename and
    * return the value THIS audit must compare against. Concurrency
    * contract (spec'd): the first writer wins the rename; a concurrent
    * LOSER — whether it loses at the pre-check or at the rename itself
    * — deletes its tmp and ADOPTS the winner's stored value, so every
    * audit in a race reports against the one pinned epoch rather than
    * its own candidate (two racing first audits can legitimately
    * compute different candidates when given different `onlyBatches`
    * windows). A crash between the tmp write and the rename leaves
    * only the orphan tmp, which a later audit sweeps by prefix glob
    * (age-gated so a live racer's in-flight tmp is never deleted from
    * under it) — no torn sidecar is ever observable because every
    * writer writes its OWN uniquely-named tmp (no two racers ever
    * share a tmp path, so no racer can rename another's
    * partially-written parquet) and the rename itself is atomic on
    * every Hadoop filesystem that supports rename at all. The
    * `fs.exists(basePath)` pre-check runs BEFORE the tmp write, so a
    * pre-check loser adopts immediately without paying a write job it
    * would only delete — but the orphan sweep runs BEFORE that
    * pre-check, so a tmp orphaned by a crash AFTER the baseline
    * already exists is still cleaned by the next audit instead of
    * accumulating forever behind the adopt-winner fast path.
    *
    * `graft.drift.orphanAgeMs` (session conf, default 10 min) sets the
    * age gate — operator control for filesystems whose writes can
    * legitimately outlive the default (a sweep of a LIVE racer's tmp
    * fails that racer's write job loudly, never tears the sidecar).
    */
  private[graft] def pinDriftBaseline(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, indexDir: String,
      batch: Long, nVecs: Long, mean: Double): Double = {
    val basePath = new org.apache.hadoop.fs.Path(s"$indexDir/_drift_baseline")
    def adoptWinner(): Double = storedBaseline(spark, indexDir)
    // sweep ORPHAN tmps (a crash between write and rename) by prefix,
    // AGE-GATED: a tmp still minutes young may be a LIVE racer's
    // in-flight write — deleting it mid-write fails that racer's write
    // job (its task output dir vanishes) or its claimRename
    // (src-missing before any winner exists, which the IOException
    // handler correctly rethrows). A genuine crash orphan is, by the
    // time anyone re-audits, old; a 1-row parquet write is not. Runs
    // regardless of whether a winner already exists (one listStatus):
    // a crash after the pin leaves an orphan too.
    val dirPath = new org.apache.hadoop.fs.Path(indexDir)
    val orphanAgeMs = spark.conf
      .get("graft.drift.orphanAgeMs", (10L * 60L * 1000L).toString).toLong
    require(orphanAgeMs >= 0L,
      s"graft.drift.orphanAgeMs must be >= 0, got $orphanAgeMs")
    val now = System.currentTimeMillis()
    if (fs.exists(dirPath))
      fs.listStatus(dirPath).foreach { st =>
        if (st.getPath.getName.startsWith(".drift_baseline_tmp") &&
            now - st.getModificationTime > orphanAgeMs)
          fs.delete(st.getPath, true)
      }
    if (fs.exists(basePath)) return adoptWinner()
    val tmp = new org.apache.hadoop.fs.Path(
      s"$indexDir/.drift_baseline_tmp-${java.util.UUID.randomUUID()}")
    import spark.implicits._
    Seq((batch, nVecs, mean))
      .toDF("batch", "n_vecs", "baseline_dist")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (claimRename(fs, tmp, basePath)) mean
    else { fs.delete(tmp, true); adoptWinner() }
  }

  private def storedBaseline(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String): Double =
    IndexStore.side(spark, indexDir, "_drift_baseline").head()
      .getAs[Double]("baseline_dist")

  /** Atomically CLAIM `dst` by renaming `tmp` onto it; true = this
    * caller won. Deliberately FileContext.rename, not
    * FileSystem.rename: the latter's POSIX semantics move the source
    * INTO an existing destination directory (nesting the loser's tmp
    * inside the winner's sidecar — spec-pinned) instead of failing,
    * which makes a lost race undetectable; FileContext without
    * Rename.OVERWRITE fails on any existing destination, on local
    * filesystems and HDFS alike.
    */
  private[graft] def claimRename(fs: org.apache.hadoop.fs.FileSystem,
                                 tmp: org.apache.hadoop.fs.Path,
                                 dst: org.apache.hadoop.fs.Path): Boolean =
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(tmp, dst)
      true
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no AbstractFileSystem binding for this scheme (some
        // object-store configs ship only the FileSystem impl): fall
        // back to FileSystem.rename and detect its move-INTO-an-
        // existing-directory outcome as the lost race — the nested
        // path is exactly where a lost POSIX rename lands the source
        // (spec-pinned in the sidecar race test)
        BatchCompaction.renameOrThrow(fs, tmp, dst)
        val nested = new org.apache.hadoop.fs.Path(dst, tmp.getName)
        if (fs.exists(nested)) { fs.delete(nested, true); false } else true
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException =>
        // some filesystems surface the existing-destination failure as
        // a generic IOException — a winner being present IS that case
        if (fs.exists(dst)) false else throw e
    }

  /** OFFLINE centroid refit for a streaming vector index (run while
    * the owning stream is STOPPED — the single-administrative-caller
    * contract of compaction and catalog prune): re-fit the nlist
    * centroids over ALL stored vectors (the same deterministic
    * md5-ranked sample every sampled-IVF operator uses), reassign
    * every vector to its new home bucket, and rewrite `vecs/`
    * BATCH-PRESERVING — tags, ids, and vector payloads are untouched,
    * only `__bucket` changes, so the `batch < batchId` as-of contract
    * and every admitted row survive the refit bit-identically.
    *
    * Crash safety: the reassigned rows are fully written to a hidden
    * `.vecs_refit` and the new centroids to `.centroids_refit` BEFORE
    * the `_refit_commit` marker appears; the swap (old dirs out, new
    * dirs in) runs after, and a rerun of refit (or any crash)
    * completes an interrupted swap from the marker. The `_meta` record
    * is untouched — nlist, the kind and the schemas never change.
    */
  def refitStreamIndex(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val rec = indexRecord(spark, indexDir, "sem_stream")
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, "_refit_commit")
    val tmpVecs = new Path(root, ".vecs_refit")
    val tmpCent = new Path(root, ".centroids_refit")
    val liveVecs = new Path(root, "vecs")
    val liveCent = new Path(root, "_centroids")
    def swap(): Unit = {
      // idempotent completion: every step guards on existence; renames
      // are CHECKED (a false return with the marker then deleted would
      // strand the refit dirs as unrecognized garbage — the
      // BatchCompaction.renameOrThrow rationale)
      if (fs.exists(tmpVecs)) {
        fs.delete(liveVecs, true)
        BatchCompaction.renameOrThrow(fs, tmpVecs, liveVecs)
      }
      if (fs.exists(tmpCent)) {
        fs.delete(liveCent, true)
        BatchCompaction.renameOrThrow(fs, tmpCent, liveCent)
      }
      // new centroids = a new drift epoch: drop the pinned
      // [[streamIndexDrift]] baseline so the next audit re-pins
      // against distances to the REFIT centroids (the old baseline
      // measured the old ones)
      fs.delete(new Path(root, "_drift_baseline"), true)
      fs.delete(marker, false)
      ()
    }
    if (fs.exists(marker)) { swap(); return } // finish an interrupted refit
    fs.delete(tmpVecs, true); fs.delete(tmpCent, true) // pre-commit garbage
    // the read repairs a mid-compaction index first: a refit over one
    // would PERSIST the missing rows into the rewritten vecs
    val vecs = IndexStore.read(spark, indexDir, rec, "vecs")
      .select(col("id"), col("v"), col("batch"))
    // centroid refit pinned driver-side (nlist rows), reassignment
    // map-side per ROW — same result as the old per-(id, batch) window
    // (assignment is a pure function of the vector), zero Exchange
    val centPlan = sampledCentroids(vecs.select(col("id"), col("v")), rec.int("nlist"))
    val centRows = centPlan.collect().toIndexedSeq
    val cent = spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), centPlan.schema)
    val asg = centroidAssigner(centRows, centPlan.schema("cid").dataType, 1)
    vecs.withColumn("__bucket", asg.home(col("v")))
      .select(col("id"), col("v"), col("batch"), col("__bucket"))
      .write.mode("overwrite").partitionBy("batch", "__bucket")
      .parquet(tmpVecs.toString)
    cent.coalesce(1).write.mode("overwrite").parquet(tmpCent.toString)
    val out = fs.create(marker, true)
    try out.write("refit".getBytes("UTF-8")) finally out.close()
    swap()
  }

  /** Product-quantization ADC top-k (Jégou et al. 2011): split the
    * d-dim space into `m` subspaces, quantize each sub-vector to its
    * nearest of `ksub` sub-centroids (codes: m bytes per vector —
    * a 64-dim float corpus compresses 32×), then score candidates by
    * asymmetric distance: the query precomputes an m×ksub table of
    * per-subspace squared distances and each vector's approximate
    * distance is a pure m-term table-lookup sum over its codes.
    *
    * Codebook = the deterministic md5-ranked sample (the ann03/dd14
    * rule) subsliced per subspace, so an external SQL engine replays
    * codebook, codes, and ADC verbatim — the auditable variant, with
    * the same recall-ledger role the sampled IVF plays for `ivfTopK`.
    *
    * Scale shape: encode is MAP-ONLY — a native codegen'd expression
    * against the plan-constant codebook (no join, no shuffle, no HOF
    * dispatch); scoring is a map-only lookup-sum (cost independent of
    * dimensionality) followed by TakeOrderedAndProject. The only
    * driver work is the ksub-row centroid collect and the one-row
    * query fetch. At index scale the codes column (m bytes/vector) is
    * what you persist; the float vectors stay cold.
    *
    * Returns top-k by (rounded ADC distance, id) with the exact
    * cosine of each survivor alongside — the refine column a
    * re-ranking stage consumes.
    */
  def pqSampledTopK(df: DataFrame, idCol: String, vecCol: String,
                    queryVecId: Long, k: Int, m: Int = 8,
                    ksub: Int = 16): DataFrame = {
    val nd = dimsOf(df, vecCol)
    require(m > 0 && nd % m == 0, s"dims $nd not divisible into $m subspaces")
    val sd = nd / m
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // ascending-cid codebook rows: the kernel's first-wins argmin then
    // equals the oracle's (distance, cid) tie ordering
    val cent = sampledCentroids(v, ksub).collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue,
        r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val codebook: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mi => cent.map(_._2.slice(mi * sd, (mi + 1) * sd)))
    val qv = v.filter(col("id") === queryVecId).head().getSeq[Double](1).toArray
    val lut: Array[Array[Double]] = Array.tabulate(m) { mi =>
      codebook(mi).map { c =>
        var d = 0.0
        var t = 0
        while (t < sd) { val x = qv(mi * sd + t) - c(t); d += x * x; t += 1 }
        d
      }
    }
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    val q = v.filter(col("id") === queryVecId).select(col("v").as("qv"))
    v.filter(col("id") =!= queryVecId)
      .withColumn("__codes",
        column(graft.functions.PqEncode(expression(col("v")), codebook)))
      .withColumn("__adc",
        column(graft.functions.PqAdc(expression(col("__codes")), lut)))
      .crossJoin(broadcast(q))
      .select(col("id").as(idCol),
        round(col("__adc") + lit(1e-11), 6).as("adc_dist"),
        round(cosine(col("v"), col("qv"), nd), 6).as("cos_sim"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** BATCHED exact top-k: many query vectors against the corpus in one
    * plan — the realistic retrieval shape (queries arrive in batches,
    * and per-query jobs would pay the scheduler floor per query). The
    * query batch is broadcast; the corpus is scanned ONCE; per-query
    * ranking goes through the skew-safe salted top-k (never one task
    * per query with a global sort). Cost: one corpus scan × |batch|
    * dot products, independent of how many queries share the batch.
    */
  def batchTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val nd = dimsOf(corpus, vecCol)
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val scored = corpus
      .select(col(idCol).as("corpus_id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("v"), col("qv"), nd), 6).as("cos_sim"))
    Sampling.topKPerGroup(scored, "query_id", "cos_sim", k, "corpus_id")
      .drop("rank")
  }

  /** SEMANTIC benchmark decontamination — the embedding-space sibling
    * of the n-gram `Dedup.decontaminate`: every (train, benchmark)
    * pair whose exact cosine meets `tau`, catching paraphrased eval
    * leakage that shares no exact n-grams. The benchmark side is
    * BROADCAST (eval sets are small by nature — the same asymmetry
    * dd09 exploits for gram sets), so the plan is one scan of the
    * train corpus with a broadcast nested-loop — no shuffle, no index,
    * exact results, which is THE 100 TB shape for a small
    * contamination probe set. For benchmark sets too large to
    * broadcast, route through the LSH/IVF candidate indexes instead.
    */
  def semanticDecontaminate(train: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            tau: Double): DataFrame = {
    val nd = dimsOf(train, vecCol)
    val b = bench.select(col(idCol).as("bench_id"), asDouble(col(vecCol)).as("bv"))
    train.select(col(idCol).as("train_id"), asDouble(col(vecCol)).as("tv"))
      .crossJoin(broadcast(b))
      .select(col("train_id"), col("bench_id"),
        round(cosine(col("tv"), col("bv"), nd), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }

  /** Persist an IVF-PQ index (the FAISS IVFPQ deployment shape, on raw
    * vectors rather than residuals — the auditable simplification, same
    * determinism rule as everything sampled here): coarse buckets from
    * the nlist md5-sampled centroids (partition-pruned at probe time),
    * PQ codes from the ksub-sampled codebook (m ints per vector). The
    * persisted corpus is (id, codes) ONLY — m small ints per vector
    * instead of d floats is the memory/IO collapse that makes
    * billion-vector search feasible; the float vectors stay in the
    * source table for optional re-ranking. `_centroids` holds the
    * coarse table, `_codebook` the per-(subspace, rank) sub-centroids —
    * both self-describing, so the probe needs no side-channel params.
    */
  def pqIndexWrite(df: DataFrame, idCol: String, vecCol: String,
                   path: String, nlist: Int = 16, m: Int = 8,
                   ksub: Int = 16): Unit = {
    val spark = df.sparkSession
    val nd = dimsOf(df, vecCol)
    require(m > 0 && nd % m == 0, s"dims $nd not divisible into $m subspaces")
    val sd = nd / m
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // coarse centroids pinned driver-side (nlist rows), as in
    // ivfSampledIndexWrite: one corpus pass for the sample
    val centPlan = sampledCentroids(v, math.max(nlist, ksub))
    val centRows = centPlan.collect().toIndexedSeq
    // curated error for the empty corpus instead of centroidAssigner's
    // bare require: an "empty index" is never the right outcome here —
    // data-less parquet dirs wedge every later probe on schema
    // inference (the empty-admit rule)
    require(centRows.nonEmpty,
      "cannot build an IVF-PQ index over an empty corpus — no rows to " +
        "sample centroids from")
    val coarse = spark.createDataFrame(
      spark.sparkContext.parallelize(centRows.take(nlist), 1), centPlan.schema)
    val codebook: Array[Array[Array[Double]]] = {
      val sorted = centRows.take(ksub)
        .map(r => (r.get(0).asInstanceOf[Number].longValue,
          r.getSeq[Double](1).toArray)).sortBy(_._1)
      Array.tabulate(m)(mi => sorted.map(_._2.slice(mi * sd, (mi + 1) * sd)).toArray)
    }
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    // both quantizers map-side in ONE codegen stage: coarse bucket via
    // the plan-constant centroid matrix, PQ codes via the codebook
    val asg = centroidAssigner(centRows.take(nlist),
      centPlan.schema("cid").dataType, 1)
    val rows = v.withColumn("__bucket", asg.home(col("v")))
      .select(col("id"), col("v"), col("__bucket"))
      .withColumn("codes",
        column(graft.functions.PqEncode(expression(col("v")), codebook)))
      .select(col("id"), col("codes"), col("__bucket"))
    rows.write.mode("overwrite").partitionBy("__bucket").parquet(path)
    // self-describing codebook: (subspace, code rank, sub-centroid)
    import spark.implicits._
    val cb = (0 until m).flatMap(mi => codebook(mi).zipWithIndex.map {
      case (sc, j) => (mi, j, sc.toSeq)
    }).toDF("m", "j", "sc")
    IndexStore.create(spark, path, "ivf_pq", Map("nlist" -> nlist.toString),
      Seq("" -> rows.schema), sides = Seq("_centroids" -> coarse, "_codebook" -> cb))
  }

  /** Probe-only PQ top-k against a stored IVF-PQ index: rank the tiny
    * coarse-centroid table against the query (driver, nlist rows),
    * build the m×ksub ADC lookup table (driver, one pass over the
    * persisted codebook), then a partition-pruned scan of the nprobe
    * buckets where each candidate costs an m-term table-lookup sum —
    * no float vector is read at all.
    */
  def pqIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                  queryVec: Seq[Double], k: Int, nprobe: Int = 4,
                  excludeId: Option[Long] = None,
                  idColName: String = "id"): DataFrame = {
    val rec = indexRecord(spark, path, "ivf_pq")
    val cents = centroidRows(spark, path, rec)
      .map(r => (r.get(0).asInstanceOf[Number].longValue, r.getSeq[Double](1)))
    val probes = cents.map { case (cid, c) =>
      (c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
    }.sortBy(identity).take(nprobe).map(_._2)
    val cb = IndexStore.side(spark, path, "_codebook", rec.schemas.get("_codebook")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = cb.map(_._1).max + 1
    val sd = cb.head._3.length
    val lut: Array[Array[Double]] = {
      val a = Array.ofDim[Double](m, cb.count(_._1 == 0))
      cb.foreach { case (mi, j, sc) =>
        var d = 0.0
        var t = 0
        while (t < sd) { val x = queryVec(mi * sd + t) - sc(t); d += x * x; t += 1 }
        a(mi)(j) = d
      }
      a
    }
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    IndexStore.read(spark, path, rec, "")
      .filter(col("__bucket").isin(probes.toIndexedSeq: _*))
      .filter(excludeId.map(col("id") =!= _).getOrElse(lit(true)))
      .withColumn("__adc",
        column(graft.functions.PqAdc(expression(col("codes")), lut)))
      .select(col("id").as(idColName),
        round(col("__adc") + lit(1e-11), 6).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idColName))
      .limit(k)
  }

  /** Label-noise detection by k-nearest-neighbor label agreement
    * (the confident-learning/cleanlab-style screen): for every vector,
    * take its k nearest neighbors by exact cosine (ties broken by id),
    * majority-vote their labels (ties to the smaller label), and
    * report per-label how often the vote agrees with the stored label.
    * Low agreement for a label means its region of embedding space is
    * contaminated — mislabeled rows or a label that isn't separable —
    * the standard pre-training-data audit before using labels to
    * stratify or filter.
    *
    * This is the EXACT all-pairs baseline (the form an external SQL
    * oracle can replay verbatim, and the truth set
    * `knnAgreementAudit` measures recall against); at corpus scale run
    * `knnLabelAgreementLsh` — the SAME vote-and-aggregate over
    * hamming<=1 multi-probe LSH candidates, a bucketed equi-join with
    * no n^2 stage. Returns (labelCol, n_vecs, n_agree, agree_rate).
    */
  def knnLabelAgreement(df: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, k: Int = 5): DataFrame = {
    val nd = dimsOf(df, vecCol)
    val v = normalizedVectors(df, idCol, vecCol, labelCol, nd)
    labelAgreement(majorityVote(exactTopkNeighbors(v, nd, k)), labelCol)
  }

  /** Candidate-based kNN label agreement — the corpus-scale form the
    * exact all-pairs baseline documents: candidate neighbors come from
    * a hamming<=1 multi-probe LSH self-join (each vector's `planes`-bit
    * hyperplane signature is exploded into its 1+planes probe buckets
    * and equi-joined against the corpus signatures — the same bucketed
    * candidate shape as `lshTopK`, but corpus x corpus instead of
    * query x corpus, with NO cross join anywhere). Vote and aggregation
    * are identical to the exact form; a vector with no hamming<=1
    * neighbor drops out of the audited population (reported as
    * coverage by `knnAgreementAudit`).
    *
    * Scale: the probe explode is a fixed (1+planes)x fan-out, the join
    * is an equi-join on a `planes`-bit key, and expected bucket size is
    * n / 2^planes — `planes` is the cost/recall knob; size it so
    * buckets stay bounded at the corpus's row count (8 is the
    * bench-scale demo value, a 100 TB corpus wants 24+). That
    * expectation assumes a deduplicated corpus: a clone flood
    * (identical vectors sign identically) piles one bucket quadratically
    * here, because the vote semantics are PER ROW — each clone
    * legitimately owns a k-neighbor list, so there is no
    * exactness-preserving collapse like the dedup operators' (votes
    * and labels differ per member). Run exact/embedding dedup before
    * auditing label agreement on a corpus that may contain clones —
    * which is the right audit order anyway (a clone cluster's
    * self-votes would drown the signal the screen looks for).
    */
  def knnLabelAgreementLsh(df: DataFrame, idCol: String, vecCol: String,
                           labelCol: String, k: Int = 5,
                           planes: Int = 8, seed: Int = 42): DataFrame = {
    val nd = dimsOf(df, vecCol)
    val v = normalizedVectors(df, idCol, vecCol, labelCol, nd)
    labelAgreement(majorityVote(topkNeighbors(
      lshCandidatePairs(v, nd, planes, seed), k)), labelCol)
  }

  /** One-row audit of the candidate-based screen against the exact
    * baseline (the dd02/dd13 recall-ledger pattern): runs BOTH forms
    * over the same normalized corpus and reports
    *   n_vecs        vectors voted by the exact form (the population),
    *   n_cand_voted  vectors that had at least one hamming<=1 candidate,
    *   n_topk_pairs / n_topk_hit / nbr_recall
    *                 exact top-k neighbor edges and the fraction the
    *                 candidate top-k reproduces,
    *   agree_exact / agree_cand / agree_delta
    *                 overall vote-agreement rates and their difference.
    * Fully replayable by an external SQL oracle: signatures are the
    * md5 sign table, candidates are bit_count(xor)<=1, cosines round
    * to 6 before ranking.
    */
  def knnAgreementAudit(df: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, k: Int = 5,
                        planes: Int = 8, seed: Int = 42): DataFrame = {
    val nd = dimsOf(df, vecCol)
    val v = normalizedVectors(df, idCol, vecCol, labelCol, nd)
    // pin both neighbor lists (n*k skinny rows each): every downstream
    // branch — recall join, majority, agreement — would otherwise
    // re-run the n^2 / candidate pair scans per referencing subtree
    val exactNb = exactTopkNeighbors(v, nd, k).localCheckpoint(true)
    val candNb = topkNeighbors(lshCandidatePairs(v, nd, planes, seed), k)
      .localCheckpoint(true)
    val aggE = majorityVote(exactNb)
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("vote") === col("lbl"), 1L).otherwise(0L)).as("__ae"))
    val aggC = majorityVote(candNb)
      .agg(count(lit(1)).as("n_cand_voted"),
        sum(when(col("vote") === col("lbl"), 1L).otherwise(0L)).as("__ac"))
    val pairsE = exactNb.agg(count(lit(1)).as("n_topk_pairs"))
    // exact top-k edges the candidate top-k reproduces; both sides are
    // unique on (id, id2) so semi-join count == intersection size
    val hit = exactNb.select(col("id"), col("id2"))
      .join(candNb.select(col("id"), col("id2")), Seq("id", "id2"), "left_semi")
      .agg(count(lit(1)).as("n_topk_hit"))
    // degenerate corpora (empty / single vector / all zero-norm) leave
    // the denominators at 0 — emit an explicit 0.0 rate, not null
    def rate(num: Column, den: Column): Column =
      round(when(den > 0, num * lit(1.0) / den).otherwise(lit(0.0))
        + lit(1e-11), 6)
    aggE.crossJoin(aggC).crossJoin(pairsE).crossJoin(hit)
      .select(col("n_vecs"), col("n_cand_voted"),
        col("n_topk_pairs"), col("n_topk_hit"),
        rate(col("n_topk_hit"), col("n_topk_pairs")).as("nbr_recall"),
        rate(col("__ae"), col("n_vecs")).as("agree_exact"),
        rate(col("__ac"), col("n_cand_voted")).as("agree_cand"))
      .withColumn("agree_delta",
        round(col("agree_cand") - col("agree_exact") + lit(1e-11), 6))
  }

  // ---------------- shared kNN vote pipeline ----------------

  /** Normalized (id, lbl, v) corpus for the kNN vote pipeline.
    *
    * Pre-normalize ONCE so the per-pair kernel is a bare dot product
    * (cosine() would recompute both norms on every pair: 3x the flops
    * on the pair hot path). The localCheckpoint is the materialization
    * barrier: without it CollapseProject inlines the interpreted
    * transform() lambda into the join output and the normalization
    * re-runs on every PAIR row instead of n times — measured 2.6x
    * slower than not normalizing at all. The pinned table is n skinny
    * rows (it is also the broadcast input).
    *
    * Null and zero-norm vectors are EXCLUDED here: a zero vector has
    * no direction (its cosine is 0/0 = NaN), and letting NaNs into the
    * pair stream silently drops the vector from voting mid-pipeline;
    * excluding it up front makes the audited population explicit.
    */
  private[operators] def normalizedVectors(df: DataFrame, idCol: String, vecCol: String,
                                labelCol: String, nd: Int): DataFrame = {
    // native L2 norm (one eval per consumer): the unrolled element_at
    // chain was inlined by CollapseProject into the zero-norm filter
    // AND all nd division slots — ~nd² expression nodes per row, past
    // codegen limits into interpreted eval (measured ~3 s per 2k-row
    // corpus load; same left-to-right fold, bit-identical)
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    def norm(c: Column) = column(graft.functions.VectorNorm(expression(c)))
    // guarded spread (Par.spread), not an unconditional repartition:
    // the corpus parquet often arrives as ONE partition at bench row
    // counts, and the checkpoint below would run the whole norm+divide
    // projection in a single task (the exactPairs discipline;
    // downstream consumers are joins/aggregates and the fused kernel's
    // selection is a strict total order on (cosine, id), so row order
    // is immaterial). The guard matters at scale: a well-split corpus
    // must NOT pay a corpus-wide round-robin shuffle plus a second
    // copy in the localCheckpoint just to normalize — spread no-ops
    // unless scan parallelism is below half the session target.
    Par.spread(df.select(col(idCol).as("id"), col(labelCol).as("lbl"),
      asDouble(col(vecCol)).as("__raw")))
      .filter(col("__raw").isNotNull)
      .withColumn("__norm", norm(col("__raw")))
      .filter(col("__norm") > 0)
      // __raw rides along so signature paths can sign the ORIGINAL
      // vector: sign is scale-invariant in exact arithmetic, but a
      // near-zero hyperplane dot can flip under the normalized floats,
      // diverging from the index convention and the oracle replay.
      // The division is ONE native kernel (VectorDivScalar) instead of
      // transform() or an unrolled array constructor: the lambda was
      // interpreted CodegenFallback dispatch per ELEMENT, and the
      // unrolled form re-inlined __norm per slot (see the norm note).
      // Same IEEE divisions in the same order, bit-identical.
      .select(col("id"), col("lbl"), col("__raw"),
        column(graft.functions.VectorDivScalar(
          expression(col("__raw")), expression(col("__norm")))).as("v"))
      .localCheckpoint(true)
  }

  /** One native [[graft.functions.DotProduct]] node, not the 2·nd-deep
    * unrolled element_at/Add chain: the pair stream's hosting stage
    * (broadcast nested-loop join → ObjectHashAggregate) joins no
    * whole-stage-codegen region, so the unrolled chain evaluated
    * INTERPRETED — ~130 virtual evals + boxed doubles per pair,
    * measured 14.6 s for the 4M-pair topk at sf0.1 vs 2.3 s with the
    * single-node primitive loop. Same left-to-right double fold →
    * bit-identical results (oracles unchanged).
    */
  private def pairDot(nd: Int): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.DotProduct(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(col("v")),
        org.apache.spark.sql.graftshim.ColumnBridge.expression(col("v2"))))

  /** All-pairs candidate stream (the exact baseline): broadcast the n
    * skinny normalized rows against themselves.
    */
  private[operators] def exactPairs(v: DataFrame, nd: Int): DataFrame = {
    val r = v.select(col("id").as("id2"), col("v").as("v2"), col("lbl").as("lbl2"))
    // the corpus parquet often arrives as ONE partition at this row
    // count, and a broadcast nested-loop join preserves left
    // partitioning — without this repartition all n^2 pair dots run in
    // a single task (measured 60 s vs 4 s at 2k vectors / 4M pairs)
    val par = v.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    v.repartition(par).crossJoin(broadcast(r)).filter(col("id") =!= col("id2"))
      .select(col("id"), col("lbl"), col("id2"), col("lbl2"),
        round(pairDot(nd), 6).as("__cos"))
  }

  /** Hamming<=1 multi-probe candidate stream: sign the corpus, explode
    * each vector into its 1+planes probe buckets (own signature plus
    * every single-bit flip), equi-join probes against exact signatures.
    * Each qualifying ordered pair matches EXACTLY one probe (the XOR
    * delta determines it), so the join emits no duplicates.
    */
  private def lshCandidatePairs(v: DataFrame, nd: Int,
                                planes: Int, seed: Int): DataFrame = {
    val signed = v.withColumn("__sig",
      hyperplaneSignature(col("__raw"), planes, seed, nd))
    val probes = array(
      (col("__sig") +: (0 until planes).map(p =>
        col("__sig").bitwiseXOR(lit(1L << p)))): _*)
    // pin the candidate join's partition count (explicit-count
    // repartition — AQE must not coalesce it): the join's output stage
    // computes an nd-dim dot per candidate pair, CPU-bound at tiny
    // bytes, and AQE's byte-based coalescing ran the whole candidate
    // stream in ONE task (measured 4.2 s of ann06's wall). The two
    // sides co-partition on the signature key, so the join itself
    // needs no further exchange.
    val par = v.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val lhs = signed.select(col("id"), col("lbl"), col("v"),
        explode(probes).as("__probe"))
      .repartition(par, col("__probe"))
    val rhs = signed.select(col("id").as("id2"), col("lbl").as("lbl2"),
        col("v").as("v2"), col("__sig").as("__sig2"))
      .repartition(par, col("__sig2"))
    lhs.join(rhs, col("__probe") === col("__sig2") && col("id") =!= col("id2"))
      .select(col("id"), col("lbl"), col("id2"), col("lbl2"),
        round(pairDot(nd), 6).as("__cos"))
  }

  /** Fused exact top-k neighbors: the same result as
    * `topkNeighbors(exactPairs(v, nd), k)` — neighbors ranked by
    * (round-6 cosine DESC, id2 ASC) — computed per LEFT row against
    * the broadcast corpus in one primitive loop. The n² pair stream
    * was an artifact: materializing 10⁸ crossJoin rows through an
    * ObjectHashAggregate cost 131 s at sf1 where this kernel's output
    * is only n·k rows (measured ~12x faster, bit-identical — the
    * ann05/ann06 oracles pin it). Broadcast footprint is identical to
    * `exactPairs`' broadcast side (n skinny rows — this is the
    * EXACT-baseline form; the corpus-scale path stays
    * `lshCandidatePairs`). Parity details: the dot accumulates
    * left-to-right like [[graft.functions.DotProduct]]; rounding is
    * Catalyst Round's BigDecimal HALF_UP; -0.0 normalizes to 0.0 the
    * way the struct sort key did; id equality/ordering follow the
    * integral id values (non-integral ids fall back to the pair
    * stream).
    *
    * ASSUMES ids are distinct (true for every normalizedVectors
    * corpus, which keys on an id column): with duplicate ids the pair
    * stream groups the duplicates into one k-sized neighbor list while
    * this kernel emits one k-list per row and excludes ALL same-id
    * rows — results diverge. Callers with possibly-duplicated ids must
    * dedup first or use `topkNeighbors(exactPairs(...), k)` directly.
    *
    * DRIVER-COLLECT GUARD: this exact-baseline form materializes the
    * whole corpus on the driver (`collect` + broadcast). That is the
    * point — n skinny rows, same footprint as `exactPairs`' broadcast
    * side — but pointed at a large corpus it would OOM the driver
    * silently where the old crossJoin at least failed executor-side.
    * So the collect is gated on `graft.similarity.exactMaxRows`
    * (default 2,000,000) and `graft.similarity.exactMaxBytes`
    * (default 4 GiB, estimated as rows x dims x 8); an oversized
    * corpus fails fast with an error routing to the candidate-based
    * path (`knnLabelAgreementLsh` / `lshCandidatePairs`), the
    * Components.driverMaxEdges precedent.
    */
  private[operators] def exactTopkNeighbors(v: DataFrame, nd: Int, k: Int): DataFrame = {
    val integralId = {
      import org.apache.spark.sql.types._
      v.schema("id").dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    if (!integralId || nd <= 0) topkNeighbors(exactPairs(v, nd), k)
    else {
      val spark = v.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        v.schema("id"), v.schema("lbl"),
        v.schema("id").copy(name = "id2"), v.schema("lbl").copy(name = "lbl2")))
      val maxRows = spark.conf
        .get("graft.similarity.exactMaxRows", "2000000").toLong
      val maxBytes = spark.conf
        .get("graft.similarity.exactMaxBytes", (4L << 30).toString).toLong
      val corpusRows = v.count()
      val estBytes = corpusRows * nd.toLong * 8L
      if (corpusRows > maxRows || estBytes > maxBytes)
        throw new IllegalArgumentException(
          s"exact kNN baseline would collect $corpusRows rows " +
          s"(~${estBytes / (1L << 20)} MiB of vectors) to the driver, over the " +
          s"configured cap (graft.similarity.exactMaxRows=$maxRows, " +
          s"graft.similarity.exactMaxBytes=$maxBytes). The exact form is a " +
          "small-corpus baseline; at this size use the candidate-based path " +
          "(knnLabelAgreementLsh / lshCandidatePairs), or raise the caps.")
      val side = v.select(col("id"), col("lbl"), col("v")).collect()
      val n = side.length
      val idVals = side.map(_.get(0))
      val idKeys = side.map(_.get(0).asInstanceOf[Number].longValue)
      val lblVals = side.map(_.get(1))
      val vecs = side.map(_.getSeq[Double](2).toArray)
      val bc = spark.sparkContext.broadcast((idVals, idKeys, lblVals, vecs))
      // Catalyst Round parity without 10^8 BigDecimals: the multiply
      // fast path equals BigDecimal HALF_UP whenever x*1e6+0.5 is more
      // than 1e-6 from an integer (the accumulated double error of the
      // scale + the shortest-decimal repr is < 2e-10, four orders
      // inside the guard); the rare boundary case falls back to the
      // exact BigDecimal Catalyst computes
      def round6(x: Double): Double = {
        val y = x * 1e6
        val f = math.floor(y + 0.5)
        val d = y + 0.5 - f
        if (d > 1e-6 && d < 1 - 1e-6) f / 1e6
        else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val par = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val out = v.select(col("id"), col("lbl"), col("v")).repartition(par)
        .rdd.mapPartitions { it =>
          val (rIds, rKeys, rLbls, rVecs) = bc.value
          it.flatMap { row =>
            val lid = row.get(0)
            val lkey = lid.asInstanceOf[Number].longValue
            val lv = row.getSeq[Double](2).toArray
            // insertion top-k on (cos DESC, id2 ASC); k is tiny
            val topC = new Array[Double](k)
            val topJ = new Array[Int](k)
            var size = 0
            var j = 0
            while (j < n) {
              if (rKeys(j) != lkey) {
                var d = 0.0
                var t = 0
                val rv = rVecs(j)
                while (t < nd) { d += lv(t) * rv(t); t += 1 }
                val c = round6(d) + 0.0 // kill -0.0, as the struct key did
                // position: after all entries with (c' > c) or
                // (c' == c && id' < id)
                var p = size
                while (p > 0 && (topC(p - 1) < c ||
                    (topC(p - 1) == c && rKeys(topJ(p - 1)) > rKeys(j)))) p -= 1
                if (p < k) {
                  val last = math.min(size, k - 1)
                  var q = last
                  while (q > p) { topC(q) = topC(q - 1); topJ(q) = topJ(q - 1); q -= 1 }
                  topC(p) = c
                  topJ(p) = j
                  if (size < k) size += 1
                }
              }
              j += 1
            }
            (0 until size).iterator.map { i =>
              org.apache.spark.sql.Row(lid, row.get(1), rIds(topJ(i)), rLbls(topJ(i)))
            }
          }
        }
      spark.createDataFrame(out, schema)
    }
  }

  /** Top-k per vector as a grouped collect+sort+slice aggregate, NOT a
    * row_number window: Spark's WindowGroupLimit rewrite plants a
    * map-side Sort BELOW the exchange, i.e. inside the join's single
    * output partition — one task sorting all n^2 pair rows (measured
    * 43 s vs 0.7 s for this aggregate on the same pairs). The struct
    * sort key (-cos normalized to kill -0.0, then id2) reproduces the
    * window's (cos DESC, id2) order exactly.
    */
  private[operators] def topkNeighbors(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .groupBy(col("id"), col("lbl"))
      .agg(slice(sort_array(collect_list(struct(
        ((lit(0.0) - col("__cos")) + lit(0.0)).as("nc"),
        col("id2").as("id2"), col("lbl2").as("lbl2")))), 1, k).as("top"))
      .select(col("id"), col("lbl"), explode(col("top")).as("t"))
      .select(col("id"), col("lbl"), col("t.id2").as("id2"),
        col("t.lbl2").as("lbl2"))

  /** Majority label per vector: argmax count, ties to the smaller
    * label — min(struct(-count, label)), no window.
    */
  private[operators] def majorityVote(neighbors: DataFrame): DataFrame =
    neighbors.groupBy(col("id"), col("lbl"), col("lbl2"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("id"), col("lbl"))
      .agg(min(struct((-col("__n")).as("nn"), col("lbl2").as("l"))).as("__m"))
      .select(col("id"), col("lbl"), col("__m.l").as("vote"))

  private[operators] def labelAgreement(majority: DataFrame, labelCol: String): DataFrame =
    majority.groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("vote") === col("lbl"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("lbl").as(labelCol), col("n_vecs"), col("n_agree"),
        round(col("n_agree") / col("n_vecs") + lit(1e-11), 6).as("agree_rate"))

  /** Per-label centroid audit — the DISTRIBUTION-level complement to
    * [[knnLabelAgreement]]'s per-point screen: for each label, the
    * member count, the centroid's L2 norm (near-zero = the label's
    * vectors cancel — an incoherent or bimodal class), and the mean
    * member→centroid cosine (tightness; low = diffuse class, prime
    * label-noise suspect). The embedding-table QA pass before labels
    * drive stratified sampling or nearest-centroid classification.
    *
    * Centroid components are rounded (6 dp, epsilon-nudged) BEFORE any
    * downstream arithmetic, so the result is stable across engines and
    * summation orders (the tx08 pre-rounding convention) — which makes
    * the whole audit oracle-able.
    *
    * Scale: one posexplode of the corpus (rows = n·dims), one
    * (label, dim) average — at most labels×dims groups — and one
    * (vector, label) reduce against the BROADCAST centroid table; no
    * all-pairs stage anywhere, shuffles carry component rows only.
    * Zero-norm and null vectors are excluded up front (the ann05
    * population convention).
    */
  def labelCentroidAudit(df: DataFrame, idCol: String, vecCol: String,
                         labelCol: String): DataFrame = {
    val v = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(labelCol).as("lbl"),
        asDouble(col(vecCol)).as("e"))
      .filter(aggregate(col("e"), lit(0.0), (a, x) => a + x * x) > 0)
    val dims = v.select(col("id"), col("lbl"),
      posexplode(col("e")).as(Seq("i", "x")))
    val cent = dims.groupBy(col("lbl"), col("i"))
      .agg(round(avg(col("x")) + lit(1e-11), 6).as("cx"))
    val cnorm = cent.groupBy(col("lbl"))
      .agg(sqrt(sum(col("cx") * col("cx"))).as("cnorm"))
    val member = dims.join(broadcast(cent), Seq("lbl", "i"))
      .groupBy(col("id"), col("lbl"))
      .agg(sum(col("x") * col("cx")).as("dot"),
        sqrt(sum(col("x") * col("x"))).as("vnorm"))
    member.join(broadcast(cnorm), Seq("lbl"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_vecs"),
        round(first(col("cnorm")) + lit(1e-11), 6).as("centroid_norm"),
        // a fully-cancelled centroid (rounded norm 0 — the incoherent-
        // class signal) yields NULL tightness, not an engine-dependent
        // NaN/Inf from the zero division
        round(avg(when(col("cnorm") > 0,
          col("dot") / (col("vnorm") * col("cnorm")))) + lit(1e-11), 4)
          .as("mean_cos"))
      .select(col("lbl").as(labelCol), col("n_vecs"),
        col("centroid_norm"), col("mean_cos"))
  }

  /** Cross-snapshot embedding drift audit: per label, how far the
    * class centroid moved between two corpus snapshots — the
    * distribution-drift check a recurring training-data pipeline runs
    * before re-training on a refreshed corpus (the per-class analog of
    * embedding-space drift monitors). For each label present in BOTH
    * snapshots: member counts, the cosine between the two (rounded)
    * centroids, and the L2 centroid shift; labels present in only one
    * snapshot surface with null drift columns (appearing/disappearing
    * classes are exactly the events to notice).
    *
    * Scale shape mirrors [[labelCentroidAudit]]: each snapshot costs
    * one posexplode + one (label, dim) combinable average — centroid
    * tables are labels×dims rows, so the join/compare is
    * broadcast-sized regardless of corpus size. Centroids round to 6dp
    * before comparison (the ann07 convention), making the whole audit
    * externally replayable.
    */
  def labelCentroidDrift(dfOld: DataFrame, dfNew: DataFrame, idCol: String,
                         vecCol: String, labelCol: String): DataFrame = {
    def cents(df: DataFrame): (DataFrame, DataFrame) = {
      val v = df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("id"), col(labelCol).as("lbl"),
          asDouble(col(vecCol)).as("e"))
        .filter(aggregate(col("e"), lit(0.0), (a, x) => a + x * x) > 0)
      val cent = v.select(col("lbl"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy(col("lbl"), col("i"))
        .agg(round(avg(col("x")) + lit(1e-11), 6).as("cx"))
      val counts = v.groupBy(col("lbl")).agg(count(lit(1)).as("n"))
      (cent, counts)
    }
    val (co, no) = cents(dfOld)
    val (cn, nn) = cents(dfNew)
    val drift = co.select(col("lbl"), col("i"), col("cx").as("co"))
      .join(cn.select(col("lbl"), col("i"), col("cx").as("cn")), Seq("lbl", "i"))
      .groupBy(col("lbl"))
      .agg(sum(col("co") * col("cn")).as("dot"),
        sqrt(sum(col("co") * col("co"))).as("n1"),
        sqrt(sum(col("cn") * col("cn"))).as("n2"),
        round(sqrt(sum((col("co") - col("cn")) * (col("co") - col("cn"))))
          + lit(1e-11), 6).as("centroid_shift"))
      .select(col("lbl"),
        // a cancelled centroid on either side has no direction: null
        // cosine, not an engine-dependent 0/0
        round(when(col("n1") > 0 && col("n2") > 0,
          col("dot") / (col("n1") * col("n2"))) + lit(1e-11), 4)
          .as("centroid_cos"),
        col("centroid_shift"))
    no.select(col("lbl"), col("n").as("n_old"))
      .join(nn.select(col("lbl"), col("n").as("n_new")), Seq("lbl"), "full_outer")
      .join(drift, Seq("lbl"), "left")
      .select(col("lbl").as(labelCol),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("centroid_cos"), col("centroid_shift"))
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell–Goldstein
    * 1998): greedily pick k results trading query relevance against
    * redundancy with what's already picked —
    * `score(c) = λ·sim(c, q) − (1−λ)·max_{s∈S} sim(c, s)`.
    * The retrieval shape for dataset curation: "the k most relevant
    * AND mutually distinct" examples, not k near-clones of the top hit.
    *
    * Scale split: relevance scoring + shortlist selection are fully
    * distributed (one corpus scan, broadcast 1-row query,
    * TakeOrdered — the ann01 plan); the greedy selection then runs
    * over the SHORTLIST only, whose pairwise-similarity matrix
    * (shortlist² rows, computed by the same codegen'd [[cosine]]
    * expression so cross-engine semantics are identical) is a bounded
    * collect — the nlist-centroid pattern, not a corpus collect.
    * Greedy MMR is inherently sequential in k; k and shortlist are
    * both small by definition of the operator.
    *
    * Determinism: every similarity is rounded (+1e-11, 6dp, HALF_UP —
    * the repo convention) BEFORE any comparison; argmax ties break on
    * the smaller id. An external SQL engine replays the whole
    * selection exactly (ann12's DuckDB oracle unrolls the k steps).
    */
  def mmrTopK(df: DataFrame, idCol: String, vecCol: String,
              queryVecId: Long, k: Int, lambda: Double = 0.7,
              shortlist: Int = 40): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need 1 <= k <= shortlist")
    // ids must be integral (the result schema and the greedy driver
    // loop are long-typed); int/short ids are widened below, string
    // ids are rejected here instead of a ClassCastException mid-query
    require({
      import org.apache.spark.sql.types._
      df.schema(idCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }, s"mmrTopK: $idCol must be an integral id column, " +
      s"got ${df.schema(idCol).dataType.sql}")
    val spark = df.sparkSession
    val nd = dimsOf(df, vecCol)
    val q = df.filter(col(idCol) === queryVecId)
      .select(asDouble(col(vecCol)).as("qv"))
    val short = df.filter(col(idCol) =!= queryVecId)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(q))
      .select(col("id"), col("v"),
        round(cosine(col("v"), col("qv"), nd) + lit(1e-11), 6).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(shortlist)
      .localCheckpoint()
    val base = short.select(col("id"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // pairwise sims via the SAME cosine expression (bounded shortlist²)
    val a = short.select(col("id").as("id1"), col("v").as("v1"))
    val b = short.select(col("id").as("id2"), col("v").as("v2"))
    val pair = a.crossJoin(b).filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        round(cosine(col("v1"), col("v2"), nd) + lit(1e-11), 6).as("ps"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    for (rank <- 1 to math.min(k, base.length)) {
      val best = base.iterator.filterNot(c => chosen(c._1)).map { case (id, sim) =>
        val maxRed =
          if (chosen.isEmpty) 0.0
          else chosen.iterator.map(s => pair((id, s))).max
        val score = if (chosen.isEmpty) sim else lambda * sim - (1 - lambda) * maxRed
        (id, sim, score)
      }.reduceLeft { (x, y) =>
        if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
      }
      selected += ((rank, best._1, best._2))
      chosen += best._1
    }
    import spark.implicits._
    selected.toSeq.toDF("rank", idCol, "cos_sim")
      .select(col("rank").cast("long").as("rank"), col(idCol), col("cos_sim"))
  }
}
