package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against the corpus, one pass, no shuffle until the per-query top-k.
  * Scale path: random-hyperplane LSH bucketing so only bucket-mates are
  * compared (IVF-style routing falls out of the same shape with learned
  * centroids instead of hyperplanes).
  */
object Similarity {
  /** Cosine similarity of two float vectors, computed in double precision
    * with a sequential left-to-right fold (deterministic association).
    * Native codegen'd kernel — the HOF `aggregate(zip_with(...))`
    * formulation evaluates its lambdas interpreted, measured ~4× slower on
    * the ANN gates (see expressions.VectorKernels). */
  def cosine(a: Column, b: Column): Column = graft.expressions.VectorKernels.cosine(a, b)

  def dot(a: Column, b: Column): Column = graft.expressions.VectorKernels.dot(a, b)

  /** Brute-force cosine top-k: every query vector against the whole corpus.
    * The query side is expected to be small and is broadcast, so the corpus
    * is read exactly once with no shuffle; the only exchange is the
    * per-query top-k window. Exact — the oracle for ANN variants. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int): DataFrame = {
    val c = corpus.select(F.col(idCol).as("nbr_id"), F.col(vecCol).as("cv"))
    val q = queries.select(F.col(queryIdCol).as("query_id"), F.col(vecCol).as("qv"))
    val scored = c.join(F.broadcast(q), F.col("query_id") =!= F.col("nbr_id"))
      .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("cos").desc, F.col("nbr_id").asc)
    scored.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select("query_id", "rank", "nbr_id", "cos")
  }

  /** Deterministic pseudo-random hyperplane component: hash of (plane, dim)
    * mapped to [-0.5, 0.5]. Reproducible across executors with no state. */
  private[graft] def planeComponent(plane: Int, dim: Column): Column =
    (F.pmod(F.xxhash64(F.lit(plane), dim), F.lit(100000L)).cast(DoubleType) / 100000.0) - 0.5

  /** nbits-bit random-hyperplane LSH bucket id for a vector. One codegen'd
    * kernel ([[graft.expressions.LshBucketExpr]]); bit-parity with the
    * test-side HOF formulation is asserted in KernelParitySpec. */
  def lshBucket(vec: Column, nbits: Int = 8): Column =
    graft.expressions.HashKernels.lshBucket(vec, nbits)

  /** LSH-bucketed approximate top-k: queries only meet corpus vectors in the
    * same bucket. One shuffle on bucket id; recall trades off with nbits. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int, nbits: Int = 8): DataFrame = {
    val c = corpus.select(F.col(idCol).as("nbr_id"), F.col(vecCol).as("cv"),
      lshBucket(F.col(vecCol), nbits).as("bucket"))
    val q = queries.select(F.col(queryIdCol).as("query_id"), F.col(vecCol).as("qv"),
      lshBucket(F.col(vecCol), nbits).as("bucket"))
    val scored = c.join(F.broadcast(q), Seq("bucket"))
      .filter(F.col("query_id") =!= F.col("nbr_id"))
      .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("cos").desc, F.col("nbr_id").asc)
    scored.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select("query_id", "rank", "nbr_id", "cos")
  }

  /** Metadata-filtered [[lshTopK]] — the hyperplane-LSH face of
    * [[graft.pipeline.Ivf.topKFiltered]]: `allowed` (the caller-filtered
    * id relation) semi-joins the BUCKETED corpus side before distance
    * ranking, so every result slot holds a matching neighbor and recall
    * at fixed nbits is measured against the filtered brute-force scan
    * (post-filtering the unfiltered top-k loses recall on a skewed
    * filter — the Ivf scaladoc's argument, RecallSpec's measurement).
    * nbits = 0 puts everything in one bucket, degenerating to the exact
    * filtered scan — the oracle twin. */
  def lshTopKFiltered(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int, allowed: DataFrame,
      allowedIdCol: String, nbits: Int = 8): DataFrame = {
    val ids = allowed.select(F.col(allowedIdCol).as("nbr_id")).distinct()
    val c = corpus.select(F.col(idCol).as("nbr_id"), F.col(vecCol).as("cv"),
        lshBucket(F.col(vecCol), nbits).as("bucket"))
      .join(ids, Seq("nbr_id"), "left_semi")
    val q = queries.select(F.col(queryIdCol).as("query_id"), F.col(vecCol).as("qv"),
      lshBucket(F.col(vecCol), nbits).as("bucket"))
    val scored = c.join(F.broadcast(q), Seq("bucket"))
      .filter(F.col("query_id") =!= F.col("nbr_id"))
      .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("cos").desc, F.col("nbr_id").asc)
    scored.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select("query_id", "rank", "nbr_id", "cos")
  }

  /** Element-wise mean of embedding vectors per group — chunk-to-document
    * pooling (a document embedded chunk-by-chunk gets one vector), class
    * centroids, dataset-level embedding summaries. Exact and
    * partition-invariant: each (group, component) cell folds its values
    * in sorted order (bounded by the group's member count — chunks per
    * doc, not the corpus), then components reassemble positionally.
    * Two keyed shuffles ((group, pos) then group), no window, no driver
    * materialization. Output: (groupCol, vec: array<double>). */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val exploded = df.select(F.col(groupCol),
        F.posexplode(F.col(vecCol)).as(Seq("$td.__p", "$td.__x")))
      .select(F.col(groupCol), F.col("`$td.__p`"),
        F.col("`$td.__x`").cast("double").as("$td.__x"))
    exploded
      .groupBy(F.col(groupCol), F.col("`$td.__p`"))
      .agg((F.aggregate(F.array_sort(F.collect_list(F.col("`$td.__x`"))),
        F.lit(0.0), (acc, x) => acc + x) / F.count(F.lit(1))).as("$td.__m"))
      .groupBy(F.col(groupCol))
      .agg(F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("`$td.__p`"), F.col("`$td.__m`")))),
        s => s.getField("$td.__m")).as("vec"))
  }

  /** Johnson-Lindenstrauss random projection: embed `inDim`-dimensional
    * vectors into `outDim` dimensions with a seeded ±1/√outDim sign matrix
    * (Achlioptas 2001 database-friendly projections) — the standard
    * dimensionality squeeze before ANN indexing or pairwise scoring at
    * corpus scale. Distances are preserved within (1±ε) for
    * outDim = O(ln n / ε²), and the projection is a row-local codegen'd
    * projection: zero shuffles, linear scan, outDim·inDim multiply-adds
    * per row.
    *
    * Determinism across engines and runs: sign(i,j) is taken from the
    * first hex digit of md5("seed:i,j") — the same portable-hash
    * convention as the DSIR feature buckets, so an external system (or
    * the SQL oracle) can reproduce the exact matrix; components fold in
    * ascending index order with a 0.0 seed, giving bit-identical doubles
    * everywhere. */
  def randomProjection(df: DataFrame, vecCol: String, outCol: String,
      inDim: Int, outDim: Int, seed: String = "jl"): DataFrame = {
    require(inDim > 0 && outDim > 0, s"dims must be positive: $inDim -> $outDim")
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val h = md.digest(s"$seed:$i,$j".getBytes("UTF-8"))
      // first hex digit < '8' <=> top bit of the first byte is 0
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    }
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val comps = (0 until outDim).map { j =>
      val signs = F.lit(Array.tabulate(inDim)(i => sign(i, j)))
      F.aggregate(
        F.zip_with(F.col(vecCol), signs, (a, b) => a.cast("double") * b),
        F.lit(0.0), (acc, x) => acc + x) * F.lit(scale)
    }
    df.withColumn(outCol, F.array(comps: _*))
  }
}
