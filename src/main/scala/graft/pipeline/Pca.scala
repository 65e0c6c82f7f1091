package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Distributed PCA (top principal component) by deterministic power
  * iteration — the embedding-whitening stage a SemDedup-style curation
  * pipeline runs before clustering (Abbas et al. 2023 apply PCA to the
  * embedding space; reference surface: the embedding tables the dedup
  * operators consume).
  *
  * Built like [[QualityModel.trainLogistic]], so the TRAINING ITSELF is
  * oracle-checkable across engines:
  *
  *   - the covariance matrix is never materialized: each power-iteration
  *     step computes u = Xcᵀ(Xc·v) directly from the data — one linear
  *     aggregation pass per iteration (n·d work, d decimal sum columns),
  *     the classic big-data PCA trick that avoids the O(d²) Gram matrix
  *     and any shuffle beyond one map-side-combined agg;
  *   - every corpus-wide double sum is rounded into FIXED POINT
  *     (floor(t·2^20 + 0.5) as DECIMAL(38,0) — the
  *     [[Report.momentSketch]] / [[QualityModel]] trick): integer
  *     addition commutes, so any partitioning and any engine produce the
  *     SAME iterate, and the whole trajectory replays bit-for-bit in SQL;
  *   - all bounded double folds (the per-row projection x·v, the
  *     iterate norm) are stated with PINNED left-to-right ascending-index
  *     association on both engines;
  *   - the start vector is uniform 1/√d (exact when d is a power of
  *     four), so iteration 1 is deterministic.
  *
  * At 100 TB each iteration is one aggregation over the corpus (the same
  * shape as a count); the driver holds only the d-vector between passes
  * (O(d) metadata, never rows). */
object Pca {

  import QualityModel.GradScale

  /** Fitted top component: column means, unit eigenvector, and the
    * eigenvalue estimate λ = ‖Xcᵀ Xc v‖ / (n−1) from the final pass. */
  final case class PcaModel(dim: Int, n: Long, means: Array[Double],
      weights: Array[Double], lambda: Double)

  private def elem(vec: Column, i: Int): Column =
    F.element_at(vec, i).cast("double")

  /** w0 + Σ_i (x_i − m_i)·v_i with pinned left-to-right association —
    * the exact double every engine must state (ascending i, seed 0.0).
    * One codegen kernel node ([[graft.expressions.PcaKernels]]): the r17
    * optimization round measured the previous INLINE 64-term fold costing
    * ~0.3 s of ANALYZER/OPTIMIZER time per power-iteration pass (execution
    * itself was 0.11 s) because every iterate change re-plans a ~2,500-node
    * tree. The kernel states the identical doubles. */
  private def centeredDot(vec: Column, means: Array[Double],
      v: Array[Double]): Column =
    graft.expressions.PcaKernels.centeredDot(vec, means, v)

  /** All `dim` fixed-point sums Σ_rows floor(t_i·2^20+0.5) as ONE
    * array<decimal(38,0)> aggregate — value-identical to the per-column
    * decimal sums it replaces (same floor, exact integer addition). */
  private def fixedVecSum(arr: Column, dim: Int): Column =
    graft.expressions.PcaKernels.fixedVecSum(arr, dim, GradScale)

  /** The centered (and optionally prior-deflated) residual vector as one
    * kernel node; `ps` holds the staged prior projections in order. */
  private def deflated(vec: Column, ps: Column, means: Array[Double],
      ws: Seq[Array[Double]]): Column =
    graft.expressions.PcaKernels.deflate(vec, ps, means, ws)

  /** Column means in one fixed-point pass: m_i = (Σ floor(x_i·2^20+0.5)
    * / 2^20) / n. Returns (n, means). */
  def colMeans(df: DataFrame, vecCol: String, dim: Int): (Long, Array[Double]) = {
    val base = df.where(F.col(vecCol).isNotNull).select(F.col(vecCol).as("td_e"))
    val row = base.agg(F.count(F.lit(1)).as("n"),
      fixedVecSum(F.col("td_e").cast("array<double>"), dim).as("s")).head()
    val n = row.getLong(0)
    require(n > 0, "Pca over an empty (or all-NULL) relation")
    val sums = row.getSeq[java.math.BigDecimal](1)
    val m = Array.tabulate(dim) { i =>
      (sums(i).doubleValue() / GradScale) / n.toDouble
    }
    (n, m)
  }

  /** Fit the top principal component: `iters` power-iteration passes,
    * each ONE aggregation job. v starts uniform 1/√d; each pass computes
    * u_i = Σ_rows (x_i − m_i)·((x − m)·v) in fixed point, then
    * v ← u/‖u‖ on the driver (d doubles, pinned ascending fold for the
    * norm). */
  def fit(df: DataFrame, vecCol: String, dim: Int, iters: Int = 3): PcaModel = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (n, means) = colMeans(df, vecCol, dim)
    // stage the projection s in its own select (multi-referenced below,
    // CollapseProject keeps it evaluated once)
    powerIterate(df, vecCol, dim, iters, n, means,
        "power iteration collapsed to the zero vector") { (base, v) =>
      (base.select(F.col("td_e"),
          centeredDot(F.col("td_e"), means, v).as("td_s")),
        deflated(F.col("td_e"), F.typedlit(Seq.empty[Double]), means, Nil))
    }
  }

  /** The power-iteration loop of [[fit]] and [[fitDeflatedK]], one
    * aggregation job per pass: u_i = Σ_rows r_i·s in fixed point, then
    * v ← u/‖u‖. `pass(base, v)` stages one pass over the non-NULL
    * `td_e` vectors and returns it (carrying `td_s`) with the residual
    * column r. */
  private def powerIterate(df: DataFrame, vecCol: String, dim: Int,
      iters: Int, n: Long, means: Array[Double], collapsed: String)(
      pass: (DataFrame, Array[Double]) => (DataFrame, Column)): PcaModel = {
    val base = df.where(F.col(vecCol).isNotNull).select(F.col(vecCol).as("td_e"))
    var v = Array.fill(dim)(1.0d / math.sqrt(dim.toDouble))
    var lambda = 0.0d
    for (_ <- 0 until iters) {
      val (staged, resid) = pass(base, v)
      val row = staged.agg(fixedVecSum(
        graft.expressions.PcaKernels.vecScale(resid, F.col("td_s")),
        dim).as("g")).head()
      val sums = row.getSeq[java.math.BigDecimal](0)
      val u = Array.tabulate(dim)(i => sums(i).doubleValue() / GradScale)
      // ‖u‖ with the same pinned ascending fold the oracle states
      val nrm = math.sqrt(u.indices.foldLeft(0.0d)((a, i) => a + u(i) * u(i)))
      require(nrm > 0.0d, collapsed)
      v = u.map(_ / nrm)
      lambda = nrm / (n.toDouble - 1.0d)
    }
    PcaModel(dim, n, means, v, lambda)
  }

  /** The SECOND principal component by deflation: the same power
    * iteration run on the residual after projecting out `prior` —
    * xd = xc − (xc·w)·w — with the deflation applied IN-EXPRESSION per
    * row (the deflated matrix is never materialized; each pass stays
    * one aggregation of d fixed-point sums, now with two pinned
    * per-row folds: the prior projection p, then the deflated
    * projection s). Same bit-replay contract as [[fit]]. */
  def fitDeflated(df: DataFrame, vecCol: String, dim: Int,
      iters: Int, prior: PcaModel): PcaModel =
    fitDeflatedK(df, vecCol, dim, iters, Seq(prior))

  /** Power iteration on the residual after projecting out ALL `priors`
    * (component j of a top-k fit): per row the deflated value is
    * xd_i = ((xc_i − p_1·w_1i) − p_2·w_2i) − … with every prior
    * projection p_l = xc·w_l a pinned ascending fold over the ORIGINAL
    * centered vector, and the subtractions applied LEFT TO RIGHT in
    * prior order — the exact double sequence the oracle restates. The
    * deflated matrix is never materialized: each pass stays ONE
    * aggregation of d fixed-point sums; the per-row stage carries
    * |priors| staged projection columns plus the deflated projection s
    * (all multi-referenced, so CollapseProject keeps each evaluated
    * once — the [[graft.pipeline.Dsir]] lambda-CSE discipline). Same
    * bit-replay contract as [[fit]]; one-prior calls are bit-identical
    * to the r13 [[fitDeflated]]. */
  def fitDeflatedK(df: DataFrame, vecCol: String, dim: Int,
      iters: Int, priors: Seq[PcaModel]): PcaModel = {
    require(priors.nonEmpty, "fitDeflatedK needs at least one prior")
    priors.foreach(p =>
      require(p.dim == dim, s"prior model has dim ${p.dim}, not $dim"))
    // all priors must come from the SAME fit: deflating with models
    // centered on different data silently states wrong residuals
    priors.tail.foreach(p => require(
      p.n == priors.head.n && p.means.sameElements(priors.head.means),
      "fitDeflatedK priors disagree on n/means — fit them on the same data"))
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val means = priors.head.means
    val ws = priors.map(_.weights)
    // stage 1: the prior projections p_l (each a pinned ascending fold),
    // packed in prior order; stage 2: the residual VECTOR xd from one
    // deflate kernel (left-to-right prior subtraction — the same double
    // sequence the per-column formulation stated); stage 3: the deflated
    // projection s = Σ xd_i·v_i. Every stage is a named multi-referenced
    // column, so CollapseProject keeps each evaluated once, and the
    // whole pass plans as a handful of kernel nodes (the r17 planning-
    // time fix — see centeredDot's doc) instead of dim-wide trees.
    powerIterate(df, vecCol, dim, iters, priors.head.n, means,
        "deflated power iteration collapsed to zero") { (base, v) =>
      val stage1 = base.select(F.col("td_e"),
        F.array(ws.map(w => centeredDot(F.col("td_e"), means, w)): _*)
          .as("td_ps"))
      val stage2 = stage1.select(
        deflated(F.col("td_e"), F.col("td_ps"), means, ws).as("td_xd"))
      (stage2.select(F.col("td_xd"),
          graft.expressions.VectorKernels.dot(
            F.col("td_xd"), F.typedlit(v.toSeq)).as("td_s")),
        F.col("td_xd"))
    }
  }

  /** Top-k principal components by ITERATED deflation — the real
    * embedding-whitening fit (SemDedup-style pipelines whiten with the
    * top 8–32 components, not two): component 1 from [[fit]], then each
    * component j from [[fitDeflatedK]] against all j−1 priors. k·iters
    * aggregation passes total, each one corpus scan with a map-side
    * combine; the driver holds k·d doubles. Components 1 and 2 are
    * bit-identical to the r13 [[fit]]/[[fitDeflated]] pair. */
  def fitK(df: DataFrame, vecCol: String, dim: Int, k: Int,
      iters: Int = 3): Seq[PcaModel] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k <= dim, s"k must be <= dim, got k=$k dim=$dim")
    (2 to k).foldLeft(Vector(fit(df, vecCol, dim, iters))) { (acc, _) =>
      acc :+ fitDeflatedK(df, vecCol, dim, iters, acc)
    }
  }

  /** PCA whitening: project every row onto each fitted component and
    * scale by 1/√λ_l — output columns y1..yk with unit variance along
    * each principal axis (the embedding normalization SemDedup-style
    * clustering runs on). Scores are the ORIGINAL centered projections
    * xc·w_l (components are orthogonal, so no re-deflation), each a
    * pinned ascending fold, divided by the driver-computed √λ_l — one
    * stated double op each, row-local codegen arithmetic, zero
    * shuffles. */
  def whitenK(df: DataFrame, idCol: String, vecCol: String,
      models: Seq[PcaModel]): DataFrame = {
    require(models.nonEmpty, "whitenK needs at least one component")
    val means = models.head.means
    val cols = models.zipWithIndex.map { case (m, l) =>
      (centeredDot(F.col(vecCol), means, m.weights) /
        F.lit(math.sqrt(m.lambda))).as(s"y${l + 1}")
    }
    df.where(F.col(vecCol).isNotNull)
      .select(F.col(idCol) +: cols: _*)
  }

  /** Per-vector squared RECONSTRUCTION ERROR of a top-k fit — how much
    * of each embedding the k components fail to carry (the compression-
    * quality read next to [[explainedVariance]]'s corpus ratio; rank
    * outliers by it to find embeddings the whitened space represents
    * poorly). err2 = Σ_i xd_i² where xd is [[fitDeflatedK]]'s residual
    * (projections of the ORIGINAL centered vector, deflations applied
    * left to right in component order, the squared terms folded over
    * ascending i) — every double stated once, row-local codegen
    * arithmetic, zero shuffles. Output: (id, err2). */
  def reconstructionError(df: DataFrame, idCol: String, vecCol: String,
      models: Seq[PcaModel]): DataFrame = {
    require(models.nonEmpty, "reconstructionError needs at least one component")
    val means = models.head.means
    val dim = models.head.dim
    val ws = models.map(_.weights)
    val base = df.where(F.col(vecCol).isNotNull)
      .select(F.col(idCol), F.col(vecCol).as("td_e"))
    // prior projections packed in order, residual vector from one deflate
    // kernel, err2 = Σ xd_i² as the self-dot — identical doubles to the
    // per-column folds, a handful of plan nodes (r17 planning-time fix)
    val staged = base.select(F.col(idCol), F.col("td_e"),
      F.array(ws.map(w => centeredDot(F.col("td_e"), means, w)): _*)
        .as("td_ps"))
    val staged2 = staged.select(F.col(idCol),
      deflated(F.col("td_e"), F.col("td_ps"), means, ws).as("td_xd"))
    staged2.select(F.col(idCol),
      graft.expressions.VectorKernels.dot(F.col("td_xd"), F.col("td_xd"))
        .as("err2"))
  }

  /** Project every row onto the component: input columns +
    * (score = (x − m)·w, pinned fold). Row-local codegen arithmetic —
    * zero shuffles. */
  def score(df: DataFrame, idCol: String, vecCol: String, model: PcaModel,
      as: String = "score"): DataFrame =
    df.where(F.col(vecCol).isNotNull)
      .select(F.col(idCol),
        centeredDot(F.col(vecCol), model.means, model.weights).as(as))

  /** Explained-variance summary (one row): the component eigenvalue, the
    * total variance trace(C) = Σ_i Var(x_i) (fixed-point diagonal sums,
    * pinned ascending fold over dimensions), and their ratio. */
  def explainedVariance(df: DataFrame, vecCol: String,
      model: PcaModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.where(F.col(vecCol).isNotNull).select(F.col(vecCol).as("td_e"))
    val xc = graft.expressions.PcaKernels.deflate(F.col("td_e"),
      F.typedlit(Seq.empty[Double]), model.means, Nil)
    val row = base.agg(fixedVecSum(
      graft.expressions.PcaKernels.vecMul(xc, xc), model.dim).as("q")).head()
    val sums = row.getSeq[java.math.BigDecimal](0)
    val nm1 = model.n.toDouble - 1.0d
    val tv = (0 until model.dim).foldLeft(0.0d) { (a, i) =>
      a + (sums(i).doubleValue() / GradScale) / nm1
    }
    Seq((model.lambda, tv, model.lambda / tv))
      .toDF("eigenvalue", "total_var", "explained_ratio")
  }
}
