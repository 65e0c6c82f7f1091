package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}

import graft.expressions.MathKernels

/** Model-based quality filtering — the trainable stage of a curation
  * pipeline (FineWeb/DataComp-style: engineered signals → a tiny linear
  * model → corpus-wide scores), built so the TRAINING ITSELF is
  * deterministic and oracle-checkable across engines:
  *
  *   - batch gradient descent for logistic regression, one aggregation
  *     job per iteration; the driver holds only the (k+1)-vector of
  *     weights (O(k) metadata, never rows);
  *   - gradients are corpus-wide sums of doubles — the one thing IEEE
  *     addition refuses to make order-independent — so each per-row
  *     gradient term is rounded into FIXED POINT (floor(t·2^20 + 0.5)
  *     as DECIMAL(38,0), the [[Report.momentSketch]] trick): integer
  *     addition commutes, so any partitioning, any engine, any merge
  *     order produces the SAME gradient, and the whole training
  *     trajectory replays bit-for-bit from SQL;
  *   - the logistic σ rides the libm exp kernel
  *     ([[graft.expressions.MathKernels.exp]]) for cross-engine parity.
  *
  * At 100 TB each iteration is one map-side-combined aggregation over
  * the corpus — the same shape as a count — and k stays tiny (a handful
  * of engineered signals), so the driver never sees data. */
object QualityModel {

  /** Fixed-point scale for gradient terms: 2^20 (exactly representable;
    * |term| ≤ max|x|, so DECIMAL(38,0) holds corpus-scale sums with
    * ~10^17 headroom at a billion rows). */
  val GradScale: Double = 1048576.0d

  /** σ(z) = 1 / (1 + e^(−z)) through the libm kernel. */
  def sigmoid(z: Column): Column =
    F.lit(1.0d) / (F.lit(1.0d) + MathKernels.exp(-z))

  /** The linear score w0 + Σ_j w_j·x_j with PINNED left-to-right
    * association — the exact double every engine must state. */
  def linear(weights: Seq[Double], features: Seq[Column]): Column = {
    require(weights.length == features.length + 1,
      s"need ${features.length + 1} weights (intercept first), got ${weights.length}")
    features.zip(weights.tail).foldLeft(F.lit(weights.head).cast("double")) {
      case (acc, (x, w)) => acc + F.lit(w) * x
    }
  }

  /** Train logistic regression by full-batch gradient descent: `iters`
    * passes, each ONE aggregation job summing fixed-point gradient
    * terms (σ(w·x) − y)·x_j; update w_j ← w_j − lr·(G_j/2^20)/n with
    * every double op stated once. Weights start at zero (σ = 0.5 —
    * deterministic first step). Rows with a NULL feature or label are
    * excluded. Returns intercept-first weights. */
  def trainLogistic(df: DataFrame, featureCols: Seq[String],
      labelCol: String, iters: Int = 3, lr: Double = 1.0): Array[Double] =
    trainLogisticL2(df, featureCols, labelCol, iters, lr, l2 = 0.0)

  /** [[trainLogistic]] with ridge (L2) regularization: the update adds
    * the shrinkage term λ·w_j for every FEATURE weight (the intercept
    * is conventionally unpenalized) — w_j ← w_j − lr·((G_j/2^20)/n +
    * λ·w_j), still one aggregation per pass, still bit-replayable
    * (the penalty is driver-side double arithmetic stated once; λ = 0
    * degenerates EXACTLY to the unregularized trajectory because the
    * branch keeps the original expression — not a `+ 0.0` rewrite,
    * which would be bit-identical anyway but states a different
    * formula). */
  def trainLogisticL2(df: DataFrame, featureCols: Seq[String],
      labelCol: String, iters: Int = 3, lr: Double = 1.0,
      l2: Double = 0.0): Array[Double] = {
    require(featureCols.nonEmpty, "need at least one feature")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(l2 >= 0.0, s"l2 must be >= 0, got $l2")
    val feats = featureCols.map(c => F.col(c).cast("double"))
    val y = F.col(labelCol).cast("double")
    // materialize the (k+1)-column CASTED feature relation once before
    // iterating (guide §8: decide on small rows): without this every GD
    // pass re-evaluates the caller's feature expressions — for the gate
    // fixtures a regex word-split over the full text column — iters×.
    // Values are unchanged (same casts, snapshot of the same rows); at
    // scale the materialized relation is k doubles/row vs the raw corpus.
    val clean = df.where(feats.map(_.isNotNull).reduce(_ && _) && y.isNotNull)
      .select(featureCols.map(c => F.col(c).cast("double").as(c)) :+
        y.as(labelCol): _*)
      .localCheckpoint()
    val w = Array.fill(featureCols.length + 1)(0.0d)
    for (_ <- 0 until iters) {
      val resid = sigmoid(linear(w.toSeq, feats)) - y
      val terms = (F.lit(1.0d) +: feats).zipWithIndex.map { case (x, j) =>
        F.sum(F.floor(resid * x * F.lit(GradScale) + F.lit(0.5d))
          .cast("decimal(38,0)")).as(s"g$j")
      }
      val row = clean.agg(F.count(F.lit(1)).as("n"), terms: _*).head()
      val n = row.getLong(0).toDouble
      require(n > 0, "trainLogistic over an empty (or all-NULL) relation")
      for (j <- w.indices) {
        val g = row.getDecimal(j + 1).doubleValue()
        if (l2 == 0.0 || j == 0)
          w(j) = w(j) - lr * ((g / GradScale) / n)
        else
          w(j) = w(j) - lr * (((g / GradScale) / n) + l2 * w(j))
      }
    }
    w
  }

  /** Score every row with a trained model: input columns +
    * (score = σ(w·x)). Row-local, codegen arithmetic — zero shuffles. */
  def scoreLogistic(df: DataFrame, featureCols: Seq[String],
      weights: Seq[Double], as: String = "score"): DataFrame =
    df.withColumn(as,
      sigmoid(linear(weights, featureCols.map(c => F.col(c).cast("double")))))

  /** Per-slice [[aucOf]] — the fairness/robustness read of a quality
    * model: the same midrank algebra per group (one composite range
    * shuffle via [[graft.operators.ScalableRank.withRankByGroup]], no
    * per-group jobs). Groups with only one class answer NULL auc
    * honestly (0/0). Output: (group, n_pos, n_neg, auc) ascending.
    * Kept apart from [[aucOf]]: one-class input gives a different result
    * there (the global finishing division is not guarded). */
  def aucByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val y = F.col(labelCol).cast("int")
    val clean = df
      .where(F.col(scoreCol).isNotNull && F.col(labelCol).isNotNull &&
        F.col(groupCol).isNotNull)
      .select(F.col(groupCol).cast("string").as("td_g"),
        F.col(scoreCol).cast("double").as("td_s"), y.as("td_y"))
    // ordinal ranks give ties arbitrary consecutive positions, but the
    // per-(group, score) MIN is the block start — tie-order-independent —
    // and every tied row shares the midrank (2·min + cnt − 1)/2
    val ranked = graft.operators.ScalableRank.withRankByGroup(
      clean, "td_g", "td_s", "td_rk")
    val perScore = ranked.groupBy(F.col("td_g"), F.col("td_s"))
      .agg(F.min(F.col("td_rk")).as("td_min"),
        F.count(F.lit(1)).as("td_c"),
        F.sum(F.col("td_y")).cast("long").as("td_pos"))
    perScore.groupBy(F.col("td_g").as("group"))
      .agg(
        F.sum(F.col("td_pos")).cast("long").as("n_pos"),
        F.sum(F.col("td_c") - F.col("td_pos")).cast("long").as("n_neg"),
        // DECIMAL(38,0) accumulation: the rank sum grows as n² per group
        // and would wrap a LongType sum at ~3e9 rows (see aucOf)
        F.sum(F.col("td_pos").cast("decimal(19,0)") *
            (F.lit(2L) * F.col("td_min") + F.col("td_c") - 1L)
              .cast("decimal(19,0)")).as("td_r2"))
      .select(F.col("group"), F.col("n_pos"), F.col("n_neg"),
        F.when(F.col("n_pos") > 0L && F.col("n_neg") > 0L,
          (F.col("td_r2").cast("double") / 2.0d -
            (F.col("n_pos").cast("decimal(19,0)") *
              (F.col("n_pos") + 1L).cast("decimal(19,0)"))
              .cast("double") / 2.0d) /
            (F.col("n_pos").cast("decimal(19,0)") *
              F.col("n_neg").cast("decimal(19,0)")).cast("double")).as("auc"))
      .orderBy(F.col("group").asc)
  }

  /** Calibration curve: scores bucketed on the [[Report.gridBin]] fixed
    * grid over [0, 1); per bin the row count, positive count, exact
    * observed rate, and the fixed-point mean score — "when the model
    * says 0.8, is it right 80% of the time?". Everything is integer
    * algebra plus two stated divisions per bin. Output:
    * (bin, n, n_pos, frac_pos, mean_score) ascending by bin. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("int")
    val clean = df.where(s.isNotNull && y.isNotNull)
    clean
      .select(Report.gridBin(s, 0.0, 1.0, bins).as("bin"),
        y.as("td_y"),
        // fixed-point score (2^20) so the per-bin mean is exact algebra
        F.floor(s * F.lit(GradScale) + F.lit(0.5d)).cast("long").as("td_sq"))
      .groupBy(F.col("bin"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("td_y")).cast("long").as("n_pos"),
        F.sum(F.col("td_sq")).as("td_sqs"))
      .select(F.col("bin"), F.col("n"), F.col("n_pos"),
        (F.col("n_pos").cast("double") / F.col("n").cast("double"))
          .as("frac_pos"),
        ((F.col("td_sqs").cast("double") / F.lit(GradScale)) /
          F.col("n").cast("double")).as("mean_score"))
      .orderBy(F.col("bin").asc)
  }

  /** Isotonic (PAV) calibration over the [[calibration]] bin grid — the
    * monotone recalibration a raw reliability curve feeds into: fitted
    * rates never decrease with score, pooling adjacent bins the raw
    * curve got backwards (Zadrozny & Elkan 2002, public methodology).
    *
    * Exact-replay shape: per-bin (weight, positives) are exact longs on
    * the bounded [[Report.gridBin]] grid (empty bins excluded — PAV
    * pools OBSERVED bins); the fit uses the MINIMAX closed form
    * ŷ_i = max_{j≤i} min_{k≥i} mean(j..k) — equal to the sequential
    * pool-adjacent-violators stack (checked on 300 random weighted
    * cases) but expressible as bounded nested transforms over exact
    * integer prefix sums, so both engines state ONE division per (j,k)
    * window and otherwise only compare. O(bins³) driver-free work — the
    * grid is the cutoff, not the corpus. Output:
    * (bin, n, n_pos, rate_raw, rate_iso) ascending by bin; rate_iso is
    * monotone nondecreasing. */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 20): DataFrame = {
    require(bins >= 1 && bins <= 256, s"bins in [1,256], got $bins")
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("int")
    val binned = df.where(s.isNotNull && y.isNotNull)
      .select(Report.gridBin(s, 0.0, 1.0, bins).as("bin"), y.as("td_y"))
      .groupBy(F.col("bin"))
      .agg(F.count(F.lit(1)).as("td_w"),
        F.sum(F.col("td_y")).cast("long").as("td_p"))
    val packed = binned.agg(F.sort_array(F.collect_list(F.struct(
      F.col("bin"), F.col("td_w"), F.col("td_p")))).as("td_l"))
    val l = F.col("td_l")
    def prefix(field: String) =
      F.transform(F.sequence(F.lit(0), F.size(l)), i =>
        F.aggregate(F.slice(l, F.lit(1), i), F.lit(0L),
          (acc, e) => acc + e.getField(field)))
    val staged = packed.where(F.size(l) > 0)
      .withColumn("td_pp", prefix("td_p"))
      .withColumn("td_pw", prefix("td_w"))
    val pp = F.col("td_pp"); val pw = F.col("td_pw")
    val fit = F.transform(F.sequence(F.lit(1), F.size(l)), i =>
      F.array_max(F.transform(F.sequence(F.lit(1), i), j =>
        F.array_min(F.transform(F.sequence(i, F.size(l)), k =>
          (F.element_at(pp, k + 1) - F.element_at(pp, j)).cast("double") /
            (F.element_at(pw, k + 1) - F.element_at(pw, j))
              .cast("double"))))))
    staged.withColumn("td_fit", fit)
      .select(l, F.col("td_fit"),
        F.explode(F.sequence(F.lit(1), F.size(l))).as("td_i"))
      .select(
        F.element_at(l, F.col("td_i")).getField("bin").as("bin"),
        F.element_at(l, F.col("td_i")).getField("td_w").as("n"),
        F.element_at(l, F.col("td_i")).getField("td_p").as("n_pos"),
        (F.element_at(l, F.col("td_i")).getField("td_p").cast("double") /
          F.element_at(l, F.col("td_i")).getField("td_w").cast("double"))
          .as("rate_raw"),
        F.element_at(F.col("td_fit"), F.col("td_i")).as("rate_iso"))
      .orderBy(F.col("bin").asc)
  }

  /** Confusion counts and P/R/F1 at a decision threshold (score ≥ t →
    * predicted positive): the numbers a filtering pipeline actually
    * acts on. One aggregation; exact integers plus stated divisions
    * (empty denominators answer NULL honestly). Output: one (tp, fp,
    * tn, fn, precision, recall, f1) row. */
  def prAtThreshold(df: DataFrame, scoreCol: String, labelCol: String,
      threshold: Double): DataFrame = {
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("int")
    confusionPrf(df.where(s.isNotNull && y.isNotNull), keys = Nil,
      (s >= F.lit(threshold)).cast("int"), y)
  }

  /** The confusion algebra of [[prAtThreshold]], [[prCurve]] and
    * [[graft.streaming.Streams.windowedConfusion]]: per `keys` group of
    * `df`, the tp/fp/tn/fn sums of the 0/1 prediction `pred` against
    * the 0/1 label `y`, then precision, recall and F1 (NULL where a
    * denominator is empty). Output: (keys…, tp, fp, tn, fn, precision,
    * recall, f1). */
  private[graft] def confusionPrf(df: DataFrame, keys: Seq[Column],
      pred: Column, y: Column): DataFrame = {
    val agg = df.groupBy(keys: _*).agg(
      F.sum(pred * y).cast("long").as("tp"),
      F.sum(pred * (F.lit(1) - y)).cast("long").as("fp"),
      F.sum((F.lit(1) - pred) * (F.lit(1) - y)).cast("long").as("tn"),
      F.sum((F.lit(1) - pred) * y).cast("long").as("fn"))
    val p = F.col("tp").cast("double") /
      (F.col("tp") + F.col("fp")).cast("double")
    val r = F.col("tp").cast("double") /
      (F.col("tp") + F.col("fn")).cast("double")
    agg.select(F.col("*"),
        F.when(F.col("tp") + F.col("fp") > 0L, p).as("precision"),
        F.when(F.col("tp") + F.col("fn") > 0L, r).as("recall"))
      .withColumn("f1",
        F.when(F.col("precision").isNotNull && F.col("recall").isNotNull &&
            F.col("precision") + F.col("recall") > 0.0d,
          (F.lit(2.0d) * F.col("precision") * F.col("recall")) /
            (F.col("precision") + F.col("recall"))))
  }

  /** The full P/R sweep in ONE pass: broadcast the threshold list onto
    * the rows (k-fold row amplification for a handful of thresholds —
    * the corpus is read once), then the [[prAtThreshold]] algebra per
    * threshold. Output: (threshold, tp, fp, tn, fn, precision, recall,
    * f1) ascending by threshold. */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val spark = df.sparkSession
    import spark.implicits._
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("int")
    val t = thresholds.distinct.sorted.toDF("threshold")
    confusionPrf(df.where(s.isNotNull && y.isNotNull)
        .crossJoin(F.broadcast(t)), keys = Seq(F.col("threshold")),
      (s >= F.col("threshold")).cast("int"), y)
      .orderBy(F.col("threshold").asc)
  }

  /** Cumulative gains / lift table: rows ranked by score DESCENDING
    * (deterministic via `tiebreakers`), split into `buckets` near-equal
    * NTILE slices (the [[graft.operators.Quantiles.equiDepthHistogram]]
    * boundary arithmetic), then per slice the positives captured so far
    * — "contact the top 20% by model score and reach X% of the
    * positives at Y× random". Ranking rides the range shuffle; the
    * cumulative window runs over `buckets` rows of metadata, never the
    * corpus. Output: (bucket, n, n_pos, cum_n, cum_pos, gain, lift)
    * ascending — gain = cum_pos/total_pos, lift = rate-so-far over the
    * base rate, each one stated division chain. */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int, tiebreakers: Seq[String] = Nil): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("int")
    val clean = df.where(s.isNotNull && y.isNotNull)
    val n = clean.count()
    require(n > 0, "gainsTable over an empty (or all-NULL) relation")
    val ranked = graft.operators.ScalableRank.withRank(clean, scoreCol,
      "$td.__rk", method = "ordinal", descending = true,
      tiebreakers = tiebreakers)
    val per = ranked
      .withColumn("bucket",
        F.floor(((F.col("`$td.__rk`") - 1L) * buckets.toLong).cast("double") /
          F.lit(n.toDouble)).cast("long"))
      .groupBy(F.col("bucket"))
      .agg(F.count(F.lit(1)).as("n"), F.sum(y).cast("long").as("n_pos"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(F.col("bucket").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val totals = per.agg(F.sum(F.col("n")).as("td_tn"),
      F.sum(F.col("n_pos")).as("td_tp"))
    per
      .withColumn("cum_n", F.sum(F.col("n")).over(w).cast("long"))
      .withColumn("cum_pos", F.sum(F.col("n_pos")).over(w).cast("long"))
      .crossJoin(F.broadcast(totals))
      .select(F.col("bucket"), F.col("n"), F.col("n_pos"),
        F.col("cum_n"), F.col("cum_pos"),
        F.when(F.col("td_tp") > 0L,
          F.col("cum_pos").cast("double") / F.col("td_tp").cast("double"))
          .as("gain"),
        F.when(F.col("td_tp") > 0L,
          (F.col("cum_pos").cast("double") / F.col("cum_n").cast("double")) /
            (F.col("td_tp").cast("double") / F.col("td_tn").cast("double")))
          .as("lift"))
      .orderBy(F.col("bucket").asc)
  }

  /** Persist a trained model as a one-row parquet stamp (features +
    * intercept-first weights + the fixed-point scale it was trained
    * under) — the same build-once-score-nightly pattern as the BM25 /
    * IVF persistence stamps. */
  def saveLogistic(spark: org.apache.spark.sql.SparkSession, path: String,
      featureCols: Seq[String], weights: Seq[Double]): Unit = {
    require(weights.length == featureCols.length + 1,
      s"need ${featureCols.length + 1} weights, got ${weights.length}")
    import spark.implicits._
    Seq((featureCols, weights, GradScale))
      .toDF("features", "weights", "grad_scale")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted model: (featureCols, intercept-first weights).
    * Refuses a stamp trained under a different fixed-point scale. */
  def loadLogistic(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[String], Seq[Double]) = {
    val row = spark.read.parquet(path).head()
    require(row.getDouble(2) == GradScale,
      s"model stamp at $path was trained under grad_scale " +
        s"${row.getDouble(2)}, this build uses $GradScale")
    (row.getSeq[String](0), row.getSeq[Double](1))
  }

  /** Brier score — mean squared error of probabilistic scores — with
    * the squared terms in fixed point (floor(d²·2^20 + 0.5)), so the
    * corpus-wide sum commutes and the answer is engine-exact: one
    * aggregation, one stated division. Output: one (n, brier) row. */
  def brierScore(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("double")
    val d = s - y
    df.where(s.isNotNull && y.isNotNull)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.floor(d * d * F.lit(GradScale) + F.lit(0.5d))
          .cast("decimal(38,0)")).as("td_q"))
      .select(F.col("n"),
        ((F.col("td_q").cast("double") / F.lit(GradScale)) /
          F.col("n").cast("double")).as("brier"))
  }

  /** Exact ROC AUC by rank statistics (Mann–Whitney with midrank tie
    * handling): AUC = (Σ_{positives} avgrank − n⁺(n⁺+1)/2) / (n⁺·n⁻).
    * Ranking rides [[graft.operators.ScalableRank]]'s range shuffle
    * (min-rank; the midrank of a tie group is min + (cnt−1)/2), so no
    * single task ever sorts the corpus, and every quantity before the
    * final division is an exact integer or half-integer — one double
    * division at the end, engine-portable. NULL scores/labels excluded.
    * Output: one (n_pos, n_neg, auc) row. */
  def aucOf(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val y = F.col(labelCol).cast("int")
    val clean = df
      .where(F.col(scoreCol).isNotNull && F.col(labelCol).isNotNull)
      .select(F.col(scoreCol).cast("double").as("td_s"), y.as("td_y"))
    val withCnt = graft.operators.ScalableRank.withMinRankAndTies(
      clean, "td_s", "td_rk", "td_c")
    // Σ avgrank over positives in HALF-UNITS (2·avgrank = 2·min + cnt − 1
    // is an exact long), so the sum is integer algebra until the end
    // the half-unit rank sum Σ(2·rank + cnt − 1) grows as n², so at the
    // multi-billion-row scale this module documents a LongType sum would
    // silently wrap (~3e9 rows); accumulate in DECIMAL(38,0) — the same
    // commutative-exactness convention as the gradient sums — as must the
    // n⁺(n⁺+1) product before the final double division
    withCnt.agg(
        F.sum(F.col("td_y")).cast("long").as("n_pos"),
        F.sum(F.lit(1) - F.col("td_y")).cast("long").as("n_neg"),
        F.sum(F.when(F.col("td_y") === 1,
            F.lit(2L) * F.col("td_rk") + F.col("td_c") - 1L)
          .otherwise(F.lit(0L)).cast("decimal(38,0)")).as("td_r2"))
      .select(F.col("n_pos"), F.col("n_neg"),
        ((F.col("td_r2").cast("double") / 2.0d -
          (F.col("n_pos").cast("decimal(19,0)") *
            (F.col("n_pos") + 1L).cast("decimal(19,0)"))
            .cast("double") / 2.0d) /
          (F.col("n_pos").cast("decimal(19,0)") *
            F.col("n_neg").cast("decimal(19,0)")).cast("double")).as("auc"))
  }

  /** Engine-portable fold assignment: first-8-hex md5 of the id string
    * as a long (the repo's portable-hash convention — DuckDB states it
    * as `('0x' || substr(md5(id), 1, 8))::BIGINT`), mod k. Non-negative
    * by construction, uniform, and independent of row order or
    * partitioning. */
  def foldOf(id: Column, k: Int): Column = {
    require(k >= 2, s"k must be >= 2, got $k")
    F.conv(F.substring(F.md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % F.lit(k.toLong)
  }

  /** k-fold cross-validation of the logistic quality model: hash-fold
    * the corpus with [[foldOf]], train on the other k−1 folds
    * ([[trainLogistic]] — the same fixed-point deterministic GD), score
    * and exact-AUC the held-out fold. The generalization read of
    * q_quality_lr: does the model rank UNSEEN documents correctly?
    *
    * Cost: k·iters map-side-combined aggregation passes plus k ranked
    * AUC evaluations over 1/k of the corpus each; the featurized frame
    * is persisted once across them. The driver holds k·(features+1)
    * weights — O(k) metadata, never rows. Output one row per fold:
    * (fold, n_train, n_pos, n_neg, auc, w0..wn) ascending by fold. */
  def crossValidate(df: DataFrame, featureCols: Seq[String],
      labelCol: String, idCol: String, k: Int = 3, iters: Int = 3,
      lr: Double = 1.0): DataFrame = {
    val spark = df.sparkSession
    val folded = df
      .withColumn("td_fold", foldOf(F.col(idCol), k))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val rows = (0 until k).map { f =>
      val train = folded.where(F.col("td_fold") =!= f.toLong)
      val nTrain = train.count()
      val w = trainLogistic(train, featureCols, labelCol, iters, lr)
      val holdout = scoreLogistic(
        folded.where(F.col("td_fold") === f.toLong), featureCols, w.toSeq,
        "td_score")
      val a = aucOf(holdout, "td_score", labelCol).head()
      val nPos = if (a.isNullAt(0)) 0L else a.getLong(0)
      val nNeg = if (a.isNullAt(1)) 0L else a.getLong(1)
      val auc: Any = if (a.isNullAt(2)) null else a.getDouble(2)
      org.apache.spark.sql.Row.fromSeq(
        Seq(f, nTrain, nPos, nNeg, auc) ++ w.toSeq)
    }
    folded.unpersist(blocking = false)
    val schema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("fold",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("n_train",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_pos",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_neg",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("auc",
          org.apache.spark.sql.types.DoubleType, nullable = true)) ++
        w0Names(featureCols.length).map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy(F.col("fold").asc)
  }

  private def w0Names(nFeatures: Int): Seq[String] =
    (0 to nFeatures).map(j => s"w$j")
}
