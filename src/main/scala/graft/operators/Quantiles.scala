package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** EXACT distributed quantiles — order statistics over a corpus-sized
  * column without a single-reducer sort and without the approximation of
  * `percentile_approx`.
  *
  * Contract: quantile q is the k-th smallest value with
  * k = max(1, ceil(q·n)) under the total order (valueCol asc,
  * tiebreakers asc) — a plain order statistic, so the result is a value
  * that actually occurs in the data and the DuckDB oracle can state the
  * same definition as an explicit row_number query (no reliance on any
  * engine's quantile interpolation flavor).
  *
  * Shape: one count job for n, then ONE range shuffle through
  * [[ScalableRank.withRank]] (parallel per-partition windows + broadcast
  * prefix offsets) and a filter to the |qs| requested ranks. The length
  * distribution of a 100 TB corpus costs the same as any total ordering
  * of it — there is no cheaper exact answer, and the approximate answer
  * already exists as `percentile_approx`.
  */
object Quantiles {

  /** (q, value) for each requested quantile of `valueCol`. Supply
    * `tiebreakers` to pin which of several equal-rank candidates is
    * reported when `valueCol` has duplicates (any deterministic unique
    * key works; the VALUE reported is the same either way — only the
    * physical row picked differs). Two quantiles that round to the same
    * order statistic (n < |qs| territory) each get their own output row
    * carrying that shared value. `knownN` skips the count job when the
    * caller already holds the exact NON-NULL row count (same contract as
    * SemDedup's knownN).
    *
    * NULL values are ignored — the SQL convention every quantile/
    * percentile function follows. Without the filter a NULL would rank
    * FIRST (nulls-first ascending order) and silently shift every order
    * statistic, and a low quantile could "be" NULL. */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
      tiebreakers: Seq[String] = Nil, knownN: Option[Long] = None): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    require(qs.forall(q => q > 0 && q <= 1), s"quantiles must be in (0,1]: $qs")
    val spark = df.sparkSession
    import spark.implicits._
    val nonNull = df.where(F.col(valueCol).isNotNull)
    val n = knownN.getOrElse(nonNull.count())
    require(n > 0, "exactQuantiles over an empty (or all-NULL) relation")
    val qk = qs.distinct.sorted
      .map(q => (q, math.max(1L, math.ceil(q * n).toLong)))
    val ranked = ScalableRank.withRank(nonNull, valueCol, "$td.__rk", "ordinal",
      tiebreakers = tiebreakers)
    ranked
      .join(F.broadcast(qk.toDF("q", "$td.__rk")), Seq("$td.__rk"))
      .select(F.col("q"), F.col(valueCol).as("value"))
  }

  /** Winsorize: clip `valueCol` into its own exact [pLo, pHi] quantile
    * window — the standard outlier treatment for numeric quality signals
    * before scoring/mixing (values below the pLo order statistic move up
    * to it, values above pHi move down). Exact quantiles, not
    * percentile_approx: the clip bounds are values that occur in the
    * data, and the oracle states the same k = ceil(q·n) definition. The
    * bounds travel as a broadcast 1-row relation; the clip itself is a
    * row-local codegen'd projection, so the cost is one [[exactQuantiles]]
    * pass plus a linear scan. */
  def winsorize(df: DataFrame, valueCol: String, pLo: Double, pHi: Double,
      tiebreakers: Seq[String] = Nil): DataFrame = {
    require(pLo > 0 && pLo < pHi && pHi <= 1,
      s"need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    val bounds = exactQuantiles(df, valueCol, Seq(pLo, pHi), tiebreakers)
      .agg(
        F.min(F.when(F.col("q") === pLo, F.col("value"))).as("$td.__lo"),
        F.min(F.when(F.col("q") === pHi, F.col("value"))).as("$td.__hi"))
    // explicit when-chain, NOT least/greatest: Spark's least/greatest SKIP
    // null operands, so least(NULL, hi) = hi would silently rewrite a NULL
    // value to the upper clip bound. Here a NULL x falls through every
    // comparison (NULL predicates are falsy) into otherwise(x) = NULL.
    df.crossJoin(F.broadcast(bounds))
      .withColumn(valueCol,
        F.when(F.col(valueCol) < F.col("`$td.__lo`"), F.col("`$td.__lo`"))
          .when(F.col(valueCol) > F.col("`$td.__hi`"), F.col("`$td.__hi`"))
          .otherwise(F.col(valueCol)))
      .drop("$td.__lo", "$td.__hi")
  }

  /** Per-group [[winsorize]]: clip each group's values into THAT group's
    * exact [pLo, pHi] quantile window — per-language length clipping,
    * the per-slice outlier treatment a mixed corpus needs (a global clip
    * window lets one verbose language's tail define every other's). One
    * [[exactQuantilesByGroup]] pass (its hot-group contract included);
    * the per-group bounds come back as a broadcast (group, lo, hi)
    * relation (bounded by group cardinality); the clip itself is a
    * row-local when-chain. NULL values stay NULL (the winsorize rule);
    * rows of a group with no non-NULL values pass through unclipped
    * (NULL bounds fall through every comparison). A NULL group key is a
    * GROUP LIKE ANY OTHER (the Privacy family's NULL rule): the bounds
    * join is null-safe (`<=>`), so NULL-group rows clip against the NULL
    * group's own quantile window — the oracle states the same contract
    * with IS NOT DISTINCT FROM. Kept apart from [[winsorize]]: the bounds
    * come from a keyed window with a hot-group fallback, not a
    * range-shuffle rank. */
  def winsorizeByGroup(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double, tiebreakers: Seq[String] = Nil,
      hotGroupThreshold: Long = 4000000L): DataFrame = {
    require(pLo > 0 && pLo < pHi && pHi <= 1,
      s"need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    val bounds = exactQuantilesByGroup(df, groupCol, valueCol,
        Seq(pLo, pHi), tiebreakers, hotGroupThreshold)
      .groupBy(F.col(groupCol).as("$td.__g"))
      .agg(
        F.min(F.when(F.col("q") === pLo, F.col("value"))).as("$td.__lo"),
        F.min(F.when(F.col("q") === pHi, F.col("value"))).as("$td.__hi"))
    df.join(F.broadcast(bounds),
        F.col(groupCol) <=> F.col("`$td.__g`"), "left")
      .withColumn(valueCol,
        F.when(F.col(valueCol) < F.col("`$td.__lo`"), F.col("`$td.__lo`"))
          .when(F.col(valueCol) > F.col("`$td.__hi`"), F.col("`$td.__hi`"))
          .otherwise(F.col(valueCol)))
      .drop("$td.__g", "$td.__lo", "$td.__hi")
  }

  /** Robust scale statistics: the exact median and the exact median
    * absolute deviation (MAD = median of |x − median|) as one 1-row
    * relation — the outlier-immune (location, scale) pair behind robust
    * z-scores ((x − med)/MAD), where mean/stddev would be dragged by the
    * heavy tails every web-scale quality signal has. Cost: two
    * [[exactQuantiles]] passes (the second over the derived deviations)
    * — each one range shuffle; the first median travels as a broadcast
    * 1-row relation into the deviation projection. `tiebreakers` pins
    * order-statistic determinism exactly as in [[exactQuantiles]]. */
  def medianMad(df: DataFrame, valueCol: String,
      tiebreakers: Seq[String] = Nil): DataFrame = {
    val med = exactQuantiles(df, valueCol, Seq(0.5), tiebreakers)
      .select(F.col("value").as("median"))
    // dot-free internal name: rank/quantile helpers resolve plain columns
    val dev = df.crossJoin(F.broadcast(med))
      .select(F.abs(F.col(valueCol).cast("double") -
        F.col("median").cast("double")).as("td_dev") +:
        tiebreakers.map(F.col): _*)
    val mad = exactQuantiles(dev, "td_dev", Seq(0.5), tiebreakers)
      .select(F.col("value").as("mad"))
    med.crossJoin(F.broadcast(mad))
  }

  /** Robust z-score: (x − median)/MAD appended as `as` — the
    * outlier-immune standardization ([[medianMad]]'s statistics applied
    * row-locally; the classic 1.4826 normal-consistency factor is NOT
    * baked in — multiply downstream if you need σ-equivalents, keeping
    * the op's arithmetic exactly representable). A zero MAD (over half
    * the values identical) yields NULL scores rather than ±Infinity. */
  def robustZ(df: DataFrame, valueCol: String, as: String = "robust_z",
      tiebreakers: Seq[String] = Nil): DataFrame =
    df.crossJoin(F.broadcast(medianMad(df, valueCol, tiebreakers)))
      .withColumn(as, F.when(F.col("mad") =!= 0.0,
        (F.col(valueCol).cast("double") - F.col("median").cast("double")) /
          F.col("mad")))
      .drop("median", "mad")

  /** Per-group exact quantiles: for every group, quantile q is the
    * k = max(1, ceil(q·n_g)) order statistic of that group's values —
    * the per-language / per-source length distributions of a dataset
    * card, exact. One shuffle on the group key; groups rank in parallel
    * keyed windows. Output: (group, q, value).
    *
    * Hot-group fallback: the keyed window sorts each group inside one
    * partition, so a pathologically skewed group (more rows than fit one
    * task) would bottleneck — or OOM — the whole job. Groups whose
    * NON-NULL row count exceeds `hotGroupThreshold` are therefore routed
    * through ONE composite-key [[ScalableRank.withRankByGroup]] pass
    * (a single (group, value) range shuffle shared by ALL hot groups, each
    * spread over as many partitions as its size needs) — so ANY number of
    * simultaneously-huge groups rides one extra subplan, not one per
    * group. The collected hot-key list is O(n/threshold) driver metadata.
    * Pass `Long.MaxValue` to force the single-pass window plan. Kept
    * apart from [[exactQuantiles]]: a keyed window with a hot-group
    * fallback, against one range-shuffle rank. */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double], tiebreakers: Seq[String] = Nil,
      hotGroupThreshold: Long = 4000000L): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    require(qs.forall(q => q > 0 && q <= 1), s"quantiles must be in (0,1]: $qs")
    require(hotGroupThreshold > 0, "hotGroupThreshold must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // same NULL rule as exactQuantiles: NULL values are not order statistics
    val nonNull = df.where(F.col(valueCol).isNotNull)
    // one map-side-combined count pass finds the hot groups (k rows out)
    val hot: Array[(Any, Long)] =
      if (hotGroupThreshold == Long.MaxValue) Array.empty
      else nonNull.groupBy(F.col(groupCol))
        .agg(F.count(F.lit(1)).as("$td.__n"))
        .where(F.col("`$td.__n`") > hotGroupThreshold)
        .collect().map(r => (r.get(0), r.getLong(1)))
    val hotPred = hot.map(_._1).map {
      case null => F.col(groupCol).isNull
      case v    => F.col(groupCol) <=> F.lit(v)
    }.reduceOption(_ || _).getOrElse(F.lit(false))

    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(F.col(valueCol).asc +: tiebreakers.map(F.col(_).asc): _*)
    val ranked = nonNull.where(!hotPred)
      .withColumn("$td.__rk", F.row_number().over(w).cast("long"))
      .withColumn("$td.__n",
        F.count(F.lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(groupCol)))
    val qDf = qs.distinct.sorted.toDF("q")
    val cold = ranked.join(F.broadcast(qDf),
        F.col("`$td.__rk`") ===
          F.greatest(F.lit(1L), F.ceil(F.col("q") * F.col("`$td.__n`"))))
      .select(F.col(groupCol), F.col("q"), F.col(valueCol).as("value"))
    if (hot.isEmpty) cold
    else {
      // ONE composite-key range-shuffle rank over ALL hot groups at once;
      // the per-group sizes were already collected above (k rows of
      // metadata), so they ride back in as a broadcast relation instead
      // of a second count pass
      val gField = df.schema(groupCol)
      val ns = spark.createDataFrame(
        spark.sparkContext.parallelize(
          hot.toSeq.map { case (g, n) =>
            org.apache.spark.sql.Row(g, n)
          }, numSlices = 1),
        org.apache.spark.sql.types.StructType(Seq(
          gField.copy(name = "$td.__g"),
          org.apache.spark.sql.types.StructField("$td.__hn",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val hotRanked = ScalableRank.withRankByGroup(
        nonNull.where(hotPred), groupCol, valueCol, "$td.__rk",
        tiebreakers = tiebreakers)
      val hotRes = hotRanked
        .join(F.broadcast(ns), F.col(groupCol) <=> F.col("`$td.__g`"))
        .join(F.broadcast(qDf),
          F.col("`$td.__rk`") ===
            F.greatest(F.lit(1L), F.ceil(F.col("q") * F.col("`$td.__hn`"))))
        .select(F.col(groupCol), F.col("q"), F.col(valueCol).as("value"))
      cold.unionByName(hotRes)
    }
  }

  /** EQUI-DEPTH histogram: `buckets` bins each holding (as near as
    * integer arithmetic allows) n/buckets rows — the complement of
    * [[graft.pipeline.Report.histogram]]'s equi-WIDTH grid, and the
    * binning a dataset card wants for heavy-tailed columns where fixed
    * cells leave most bins empty. Row r (1-based rank by (value,
    * tiebreakers)) lands in bucket floor((r−1)·buckets / n) — the exact
    * NTILE-style split, stated in doubles whose operands stay below
    * 2^53, so an external engine reproduces every boundary. Ranking
    * rides [[ScalableRank.withRank]] (range shuffle, no single-task
    * sort), NULLs are excluded (the quantile-family rule). Output:
    * (bucket, cnt, lo, hi) ascending. */
  def equiDepthHistogram(df: DataFrame, valueCol: String, buckets: Int,
      tiebreakers: Seq[String] = Nil): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val nonNull = df.where(F.col(valueCol).isNotNull)
    val n = nonNull.count()
    require(n > 0, "equiDepthHistogram over an empty (or all-NULL) relation")
    val ranked = ScalableRank.withRank(nonNull, valueCol, "$td.__rk",
      method = "ordinal", tiebreakers = tiebreakers)
    ranked
      .withColumn("bucket",
        F.floor(((F.col("`$td.__rk`") - 1L) * buckets.toLong).cast("double") /
          F.lit(n.toDouble)).cast("long"))
      .groupBy(F.col("bucket"))
      .agg(F.count(F.lit(1)).as("cnt"),
        F.min(F.col(valueCol)).as("lo"),
        F.max(F.col(valueCol)).as("hi"))
      .orderBy(F.col("bucket").asc)
  }

  /** Gini coefficient of a non-negative column — HOW CONCENTRATED is
    * the corpus (do 1% of documents hold half the tokens?), the
    * composition-skew diagnostic next to [[graft.operators.SkewDiag]]'s
    * key skew. Rank formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n with
    * ordinal ranks from the range shuffle (ties pinned by
    * `tiebreakers`) and both corpus sums in fixed point
    * (floor(t·2^20 + 0.5) DECIMAL(38,0) — partitioning-invariant,
    * engine-replayable); the finishing arithmetic states each double op
    * once. Negative values are rejected (Gini is undefined there);
    * NULLs excluded. Output one row: (n, total, gini). */
  def gini(df: DataFrame, valueCol: String,
      tiebreakers: Seq[String] = Nil): DataFrame =
    giniImpl(df, valueCol, tiebreakers, keyCols = Nil)

  /** Per-group [[gini]]: within-group ranks from ONE composite-key
    * range shuffle ([[ScalableRank.withRankByGroup]] — any number of
    * groups is one extra subplan, never a per-group job), then one
    * keyed aggregation and the same stated finishing per row. Output:
    * (group, n, total, gini) ascending. */
  def giniByGroup(df: DataFrame, groupCol: String, valueCol: String,
      tiebreakers: Seq[String] = Nil): DataFrame =
    giniImpl(df, valueCol, tiebreakers, keyCols = Seq(groupCol))

  /** `keyCols` is Nil (one global row) or the one group column (output
    * `group`, cast to string, NULL groups dropped, ascending). */
  private def giniImpl(df: DataFrame, valueCol: String,
      tiebreakers: Seq[String], keyCols: Seq[String]): DataFrame = {
    val scale = graft.pipeline.QualityModel.GradScale
    def fixed(t: org.apache.spark.sql.Column) =
      F.sum(F.floor(t * F.lit(scale) + F.lit(0.5d)).cast("decimal(38,0)"))
    val group = keyCols.map(_ => F.col("group"))
    val x = F.col(valueCol).cast("double")
    val clean = df.where((Seq(x.isNotNull, x >= 0.0d) ++
      keyCols.map(F.col(_).isNotNull)).reduce(_ && _))
    val ranked =
      if (keyCols.isEmpty) ScalableRank.withRank(clean, valueCol, "$td.__rk",
        method = "ordinal", tiebreakers = tiebreakers)
      else ScalableRank.withRankByGroup(clean, keyCols.head, valueCol,
        "$td.__rk", tiebreakers = tiebreakers)
    val agg = ranked
      .groupBy(keyCols.map(F.col(_).cast("string").as("group")): _*)
      .agg(F.count(F.lit(1)).as("n"),
        fixed(x).as("td_s1"),
        fixed(F.col("`$td.__rk`").cast("double") * x).as("td_s2"))
    val nD = F.col("n").cast("double")
    val s1 = F.col("td_s1").cast("double") / F.lit(scale)
    val s2 = F.col("td_s2").cast("double") / F.lit(scale)
    val out = agg.select(group ++ Seq(F.col("n"), s1.as("total"),
      F.when(F.col("n") > 0L && F.col("td_s1") > 0L,
        ((F.lit(2.0d) * s2) / (nD * s1)) - ((nD + F.lit(1.0d)) / nD))
        .as("gini")): _*)
    if (keyCols.isEmpty) out else out.orderBy(F.col("group").asc)
  }

  /** Lorenz curve in `buckets` equi-depth slices: per slice the row
    * count, exact value sum, and the CUMULATIVE share of the total —
    * "the bottom 80% of documents hold x% of the tokens". Slicing rides
    * the same ordinal range-shuffle rank as [[equiDepthHistogram]];
    * cumulative sums stay DECIMAL-exact over the ≤`buckets` slice rows
    * (a bounded unpartitioned window, the gains-table convention), with
    * one stated share division per row. Output:
    * (bucket, cnt, value_sum, cum_share) ascending. */
  def lorenzCurve(df: DataFrame, valueCol: String, buckets: Int = 10,
      tiebreakers: Seq[String] = Nil): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val scale = graft.pipeline.QualityModel.GradScale
    val x = F.col(valueCol).cast("double")
    val clean = df.where(x.isNotNull && x >= 0.0d)
    val n = clean.count()
    require(n > 0, "lorenzCurve over an empty (or all-negative) relation")
    val ranked = ScalableRank.withRank(clean, valueCol, "$td.__rk",
      method = "ordinal", tiebreakers = tiebreakers)
    val per = ranked
      .withColumn("bucket",
        F.floor(((F.col("`$td.__rk`") - 1L) * buckets.toLong).cast("double") /
          F.lit(n.toDouble)).cast("long"))
      .groupBy(F.col("bucket"))
      .agg(F.count(F.lit(1)).as("cnt"),
        F.sum(F.floor(x * F.lit(scale) + F.lit(0.5d))
          .cast("decimal(38,0)")).as("td_s"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(F.col("bucket").asc)
      .rowsBetween(Long.MinValue, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(F.col("bucket").asc)
      .rowsBetween(Long.MinValue, Long.MaxValue)
    per
      .withColumn("td_cum", F.sum(F.col("td_s")).over(wCum))
      .withColumn("td_tot", F.sum(F.col("td_s")).over(wAll))
      .select(F.col("bucket"), F.col("cnt"),
        (F.col("td_s").cast("double") / F.lit(scale)).as("value_sum"),
        F.when(F.col("td_tot") > 0L,
          F.col("td_cum").cast("double") / F.col("td_tot").cast("double"))
          .as("cum_share"))
      .orderBy(F.col("bucket").asc)
  }
}
