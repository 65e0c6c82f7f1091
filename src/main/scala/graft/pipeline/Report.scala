package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Dataset-card corpus reporting — the per-slice summary table every
  * training-data release publishes (docs, bytes, length distribution per
  * language/source slice). A composition of the exact primitives: keyed
  * aggregation for the counts, [[graft.operators.Quantiles
  * .exactQuantilesByGroup]] for the EXACT median/p95 lengths (order
  * statistics, not percentile_approx estimates). Two shuffles on the
  * group key total; output is #groups rows.
  */
object Report {

  /** Per-`groupCol` corpus card: n_docs, total/mean chars, exact p50/p95
    * char lengths (order statistics at k = max(1, ceil(q·n)), tiebreak
    * pinned by `idCol`), the per-group GINI of lengths (the r13
    * concentration read, same rank formula as [[graft.operators
    * .Quantiles.giniByGroup]]), the mean Flesch reading ease
    * ([[TextAnalysis.readability]]'s exact per-doc arithmetic,
    * fixed-point mean over docs with words), and the mean script-mix
    * fractions ([[TextAnalysis.scriptFractions]], all six ranges) — the
    * full dataset-card slice row in ONE ranked pass plus one keyed
    * aggregation.
    *
    * Shape: the per-doc regex counters are evaluated once in a staged
    * projection, then ONE composite-key range-shuffle rank
    * ([[graft.operators.ScalableRank.withRankByGroup]] — any number of
    * simultaneously-huge slices spread over as many partitions as their
    * size needs, never a one-task-per-group window; the ranked relation
    * is materialized once by its localCheckpoint and re-read by the
    * stat/quantile consumers). Rows with NULL text are excluded (their
    * length would rank nulls-first on Spark and nulls-last on ANSI
    * engines). Output: one row per slice, groups ascending only if the
    * caller sorts. */
  def corpusCard(docs: DataFrame, groupCol: String, textCol: String,
      idCol: String): DataFrame = {
    val scale = QualityModel.GradScale
    def fixed(t: Column): Column =
      F.sum(F.floor(t * F.lit(scale) + F.lit(0.5d)).cast("decimal(38,0)"))
    def unfix(c: Column): Column = c.cast("double") / F.lit(scale)
    val t = F.col(textCol)
    // the six script fractions read off ONE staged code-point kernel
    // (ScriptMixStats — was seven regex scans per doc, the card's
    // heaviest per-byte constant; values bit-identical, oracle unchanged)
    val fracNames = TextAnalysis.ScriptRanges.map { case (n, _) => s"frac_$n" }
    val counters = docs.where(t.isNotNull).select(
      F.col(groupCol), F.col(idCol),
      F.length(t).cast("long").as("td_len"),
      TextAnalysis.tokenCount(t).cast("long").as("td_w"),
      TextAnalysis.sentenceCount(t).cast("long").as("td_sent"),
      TextAnalysis.syllableCount(t).cast("long").as("td_syl"),
      TextAnalysis.scriptStats(t).as("td_scripts"))
    // flesch restated from the staged counters — readability's exact
    // double sequence (each ratio divided once, terms left to right)
    val wD = F.col("td_w").cast("double")
    val staged = counters.select(
      F.col(groupCol) +: F.col(idCol) +: F.col("td_len") +:
        F.when(F.col("td_w") > 0L,
          F.lit(206.835d) - F.lit(1.015d) *
            (wD / F.col("td_sent").cast("double")) -
            F.lit(84.6d) * (F.col("td_syl").cast("double") / wD))
          .as("td_flesch") +:
        TextAnalysis.scriptFractionsFromStats(F.col("td_scripts"))
          .map { case (n, c) => c.as(s"td_$n") }: _*)
    val ranked = graft.operators.ScalableRank.withRankByGroup(
      staged, groupCol, "td_len", "$td.__rk", tiebreakers = Seq(idCol))
    val lenD = F.col("td_len").cast("double")
    val aggCols = Seq(
      F.count(F.lit(1)).as("n_docs"),
      F.sum(F.col("td_len")).as("n_chars"),
      (F.sum(F.col("td_len")).cast("double") / F.count(F.lit(1)))
        .as("mean_chars"),
      fixed(lenD).as("td_s1"),
      fixed(F.col("`$td.__rk`").cast("double") * lenD).as("td_s2"),
      fixed(F.col("td_flesch")).as("td_fl"),
      F.count(F.col("td_flesch")).as("td_fln")) ++
      fracNames.map(n => fixed(F.col(s"td_$n")).as(s"td_s$n"))
    val stats = ranked.groupBy(F.col(groupCol))
      .agg(aggCols.head, aggCols.tail: _*)
    // order statistics against the broadcast per-group n (bounded slice
    // count): k = max(1, ceil(q·n)), the exactQuantilesByGroup contract
    def kOf(q: Double) =
      F.greatest(F.lit(1L), F.ceil(F.lit(q) * F.col("td_gn")))
    val quant = ranked
      .join(F.broadcast(stats.select(F.col(groupCol),
        F.col("n_docs").as("td_gn"))), Seq(groupCol))
      .groupBy(F.col(groupCol))
      .agg(
        F.max(F.when(F.col("`$td.__rk`") === kOf(0.5), F.col("td_len")))
          .as("p50_chars"),
        F.max(F.when(F.col("`$td.__rk`") === kOf(0.95), F.col("td_len")))
          .as("p95_chars"))
    val nD = F.col("n_docs").cast("double")
    val s1 = unfix(F.col("td_s1")); val s2 = unfix(F.col("td_s2"))
    stats.join(quant, Seq(groupCol)).select(
      F.col(groupCol) +: F.col("n_docs") +: F.col("n_chars") +:
        F.col("mean_chars") +: F.col("p50_chars") +: F.col("p95_chars") +:
        F.when(F.col("n_docs") > 0L && F.col("td_s1") > 0L,
          ((F.lit(2.0d) * s2) / (nD * s1)) - ((nD + F.lit(1.0d)) / nD))
          .as("gini_chars") +:
        F.when(F.col("td_fln") > 0L,
          unfix(F.col("td_fl")) / F.col("td_fln").cast("double"))
          .as("mean_flesch") +:
        fracNames.map(n =>
          (unfix(F.col(s"td_s$n")) / nD).as(s"mean_$n")): _*)
  }

  /** MERGEABLE distinct-count sketches per group (Apache DataSketches
    * HLL, the engine Spark ships for `approx_count_distinct`'s persisted
    * sibling): one binary sketch + its estimate per group. The point is
    * the algebra, not the single estimate — sketches persist as plain
    * binary parquet columns and [[mergeDistinctSketches]] unions them
    * WITHOUT rescanning the data, so per-version / per-shard cardinality
    * rolls up incrementally across a 100 TB corpus's history (the
    * distinct-count analog of the Bloom membership index and the LSH band
    * index). Deterministic for a given input set (HLL register updates
    * are order-insensitive), estimate within the standard ~1.6%/√(2^lgK)
    * HLL error. */
  def distinctSketch(df: DataFrame, groupCol: String, col: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(F.col(groupCol))
      .agg(F.expr(s"hll_sketch_agg(`$col`, $lgK)").as("sketch"))
      .select(F.col(groupCol), F.col("sketch"),
        F.expr("hll_sketch_estimate(sketch)").as("estimate"))

  /** Union previously-built sketches (e.g. loaded from per-version
    * parquet) into one estimate — no data rescan.
    * `allowDifferentLgK` permits unioning sketches built at different
    * precisions (the union downgrades to the coarsest). */
  def mergeDistinctSketches(sketches: DataFrame, sketchCol: String = "sketch",
      allowDifferentLgK: Boolean = false): Long =
    sketches.agg(F.expr(
        s"hll_sketch_estimate(hll_union_agg(`$sketchCol`, $allowDifferentLgK))")
        .as("est"))
      .head().getLong(0)

  /** Per-group [[mergeDistinctSketches]]: union each group's sketches
    * (e.g. one per stored version) into one estimate per group — the
    * distinct-count sibling of [[mergeQuantileSketchesByGroup]], still
    * with zero data rescan. Deterministic (HLL register unions are
    * order-insensitive), so merged-vs-whole-corpus equality is exact.
    * Output: (group, estimate). Kept apart from [[mergeDistinctSketches]],
    * which returns a driver-side `Long`, not a relation. */
  def mergeDistinctSketchesByGroup(sketches: DataFrame, groupCol: String,
      sketchCol: String = "sketch",
      allowDifferentLgK: Boolean = false): DataFrame =
    sketches.groupBy(F.col(groupCol))
      .agg(F.expr(
        s"hll_sketch_estimate(hll_union_agg(`$sketchCol`, $allowDifferentLgK))")
        .as("estimate"))

  /** MERGEABLE quantile sketch: a fixed-grid histogram over [lo, hi) with
    * explicit underflow/overflow tails — the quantile-family sibling of
    * [[distinctSketch]]'s HLL algebra. One pass builds per-group count
    * arrays (`bins + 2` longs: [underflow, bin 0..bins-1, overflow]);
    * sketches persist as plain parquet array columns, and
    * [[mergeQuantileSketches]] adds them ELEMENTWISE without rescanning
    * the data — per-version / per-shard length distributions roll up
    * incrementally across a corpus's history. Unlike percentile_approx
    * (not persistable) or KLL (not shipped in Spark), this sketch is
    * DETERMINISTIC: the same rows give the same array under any
    * partitioning, so its quantile answers are oracle-checkable, with
    * error bounded by the grid width (hi−lo)/bins. The grid is chosen
    * a priori (domain knowledge, or a first-pass min/max); values
    * landing outside it are COUNTED in the tails, never dropped, so
    * n is exact and a mis-sized grid is visible in the tail counts.
    * NULL values carry no bin (same rule as [[histogram]]).
    *
    * The grid rides WITH the sketch: (lo, hi, bins) are stamped as
    * columns, so a persisted sketch is self-describing —
    * [[mergeQuantileSketches]] refuses mismatched stamps (same-length
    * arrays over different ranges would otherwise merge silently into a
    * wrong distribution) and [[sketchQuantiles]] reads the grid from the
    * sketch instead of trusting caller-supplied parameters.
    * Output: (group?, counts: array<long>, n: long, lo, hi, bins). */
  /** The deterministic fixed-grid bin of `x` over [lo, hi): 0 =
    * underflow, 1..bins = grid cells, bins+1 = overflow — the shared
    * binning of [[quantileSketch]] and the streaming distribution monitor
    * ([[graft.streaming.Streams.windowedDistribution]]). IEEE doubles
    * with a fixed operation order ((x−lo)·bins, then /(hi−lo)), so an
    * external engine states the identical cell. */
  def gridBin(x: Column, lo: Double, hi: Double, bins: Int): Column = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    F.when(x < lo, F.lit(0L))
      .when(x >= hi, F.lit((bins + 1).toLong))
      .otherwise(F.least(F.lit(bins.toLong),
        F.floor((x - F.lit(lo)) * F.lit(bins.toDouble) / F.lit(hi - lo)) + 1L))
  }

  def quantileSketch(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int, groupCol: Option[String] = None): DataFrame = {
    val x = F.col(valueCol).cast("double")
    binnedSketch(df, x, gridBin(x, lo, hi, bins), bins, groupCol,
      lo, hi, "linear")
  }

  /** The shared body of [[quantileSketch]] and [[logQuantileSketch]]:
    * count the non-NULL `x` rows per `bin` (in [0, bins+1]: 0 =
    * underflow, 1..bins = grid, bins+1 = overflow) and stamp the grid
    * (`lo`, `hi`, `bins`, `scale`). */
  private def binnedSketch(df: DataFrame, x: Column, bin: Column, bins: Int,
      groupCol: Option[String], lo: Double, hi: Double,
      scale: String): DataFrame = {
    val keyCols = groupCol.toSeq.map(F.col)
    val binned = df.where(x.isNotNull)
      .select(keyCols :+ bin.as("td_bin"): _*)
      .groupBy(keyCols :+ F.col("td_bin"): _*)
      .agg(F.count(F.lit(1)).as("td_n"))
    // dense (bins+2)-array per group in ONE scatter aggregate (absent
    // cells 0, duplicate cells raise) — k rows per group in, one row per
    // group out, no window, no driver materialization
    val scatter = graft.expressions.VecAggs.scatterLong(
      F.col("td_bin"), F.col("td_n"), bins + 2).as("counts")
    val grouped =
      if (groupCol.isDefined) binned.groupBy(keyCols: _*).agg(scatter)
      else binned.agg(scatter)
    grouped
      .withColumn("n", F.aggregate(F.col("counts"), F.lit(0L), _ + _))
      .withColumn("lo", F.lit(lo))
      .withColumn("hi", F.lit(hi))
      .withColumn("bins", F.lit(bins))
      .withColumn("scale", F.lit(scale))
  }

  /** LOG-scaled [[quantileSketch]]: bins equi-width in ln(x) over
    * [ln lo, ln hi) — RELATIVE-error quantiles for heavy-tailed values
    * (lengths, counts, latencies), where a linear grid wastes its cells
    * on the bulk and answers the tail at grid-width absolute error. With
    * 64 cells over [1, 4096) every quantile answer is within a factor
    * 4096^(1/64) ≈ 1.14 of the exact order statistic at ANY magnitude.
    * The stamp carries the GRID-space bounds (lo = ln lo, hi = ln hi,
    * scale = "log"), so the merge guard cannot silently combine log and
    * linear sketches, and [[sketchQuantiles]] decodes cells through the
    * libm-consistent exp kernel — fully oracle-checkable. Values ≤ 0
    * (un-loggable) are COUNTED in the underflow tail, never dropped;
    * NULLs carry no bin (the family rule). Requires 0 < lo < hi. */
  def logQuantileSketch(df: DataFrame, valueCol: String, lo: Double,
      hi: Double, bins: Int, groupCol: Option[String] = None): DataFrame = {
    require(lo > 0 && lo < hi, s"need 0 < lo < hi, got [$lo, $hi)")
    val lnLo = java.lang.Math.log(lo)
    val lnHi = java.lang.Math.log(hi)
    val x = F.col(valueCol).cast("double")
    val lnX = graft.expressions.MathKernels.ln(x)
    binnedSketch(df, x, F.when(x <= 0.0d, F.lit(0L))
        .otherwise(gridBin(lnX, lnLo, lnHi, bins)), bins, groupCol,
      lnLo, lnHi, "log")
  }

  /** Union previously-built quantile sketches (same grid) into one:
    * elementwise array addition — no data rescan, the same algebra as
    * [[mergeDistinctSketches]]. Input: any relation of [[quantileSketch]]
    * rows — the (lo, hi, bins) stamp columns are REQUIRED, and the merge
    * raises at action time when the inputs carry more than one distinct
    * grid (same-length arrays over different ranges are the silent
    * corruption this guards against). The identity check rides the merge
    * aggregation itself — no separate driver job. Shape: one posexplode +
    * one (bins+2)-key sum — elementwise addition stays fully parallel, no
    * single-task collect of all sketches. Output: one
    * (counts, n, lo, hi, bins) row. */
  def mergeQuantileSketches(sketches: DataFrame,
      countsCol: String = "counts"): DataFrame =
    mergeQuantileImpl(sketches, countsCol, keyCols = Nil)

  /** The full sketch stamp: the (lo, hi, bins) grid plus the `scale`
    * marker ("linear" | "log") that keeps same-bounds grids over
    * DIFFERENT axes from silently combining. */
  private def requireGridStamp(df: DataFrame): Unit = {
    val stampCols = Seq("lo", "hi", "bins", "scale")
    require(stampCols.forall(df.columns.contains),
      s"sketches must carry their grid stamp " +
        s"${stampCols.mkString("(", ", ", ")")} — (re)build them with " +
        "quantileSketch/logQuantileSketch/binsToSketch")
  }

  /** Per-group [[mergeQuantileSketches]]: elementwise addition of each
    * group's sketches — the per-slice (language, source) roll-up of a
    * dataset card across stored versions, still with zero data rescan.
    * The grid-stamp identity guard applies PER GROUP (every group's
    * sketches must share one (lo, hi, bins)); different groups may use
    * different grids. Output: one (group, counts, n, lo, hi, bins) row
    * per group. */
  def mergeQuantileSketchesByGroup(sketches: DataFrame, groupCol: String,
      countsCol: String = "counts"): DataFrame =
    mergeQuantileImpl(sketches, countsCol, keyCols = Seq(groupCol))

  private def mergeQuantileImpl(sketches: DataFrame, countsCol: String,
      keyCols: Seq[String]): DataFrame = {
    requireGridStamp(sketches)
    val keys = keyCols.map(F.col)
    // a global merge of zero rows still answers one row, so it names the
    // empty input; a keyed merge names the group whose grids disagree
    val mismatch =
      if (keys.isEmpty)
        F.when(F.col("td_g") === 0,
            F.lit("cannot merge an empty set of quantile sketches"))
          .otherwise(F.lit("cannot merge quantile sketches with " +
            "different grids: more than one distinct " +
            "(lo, hi, bins, scale) stamp in the input"))
      else F.concat(F.lit("cannot merge quantile " +
        "sketches with different grids in group ") +:
        keys.map(_.cast("string")): _*)
    // elementwise exact addition in ONE aggregate (the long_vec_sum
    // kernel); the grid guard rides the same aggregation lazily
    // (raise_error at action time) — no per-cell explode (r17)
    sketches.groupBy(keys: _*).agg(
        graft.expressions.VecAggs.longVecSum(F.col(countsCol)).as("td_sum"),
        F.countDistinct(F.struct(F.col("lo"), F.col("hi"), F.col("bins"),
          F.col("scale"))).as("td_g"),
        F.first(F.col("lo")).as("lo"), F.first(F.col("hi")).as("hi"),
        F.first(F.col("bins")).as("bins"),
        F.first(F.col("scale")).as("scale"))
      .select(keys ++ Seq(
        F.when(F.col("td_g") === 1, F.col("td_sum"))
          .otherwise(F.raise_error(mismatch)).as(countsCol),
        F.col("lo"), F.col("hi"), F.col("bins"), F.col("scale")): _*)
      .withColumn("n", F.aggregate(F.col(countsCol), F.lit(0L), _ + _))
      .select(keys ++ Seq(F.col(countsCol), F.col("n"),
        F.col("lo"), F.col("hi"), F.col("bins"), F.col("scale")): _*)
  }

  /** Answer quantiles FROM a sketch: for each q, the lower edge of the
    * first grid cell whose cumulative count reaches ceil(q·n) — a
    * deterministic under-estimate within one grid width of the exact
    * order statistic (the underflow tail answers lo; an overflow hit
    * answers hi). The grid comes from the sketch's own (lo, hi, bins)
    * stamp — no trust-me parameters, no driver probe of the array width.
    * The cell-edge arithmetic is lo + (idx−1)·((hi−lo)/bins): width
    * parenthesized first, in IEEE doubles, so an external engine states
    * the identical value. One row per q: (q, value). */
  def sketchQuantiles(sketch: DataFrame, qs: Seq[Double],
      countsCol: String = "counts"): DataFrame =
    sketchQuantileWalk(sketch, qs, countsCol, keyCols = Nil)

  /** [[sketchQuantiles]] over a GROUPED sketch (one per-group row, e.g.
    * from `quantileSketch(..., groupCol)` or
    * [[mergeQuantileSketchesByGroup]]): the per-slice quantile answers of
    * a dataset card straight from persisted sketches. Output: one row per
    * (group, q). */
  def sketchQuantilesByGroup(sketch: DataFrame, groupCol: String,
      qs: Seq[Double], countsCol: String = "counts"): DataFrame =
    sketchQuantileWalk(sketch, qs, countsCol, keyCols = Seq(groupCol))

  private def sketchQuantileWalk(sketch: DataFrame, qs: Seq[Double],
      countsCol: String, keyCols: Seq[String]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0,1]: $qs")
    requireGridStamp(sketch)
    val spark = sketch.sparkSession
    import spark.implicits._
    val keys = keyCols.map(F.col)
    val qDf = qs.distinct.sorted.toDF("q")
    sketch.select(keys ++ Seq(F.col(countsCol), F.col("n"),
        F.col("lo"), F.col("hi"), F.col("bins"), F.col("scale")): _*)
      .crossJoin(F.broadcast(qDf))
      .select(keys ++ Seq(F.col("q"), F.col("n"),
        F.col("lo"), F.col("hi"), F.col("bins"), F.col("scale"),
        // first index with cumsum >= k, via a running-total scan
        F.aggregate(F.col(countsCol),
          F.struct(F.lit(0L).as("cum"), F.lit(-1).as("hit"), F.lit(0).as("i")),
          (st, c) => F.struct(
            (st("cum") + c).as("cum"),
            F.when(st("hit") >= 0, st("hit"))
              .when(st("cum") + c >=
                F.greatest(F.lit(1L), F.ceil(F.col("q") * F.col("n"))), st("i"))
              .otherwise(F.lit(-1)).as("hit"),
            (st("i") + 1).as("i")),
          st => st("hit")).as("td_idx")): _*)
      .select(keys ++ {
        // grid-space cell edge; a log sketch decodes it back through the
        // libm-consistent exp kernel (its stamp holds ln-space bounds)
        val gridVal = F.when(F.col("td_idx") <= 0, F.col("lo"))
          .when(F.col("td_idx") >= F.col("bins") + 1, F.col("hi"))
          .otherwise(F.col("lo") + (F.col("td_idx") - 1).cast("double") *
            ((F.col("hi") - F.col("lo")) / F.col("bins").cast("double")))
        Seq(F.col("q"),
          F.when(F.col("scale") === "log",
              graft.expressions.MathKernels.exp(gridVal))
            .otherwise(gridVal).as("value"))
      }: _*)
  }

  /** MERGEABLE moment sketch: (n, Σx, Σx², min, max) in FIXED POINT —
    * the mean/std/range row of every dataset card, with exact merge
    * algebra. x and x² map to longs via floor(v·2^scaleBits + 0.5)
    * (pure IEEE ops, externally stateable), and the sums accumulate as
    * DECIMAL(38,0) so no row count overflows them (a long Σx² would
    * saturate near 2^25 rows at |x|≈512); min/max stay longs (monotone
    * under the encoding, so min of codes == code of min). Merging adds
    * the decimals and folds min/max — [[mergeMomentSketches]] ==
    * whole-corpus bit-exactly, like the other integer-algebra sketches.
    * Output: (group?, n, sx, sxx, mn, mx, scale_bits). */
  def momentSketch(df: DataFrame, valueCol: String, scaleBits: Int = 20,
      groupCol: Option[String] = None): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 30,
      s"scaleBits must be in [0, 30], got $scaleBits")
    val scale = (1L << scaleBits).toDouble
    val x = F.col(valueCol).cast("double")
    val fp = F.floor(x * F.lit(scale) + F.lit(0.5)).cast("long")
    val fpp = F.floor(x * x * F.lit(scale) + F.lit(0.5)).cast("long")
    val aggs = Seq(
      F.count(F.lit(1)).as("n"),
      F.sum(fp.cast("decimal(38,0)")).as("sx"),
      F.sum(fpp.cast("decimal(38,0)")).as("sxx"),
      F.min(fp).as("mn"), F.max(fp).as("mx"))
    val keyCols = groupCol.toSeq.map(F.col)
    val base = df.where(x.isNotNull)
    val agged =
      if (groupCol.isDefined)
        base.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
      else base.agg(aggs.head, aggs.tail: _*)
    agged.select(keyCols ++ Seq(F.col("n"), F.col("sx"), F.col("sxx"),
      F.col("mn"), F.col("mx"), F.lit(scaleBits).as("scale_bits")): _*)
  }

  /** Union moment sketches: decimal adds + min/max folds under the
    * scale_bits stamp guard — merge == whole bit-exactly. */
  def mergeMomentSketches(sketches: DataFrame): DataFrame =
    mergeMomentImpl(sketches, keyCols = Nil)

  /** Per-group [[mergeMomentSketches]]. */
  def mergeMomentSketchesByGroup(sketches: DataFrame,
      groupCol: String): DataFrame =
    mergeMomentImpl(sketches, keyCols = Seq(groupCol))

  private def mergeMomentImpl(sketches: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(Seq("n", "sx", "sxx", "mn", "mx", "scale_bits")
        .forall(sketches.columns.contains),
      "moment sketches must carry (n, sx, sxx, mn, mx, scale_bits) — " +
        "(re)build them with momentSketch")
    val keys = keyCols.map(F.col)
    val aggs = Seq(
      F.sum(F.col("n")).as("n"),
      F.sum(F.col("sx")).cast("decimal(38,0)").as("sx"),
      F.sum(F.col("sxx")).cast("decimal(38,0)").as("sxx"),
      F.min(F.col("mn")).as("mn"), F.max(F.col("mx")).as("mx"),
      F.countDistinct(F.col("scale_bits")).as("td_g"),
      F.first(F.col("scale_bits")).as("scale_bits"))
    val agged =
      if (keys.isEmpty) sketches.agg(aggs.head, aggs.tail: _*)
      else sketches.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    agged.select(keys ++ Seq(
      F.when(F.col("td_g") === 1, F.col("n"))
        .otherwise(F.raise_error(
          F.when(F.col("td_g").isNull || F.col("td_g") === 0,
              F.lit("cannot merge an empty set of moment sketches"))
            .otherwise(F.lit("cannot merge moment sketches with " +
              "different stamps: more than one distinct scale_bits"))))
        .as("n"),
      F.col("sx"), F.col("sxx"), F.col("mn"), F.col("mx"),
      F.col("scale_bits")): _*)
  }

  /** Decode (mean, std, min, max) from moment-sketch rows: mean =
    * (sx/n)/2^s, population std = sqrt(max(0, E[x²] − mean²)), min/max
    * decode directly — fixed IEEE operation order throughout, so an
    * external engine states the identical doubles. Works on built OR
    * merged rows, grouped or global. Output:
    * (group?, n, mean, std, min, max). */
  def momentStats(sketch: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    require(Seq("n", "sx", "sxx", "mn", "mx", "scale_bits")
        .forall(sketch.columns.contains),
      "moment sketches must carry (n, sx, sxx, mn, mx, scale_bits) — " +
        "(re)build them with momentSketch")
    val keys = keyCols.map(F.col)
    val scaleD = F.pow(F.lit(2.0), F.col("scale_bits").cast("double"))
    val nD = F.col("n").cast("double")
    val mean = (F.col("sx").cast("double") / nD) / scaleD
    val ex2 = (F.col("sxx").cast("double") / nD) / scaleD
    sketch.select(keys ++ Seq(F.col("n"),
      mean.as("mean"),
      F.sqrt(F.greatest(F.lit(0.0), ex2 - mean * mean)).as("std"),
      (F.col("mn").cast("double") / scaleD).as("min"),
      (F.col("mx").cast("double") / scaleD).as("max")): _*)
  }

  /** Pivot sparse (group?, bin, n) rows — e.g. a window of
    * [[graft.streaming.Streams.windowedDistribution]] output — into
    * stamped [[quantileSketch]] rows, so live windows join the batch
    * sketch algebra (merge with history, [[sketchDrift]] against a
    * baseline). The caller states the grid the bins were computed over;
    * it is stamped into the rows exactly as quantileSketch stamps it.
    * Bins outside [0, bins+1] raise (they cannot come from
    * [[gridBin]]'s cell function). */
  def binsToSketch(df: DataFrame, lo: Double, hi: Double, bins: Int,
      binCol: String = "bin", nCol: String = "n",
      groupCols: Seq[String] = Nil, scale: String = "linear"): DataFrame = {
    require(scale == "linear" || scale == "log",
      s"scale must be linear|log, got $scale")
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val keys = groupCols.map(F.col)
    val checked = F.when(
        F.col(binCol) >= 0 && F.col(binCol) <= bins + 1,
        F.col(binCol).cast("long"))
      .otherwise(F.raise_error(F.concat(
        F.lit(s"bin out of range [0, ${bins + 1}]: "),
        F.col(binCol).cast("string"))))
    val scatter = graft.expressions.VecAggs.scatterLong(
      checked, F.col(nCol).cast("long"), bins + 2).as("counts")
    val grouped =
      if (groupCols.nonEmpty) df.groupBy(keys: _*).agg(scatter)
      else df.agg(scatter)
    grouped
      .withColumn("n", F.aggregate(F.col("counts"), F.lit(0L), _ + _))
      .withColumn("lo", F.lit(lo))
      .withColumn("hi", F.lit(hi))
      .withColumn("bins", F.lit(bins))
      .withColumn("scale", F.lit(scale))
  }

  /** Distribution drift between two stamped sketches over the SAME grid
    * — the "did the new crawl shift my corpus?" check every dataset
    * release runs, answered straight from persisted [[quantileSketch]]
    * rows with zero data rescan. Three standard statistics in one pass
    * over the (bins+2)-cell arrays:
    *
    *  - `psi`  — population stability index, Σ (p−q)·ln(p/q) with
    *    Jeffreys (+0.5/cell) smoothing so empty cells contribute finite
    *    terms: p_i = (c_i + 0.5)/(n + 0.5·(bins+2)). Industry folklore
    *    reads <0.1 as stable, >0.25 as shifted.
    *  - `ks`   — Kolmogorov–Smirnov statistic over the grid ECDFs,
    *    max_i |Σ≤i c_a/n_a − Σ≤i c_b/n_b| (raw proportions, no
    *    smoothing), resolved to grid precision.
    *  - `tvd`  — total variation distance, ½·Σ |c_a/n_a − c_b/n_b|
    *    (raw proportions).
    *
    * All folds run in bin-index order over the dense arrays (IEEE
    * doubles, fixed operation order, [[graft.expressions.MathKernels.ln]]
    * for the log), so an external engine states the identical values.
    * The grid-identity guard rides the plan (raise_error on any row whose
    * two stamps differ) — merging incomparable grids cannot yield a
    * silent number. Inputs are one sketch row each (or one per group for
    * [[sketchDriftByGroup]]); the work is O(groups·bins) in one
    * broadcast join — nothing rescans the corpus. Output:
    * (group?, psi, ks, tvd, n_a, n_b). */
  def sketchDrift(a: DataFrame, b: DataFrame,
      countsCol: String = "counts"): DataFrame =
    sketchDriftImpl(a, b, countsCol, keyCols = Nil)

  /** [[sketchDrift]] per group (e.g. per-language length drift between
    * two corpus versions): inner join on `groupCol` — groups absent from
    * either side have no drift row. */
  def sketchDriftByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      countsCol: String = "counts"): DataFrame =
    sketchDriftImpl(a, b, countsCol, keyCols = Seq(groupCol))

  /** Drift of EVERY group/window in `a` against ONE global `baseline`
    * sketch row — the live-monitoring shape: per-hour (or per-slice)
    * sketches each compared to the corpus baseline, one broadcast of the
    * single baseline row. Output: one (group, psi, ks, tvd, n_a, n_b)
    * row per group of `a`. */
  def sketchDriftVsBaseline(a: DataFrame, baseline: DataFrame,
      groupCol: String, countsCol: String = "counts"): DataFrame =
    sketchDriftImpl(a, baseline, countsCol, keyCols = Seq(groupCol),
      joinOnKeys = false)

  /** The paired-cells prefix of the drift and JSD statistics: both
    * stamps checked, `a` joined to the broadcast `b` (on `keyCols`, or
    * crossed with one global `b` row when `keyCols` is empty or
    * `joinOnKeys` is false), and the zipped (ca, cb) cell array staged
    * as `td_z` beside `n_a`, `n_b` and `td_binsa`, raising when the two
    * (lo, hi, bins, scale) stamps differ. */
  private def pairedCells(a: DataFrame, b: DataFrame, countsCol: String,
      keyCols: Seq[String], joinOnKeys: Boolean): DataFrame = {
    requireGridStamp(a); requireGridStamp(b)
    def side(df: DataFrame, sfx: String, keys: Seq[String]) = df.select(
      keys.map(F.col) ++ Seq(
        F.col(countsCol).as(s"td_c$sfx"), F.col("n").as(s"n_$sfx"),
        F.col("lo").as(s"td_lo$sfx"), F.col("hi").as(s"td_hi$sfx"),
        F.col("bins").as(s"td_bins$sfx"),
        F.col("scale").as(s"td_scale$sfx")): _*)
    val joined =
      if (keyCols.isEmpty)
        side(a, "a", Nil).crossJoin(F.broadcast(side(b, "b", Nil)))
      else if (joinOnKeys)
        side(a, "a", keyCols).join(F.broadcast(side(b, "b", keyCols)), keyCols)
      else // keyed `a` vs one global baseline row
        side(a, "a", keyCols).crossJoin(F.broadcast(side(b, "b", Nil)))
    val sameGrid = F.col("td_loa") === F.col("td_lob") &&
      F.col("td_hia") === F.col("td_hib") &&
      F.col("td_binsa") === F.col("td_binsb") &&
      F.col("td_scalea") === F.col("td_scaleb")
    // stage the zipped (ca, cb) array as a bound attribute BEFORE the
    // folds (lambda bodies re-inline unbound producers per element)
    joined.select(keyCols.map(F.col) ++ Seq(
      F.when(sameGrid,
          F.zip_with(F.col("td_ca"), F.col("td_cb"),
            (x, y) => F.struct(x.as("ca"), y.as("cb"))))
        .otherwise(F.raise_error(F.lit("cannot diff sketches with " +
          "different grids: (lo, hi, bins, scale) stamps disagree")))
        .as("td_z"),
      F.col("n_a"), F.col("n_b"), F.col("td_binsa")): _*)
  }

  private def sketchDriftImpl(a: DataFrame, b: DataFrame,
      countsCol: String, keyCols: Seq[String],
      joinOnKeys: Boolean = true): DataFrame = {
    val staged = pairedCells(a, b, countsCol, keyCols, joinOnKeys)
    val naD = F.col("n_a").cast("double")
    val nbD = F.col("n_b").cast("double")
    val cellsD = (F.col("td_binsa") + 2).cast("double")
    val ln = graft.expressions.MathKernels.ln _
    def smoothed(c: Column, n: Column) =
      (c.cast("double") + F.lit(0.5)) / (n + F.lit(0.5) * cellsD)
    val psi = F.aggregate(F.col("td_z"), F.lit(0.0), (acc, s) => {
      val pa = smoothed(s.getField("ca"), naD)
      val pb = smoothed(s.getField("cb"), nbD)
      acc + (pa - pb) * ln((pa / pb).cast("double"))
    })
    val ks = F.aggregate(F.col("td_z"),
      F.struct(F.lit(0L).as("ca"), F.lit(0L).as("cb"),
        F.lit(0.0).as("maxd")),
      (st, s) => {
        val ca = st.getField("ca") + s.getField("ca")
        val cb = st.getField("cb") + s.getField("cb")
        F.struct(ca.as("ca"), cb.as("cb"),
          F.greatest(st.getField("maxd"),
            F.abs(ca.cast("double") / naD - cb.cast("double") / nbD))
            .as("maxd"))
      },
      st => st.getField("maxd"))
    val tvd = F.lit(0.5) * F.aggregate(F.col("td_z"), F.lit(0.0),
      (acc, s) => acc + F.abs(s.getField("ca").cast("double") / naD -
        s.getField("cb").cast("double") / nbD))
    staged.select(keyCols.map(F.col) ++ Seq(psi.as("psi"), ks.as("ks"),
      tvd.as("tvd"), F.col("n_a"), F.col("n_b")): _*)
  }

  /** Jensen–Shannon divergence between two stamped sketches over the
    * SAME grid — the symmetric, always-finite companion of
    * [[sketchDrift]]'s PSI (PSI needs smoothing to tolerate empty cells
    * and is unbounded; JSD is 0 ≤ jsd ≤ ln 2 with NO smoothing: a cell
    * empty on one side contributes only the present side's term, 0·ln0
    * = 0 by definition). jsd = ½·Σ_i [p·ln(p/m) + q·ln(q/m)] with
    * p = c_a/n_a, q = c_b/n_b, m = (p+q)/2 — one bin-ordered fold over
    * the zipped dense arrays (IEEE doubles, fixed op order, the libm ln
    * kernel), zero data rescan, the same grid-identity guard as the
    * drift family. Output one row: (jsd, jsd_norm = jsd/ln 2, n_a,
    * n_b). */
  def sketchJsd(a: DataFrame, b: DataFrame,
      countsCol: String = "counts"): DataFrame =
    sketchJsdImpl(a, b, countsCol, keyCols = Nil)

  /** JSD of EVERY group/window sketch in `a` against ONE global
    * `baseline` row — the [[sketchDriftVsBaseline]] live-monitoring
    * shape with the bounded symmetric statistic: per-hour windows from
    * [[graft.streaming.Streams.windowedQuantileSketch]] each scored
    * against the stored corpus baseline, one broadcast row. */
  def sketchJsdVsBaseline(a: DataFrame, baseline: DataFrame,
      groupCol: String, countsCol: String = "counts"): DataFrame =
    sketchJsdImpl(a, baseline, countsCol, keyCols = Seq(groupCol))

  /** JSD of each `keyCols` row of `a` against the one row of `b`. */
  private def sketchJsdImpl(a: DataFrame, b: DataFrame,
      countsCol: String, keyCols: Seq[String]): DataFrame = {
    val staged = pairedCells(a, b, countsCol, keyCols, joinOnKeys = false)
    val naD = F.col("n_a").cast("double")
    val nbD = F.col("n_b").cast("double")
    val ln = graft.expressions.MathKernels.ln _
    val jsd = F.lit(0.5) * F.aggregate(F.col("td_z"), F.lit(0.0),
      (acc, s) => {
        val p = s.getField("ca").cast("double") / naD
        val q = s.getField("cb").cast("double") / nbD
        val m = (p + q) / F.lit(2.0)
        acc +
          (F.when(s.getField("ca") > 0L, p * ln((p / m).cast("double")))
            .otherwise(F.lit(0.0)) +
            F.when(s.getField("cb") > 0L, q * ln((q / m).cast("double")))
              .otherwise(F.lit(0.0)))
      })
    // REPORT AT FIXED POINT 2^20: the Math.log intrinsic was measured
    // 1 ulp off glibc/DuckDB ln at x=0.5639405471386516 (the first
    // counterexample to the MathKernels parity note — JSD's p/m ratio
    // args hit it where PSI's smoothed args had not), so the exact
    // double sum is NOT engine-portable in its last ulp; one stated
    // round-half-up at 2^20 (≈6 decimal digits, far beyond any drift
    // read) makes the answer identical on any libm within 1 ulp.
    def q20(c: Column) =
      F.floor(c * F.lit(1048576.0d) + F.lit(0.5d)).cast("long")
        .cast("double") / F.lit(1048576.0d)
    staged.select(keyCols.map(F.col) ++ Seq(q20(jsd).as("jsd"),
      q20(jsd / ln(F.lit(2.0d))).as("jsd_norm"),
      F.col("n_a"), F.col("n_b")): _*)
  }

  /** MERGEABLE embedding-centroid sketch: per-dimension FIXED-POINT sums
    * of an `Array[Float]` column — the embedding-space face of the sketch
    * algebra ([[distinctSketch]], [[quantileSketch]]). Each coordinate
    * maps to round-half-up fixed point via floor(x·2^scaleBits + 0.5)
    * (pure IEEE ops — the ·2^k product is exact, so an external engine
    * states the identical long), and the per-dimension LONG sums are
    * order-insensitive and overflow-safe (|x|≤2^10, 2^20 scale, 2^33
    * rows before a long saturates). Because the algebra is exact integer
    * addition, [[mergeEmbeddingSketches]] == whole-corpus BIT-EXACTLY —
    * unlike float mean merging, shard/version roll-ups lose nothing. The
    * plan is `dim` map-side partial sums in ONE aggregation — no explode,
    * no per-dimension shuffle; output one (dim+stamp) row per group.
    * Output: (group?, sums: array<long>, n, dim, scale_bits). */
  def embeddingSketch(df: DataFrame, vecCol: String, dim: Int,
      scaleBits: Int = 20, groupCol: Option[String] = None): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(scaleBits >= 0 && scaleBits <= 30,
      s"scaleBits must be in [0, 30], got $scaleBits")
    val scale = (1L << scaleBits).toDouble
    val v = F.col(vecCol)
    val sums = (0 until dim).map { i =>
      F.sum(F.floor(F.element_at(v, i + 1).cast("double") * F.lit(scale) +
        F.lit(0.5)).cast("long")).as(s"td_s$i")
    }
    val aggs = sums :+ F.count(F.lit(1)).as("n")
    val keyCols = groupCol.toSeq.map(F.col)
    val base = df.where(v.isNotNull)
    val agged =
      if (groupCol.isDefined)
        base.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
      else base.agg(aggs.head, aggs.tail: _*)
    agged.select(keyCols ++ Seq(
      F.array((0 until dim).map(i => F.col(s"td_s$i")): _*).as("sums"),
      F.col("n"), F.lit(dim).as("dim"),
      F.lit(scaleBits).as("scale_bits")): _*)
  }

  /** Union embedding-centroid sketches: elementwise long addition under
    * the (dim, scale_bits) stamp guard — exact, so merge(a, b) ==
    * sketch(a ∪ b) bit-identically (proven in PipelineSpec). Same
    * posexplode + keyed-sum shape as [[mergeQuantileSketches]]. */
  def mergeEmbeddingSketches(sketches: DataFrame): DataFrame =
    mergeEmbSketchImpl(sketches, keyCols = Nil)

  /** Per-group [[mergeEmbeddingSketches]] (e.g. per-label or per-source
    * centroid roll-up across stored versions). */
  def mergeEmbeddingSketchesByGroup(sketches: DataFrame,
      groupCol: String): DataFrame =
    mergeEmbSketchImpl(sketches, keyCols = Seq(groupCol))

  private def mergeEmbSketchImpl(sketches: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val stampCols = Seq("dim", "scale_bits")
    require((stampCols ++ Seq("sums", "n")).forall(sketches.columns.contains),
      "embedding sketches must carry (sums, n, dim, scale_bits) — " +
        "(re)build them with embeddingSketch")
    val keys = keyCols.map(F.col)
    // elementwise exact addition in ONE aggregate (the long_vec_sum
    // kernel); stamp guard rides the same aggregation lazily — no
    // per-dimension explode (r17)
    val aggCols = Seq(
      graft.expressions.VecAggs.longVecSum(F.col("sums")).as("td_sum"),
      F.sum(F.col("n")).as("n"),
      F.countDistinct(F.struct(F.col("dim"), F.col("scale_bits")))
        .as("td_g"),
      F.first(F.col("dim")).as("dim"),
      F.first(F.col("scale_bits")).as("scale_bits"))
    val assembled =
      if (keys.isEmpty) sketches.agg(aggCols.head, aggCols.tail: _*)
      else sketches.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
    assembled.select(keys ++ Seq(
      F.when(F.col("td_g") === 1, F.col("td_sum"))
        .otherwise(F.raise_error(
          F.when(F.col("td_g") === 0,
              F.lit("cannot merge an empty set of embedding sketches"))
            .otherwise(F.lit("cannot merge embedding sketches with " +
              "different stamps: more than one distinct (dim, scale_bits) " +
              "in the input"))))
        .as("sums"),
      F.col("n"), F.col("dim"), F.col("scale_bits")): _*)
  }

  /** Embedding-space drift between two centroid sketches: cosine of the
    * mean vectors, L2 centroid shift, and the largest per-dimension mean
    * shift — the "did my embedding distribution move?" release check,
    * answered from two (dim+stamp) rows with zero corpus rescan. Means
    * decode as (sum/n)/2^scaleBits in a fixed order; the cosine and L2
    * folds run in dimension order, so an external engine states the
    * identical doubles. Stamp guard rides the plan like [[sketchDrift]].
    * Output: (group?, cos_means, l2_shift, max_dim_shift, n_a, n_b). */
  def embeddingDrift(a: DataFrame, b: DataFrame): DataFrame =
    embeddingDriftImpl(a, b, keyCols = Nil)

  /** [[embeddingDrift]] per group — inner join on `groupCol`. */
  def embeddingDriftByGroup(a: DataFrame, b: DataFrame,
      groupCol: String): DataFrame =
    embeddingDriftImpl(a, b, keyCols = Seq(groupCol))

  private def embeddingDriftImpl(a: DataFrame, b: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    Seq(a, b).foreach(df => require(
      Seq("sums", "n", "dim", "scale_bits").forall(df.columns.contains),
      "embedding sketches must carry (sums, n, dim, scale_bits) — " +
        "(re)build them with embeddingSketch"))
    def side(df: DataFrame, sfx: String) = df.select(
      keyCols.map(F.col) ++ Seq(
        F.col("sums").as(s"td_s$sfx"), F.col("n").as(s"n_$sfx"),
        F.col("dim").as(s"td_dim$sfx"),
        F.col("scale_bits").as(s"td_sb$sfx")): _*)
    val joined =
      if (keyCols.isEmpty) side(a, "a").crossJoin(F.broadcast(side(b, "b")))
      else side(a, "a").join(F.broadcast(side(b, "b")), keyCols)
    val sameStamp = F.col("td_dima") === F.col("td_dimb") &&
      F.col("td_sba") === F.col("td_sbb")
    val scaleD = F.pow(F.lit(2.0), F.col("td_sba").cast("double"))
    def means(sums: Column, n: Column) =
      F.transform(sums, s => (s.cast("double") / n.cast("double")) / scaleD)
    // stage the zipped mean arrays as a bound attribute before the folds
    val staged = joined.select(keyCols.map(F.col) ++ Seq(
      F.when(sameStamp,
          F.zip_with(means(F.col("td_sa"), F.col("n_a")),
            means(F.col("td_sb"), F.col("n_b")),
            (x, y) => F.struct(x.as("ma"), y.as("mb"))))
        .otherwise(F.raise_error(F.lit("cannot diff embedding sketches " +
          "with different stamps: (dim, scale_bits) disagree")))
        .as("td_z"),
      F.col("n_a"), F.col("n_b")): _*)
    def fold(term: Column => Column) =
      F.aggregate(F.col("td_z"), F.lit(0.0), (acc, s) => acc + term(s))
    val dot = fold(s => s.getField("ma") * s.getField("mb"))
    val na2 = fold(s => s.getField("ma") * s.getField("ma"))
    val nb2 = fold(s => s.getField("mb") * s.getField("mb"))
    val l2 = F.sqrt(fold(s =>
      (s.getField("ma") - s.getField("mb")) *
        (s.getField("ma") - s.getField("mb"))))
    val maxShift = F.aggregate(F.col("td_z"), F.lit(0.0), (acc, s) =>
      F.greatest(acc, F.abs(s.getField("ma") - s.getField("mb"))))
    staged.select(keyCols.map(F.col) ++ Seq(
      (dot / (F.sqrt(na2) * F.sqrt(nb2))).as("cos_means"),
      l2.as("l2_shift"), maxShift.as("max_dim_shift"),
      F.col("n_a"), F.col("n_b")): _*)
  }

  /** Exact equi-width histogram of a numeric column — the length/score
    * distribution plot behind every dataset card, computed exactly: the
    * [min, max] range rides as a broadcast 1-row relation, each row maps
    * to bin = min(bins−1, floor((x−mn)·bins/(mx−mn))) in a codegen'd
    * projection, and one keyed aggregation counts per bin (≤ `bins`
    * output rows). A constant column degenerates to a single bin 0. All
    * arithmetic in IEEE doubles with a fixed operation order, so an
    * external engine states the identical bin function. Output:
    * (bin, lo, hi, n) for non-empty bins. */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame =
    histogramImpl(df, valueCol, bins, keyCols = Nil)

  /** Per-group exact equi-width histograms — one [[histogram]] per slice
    * (language, source) over EACH GROUP'S OWN [min, max] range, the way
    * a dataset card plots per-language length distributions. The group
    * ranges come from one keyed aggregation (k rows, broadcast back);
    * binning stays row-local; one keyed count per (group, bin). Output:
    * (group, bin, lo, hi, n). */
  def histogramByGroup(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int): DataFrame =
    histogramImpl(df, valueCol, bins, keyCols = Seq(groupCol))

  private def histogramImpl(df: DataFrame, valueCol: String, bins: Int,
      keyCols: Seq[String]): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val keys = keyCols.map(F.col)
    val x = F.col(valueCol).cast("double")
    val bounds = df.groupBy(keys: _*)
      .agg(F.min(x).as("$td.__mn"), F.max(x).as("$td.__mx"))
    val mn = F.col("`$td.__mn`")
    val mx = F.col("`$td.__mx`")
    val bin = F.when(mx === mn, F.lit(0L)).otherwise(
      F.least(F.lit((bins - 1).toLong),
        F.floor((x - mn) * F.lit(bins.toDouble) / (mx - mn))))
    // NULL values carry no bin: least() skips the NULL floor and would
    // silently count them in the top bin — drop them before binning (the
    // min/max bounds already ignore NULLs, so this is the matching rule)
    val rows = df.where(x.isNotNull)
    val withBounds =
      if (keyCols.isEmpty) rows.crossJoin(F.broadcast(bounds))
      else rows.join(F.broadcast(bounds), keyCols)
    withBounds
      .select(keys ++ Seq(bin.as("bin"), mn, mx): _*)
      .groupBy(keys ++ Seq(F.col("bin"), mn, mx): _*)
      .agg(F.count(F.lit(1)).as("n"))
      .select(keys ++ Seq(F.col("bin"),
        (mn + F.col("bin").cast("double") * (mx - mn) / F.lit(bins.toDouble)).as("lo"),
        (mn + (F.col("bin") + F.lit(1L)).cast("double") * (mx - mn) /
          F.lit(bins.toDouble)).as("hi"),
        F.col("n")): _*)
  }

  /** EXACT corpus-to-corpus overlap at two granularities — the
    * dataset-card line answering "how much of B is already in A" before a
    * merge, and "did my eval set leak into training" at the corpus level
    * (the between-dataset view of what [[Decontaminate]] flags per doc):
    *
    *   - document level: distinct normalized-text keys
    *     ([[TextAnalysis.normalizeText]] md5 — the CCNet canonical key),
    *   - n-gram level: distinct word n-gram shingles (same kernel and
    *     short-doc fallback as the dedup family).
    *
    * One row out: per granularity the distinct-unit counts of each side,
    * the intersection, containment in each direction (|∩|/|A|, |∩|/|B|)
    * and Jaccard. Shape: per side one distinct (map-side combined), then
    * one co-partitioned full outer join per granularity counted in a
    * single aggregation — linear, no driver materialization; the two
    * 1-row aggregates broadcast-cross at the end. */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String,
      n: Int = 3): DataFrame = {
    def docKeys(df: DataFrame, mark: String) = df
      .select(F.md5(TextAnalysis.normalizeText(F.col(textCol))
        .cast(org.apache.spark.sql.types.BinaryType)).as("$td.__k"))
      .distinct().withColumn(mark, F.lit(1))
    def gramKeys(df: DataFrame, mark: String) = df
      .select(TextAnalysis.tokens(F.col(textCol)).as("$td.__toks"))
      .select(Dedup.shinglesFromTokens(F.col("`$td.__toks`"), n).as("$td.__sh"))
      .select(F.explode(F.col("`$td.__sh`")).as("$td.__k"))
      .distinct().withColumn(mark, F.lit(1))
    def overlap(ka: DataFrame, kb: DataFrame, pfx: String) =
      ka.join(kb, Seq("$td.__k"), "full_outer").agg(
        F.count(F.col("`$td.__a`")).as(s"${pfx}_a"),
        F.count(F.col("`$td.__b`")).as(s"${pfx}_b"),
        F.count(F.when(F.col("`$td.__a`").isNotNull &&
          F.col("`$td.__b`").isNotNull, 1)).as(s"${pfx}_common"))
    def ratios(pfx: String) = Seq(
      (F.col(s"${pfx}_common").cast("double") /
        F.col(s"${pfx}_a").cast("double")).as(s"${pfx}_contain_a"),
      (F.col(s"${pfx}_common").cast("double") /
        F.col(s"${pfx}_b").cast("double")).as(s"${pfx}_contain_b"),
      (F.col(s"${pfx}_common").cast("double") /
        (F.col(s"${pfx}_a") + F.col(s"${pfx}_b") - F.col(s"${pfx}_common"))
          .cast("double")).as(s"${pfx}_jaccard"))
    overlap(docKeys(a, "$td.__a"), docKeys(b, "$td.__b"), "docs")
      .crossJoin(F.broadcast(
        overlap(gramKeys(a, "$td.__a"), gramKeys(b, "$td.__b"), "ngrams")))
      .select(
        Seq("docs_a", "docs_b", "docs_common").map(F.col) ++ ratios("docs") ++
          Seq("ngrams_a", "ngrams_b", "ngrams_common").map(F.col) ++
          ratios("ngrams"): _*)
  }

  /** One-pass column profiler — the ANALYZE-style dataset card: for
    * every column, rows / nulls / EXACT distinct count plus typed
    * extrema (numeric min/max/sum/mean as doubles; everything else
    * min/max through a string cast — ISO date/string order is
    * lexicographic, so the extrema are the true ones). ONE aggregation
    * job over the corpus: the distinct counts ride Spark's expand
    * (ncols× row amplification inside the pass — the documented price
    * of exactness; profile a column subset via `cols` when that
    * matters), the unpivot to one-row-per-column explodes the SINGLE
    * aggregated row, so nothing rescans. Numeric sums run in exact
    * DECIMAL then cast — mean = sum/count stated as one double
    * division, engine-portable. Output: (column, dtype, n_rows,
    * n_nulls, n_distinct, min_num, max_num, min_str, max_str, sum_num,
    * mean) ordered by column name. */
  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets = (if (cols.nonEmpty) cols else df.columns.toSeq).sorted
    require(targets.nonEmpty, "profile of zero columns")
    val nullD = F.lit(null).cast("double")
    val nullS = F.lit(null).cast("string")
    def isNum(c: String) = df.schema(c).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val aggs = targets.flatMap { c =>
      val col = F.col(c)
      Seq(F.count(col).as(s"td_cnt_$c"),
        F.count_distinct(col).as(s"td_dis_$c")) ++
        (if (isNum(c)) Seq(
          F.min(col).cast("double").as(s"td_min_$c"),
          F.max(col).cast("double").as(s"td_max_$c"),
          F.sum(col.cast("decimal(28,4)")).cast("double").as(s"td_sum_$c"))
        else Seq(
          F.min(col.cast("string")).as(s"td_mins_$c"),
          F.max(col.cast("string")).as(s"td_maxs_$c")))
    }
    val one = df.agg(F.count(F.lit(1)).as("td_n"), aggs: _*)
    val entries = targets.map { c =>
      val mean = F.when(F.col(s"td_cnt_$c") > 0L,
          F.col(s"td_sum_$c") / F.col(s"td_cnt_$c").cast("double"))
        .otherwise(nullD)
      F.struct(
        F.lit(c).as("column"),
        F.lit(df.schema(c).dataType.simpleString).as("dtype"),
        F.col("td_n").as("n_rows"),
        (F.col("td_n") - F.col(s"td_cnt_$c")).as("n_nulls"),
        F.col(s"td_dis_$c").as("n_distinct"),
        (if (isNum(c)) F.col(s"td_min_$c") else nullD).as("min_num"),
        (if (isNum(c)) F.col(s"td_max_$c") else nullD).as("max_num"),
        (if (isNum(c)) nullS else F.col(s"td_mins_$c")).as("min_str"),
        (if (isNum(c)) nullS else F.col(s"td_maxs_$c")).as("max_str"),
        (if (isNum(c)) F.col(s"td_sum_$c") else nullD).as("sum_num"),
        (if (isNum(c)) mean else nullD).as("mean"))
    }
    one.select(F.explode(F.array(entries: _*)).as("td_p"))
      .select("td_p.*")
  }

  /** MERGEABLE per-column profile stamp — the versioned-store face of
    * [[profile]]: the same one-pass aggregation, but every statistic is
    * kept in its merge-closed form (counts, min/max, and the numeric sum
    * still in exact DECIMAL, no finishing divisions), so per-version
    * stamps roll up through [[mergeProfiles]] with zero rescan of
    * history, bit-equal to profiling the union. `n_distinct` is
    * deliberately ABSENT: exact distinct counts do not merge (shards can
    * share values); pair the stamp with a KMV/Bloom sketch when the
    * rollup needs distinct counts — that family already has all three
    * faces. Output: (column, dtype, n_rows, n_cnt, min_num, max_num,
    * min_str, max_str, sum_dec) — one row per profiled column. */
  def profileStamp(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets = (if (cols.nonEmpty) cols else df.columns.toSeq).sorted
    require(targets.nonEmpty, "profileStamp of zero columns")
    val one = df.agg(F.count(F.lit(1)).as("td_n"),
      stampAggs(df.schema, targets): _*)
    one.select(F.explode(F.array(stampEntries(df.schema, targets): _*))
        .as("td_p"))
      .select("td_p.*")
  }

  /** The per-column aggregate expressions behind [[profileStamp]] —
    * shared with the streaming face ([[graft.streaming.Streams
    * .windowedProfile]]), so a window stamp and a version stamp are the
    * same algebra and merge interchangeably. */
  private[graft] def stampAggs(schema: org.apache.spark.sql.types.StructType,
      targets: Seq[String]): Seq[Column] =
    targets.flatMap { c =>
      val col = F.col(c)
      val num = schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      Seq(F.count(col).as(s"td_cnt_$c")) ++
        (if (num) Seq(
          F.min(col).cast("double").as(s"td_min_$c"),
          F.max(col).cast("double").as(s"td_max_$c"),
          // DECIMAL(38,4) carries the (28,4) per-version sums with merge
          // headroom; exact integer/fixed-point algebra commutes, so
          // Σ_versions Σ_rows == Σ_union bit-for-bit
          F.sum(col.cast("decimal(28,4)")).cast("decimal(38,4)")
            .as(s"td_sum_$c"))
        else Seq(
          F.min(col.cast("string")).as(s"td_mins_$c"),
          F.max(col.cast("string")).as(s"td_maxs_$c")))
    }

  /** The stamp-entry structs assembled from [[stampAggs]] output columns
    * (plus `td_n`); shared with the streaming face. */
  private[graft] def stampEntries(schema: org.apache.spark.sql.types.StructType,
      targets: Seq[String]): Seq[Column] = {
    val nullD = F.lit(null).cast("double")
    val nullS = F.lit(null).cast("string")
    val nullDec = F.lit(null).cast("decimal(38,4)")
    targets.map { c =>
      val num = schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      F.struct(
        F.lit(c).as("column"),
        F.lit(schema(c).dataType.simpleString).as("dtype"),
        F.col("td_n").as("n_rows"),
        F.col(s"td_cnt_$c").as("n_cnt"),
        (if (num) F.col(s"td_min_$c") else nullD).as("min_num"),
        (if (num) F.col(s"td_max_$c") else nullD).as("max_num"),
        (if (num) nullS else F.col(s"td_mins_$c")).as("min_str"),
        (if (num) nullS else F.col(s"td_maxs_$c")).as("max_str"),
        (if (num) F.col(s"td_sum_$c") else nullDec).as("sum_dec"))
    }
  }

  /** Roll up [[profileStamp]] rows from several versions/shards into the
    * union's profile WITHOUT rescanning data: counts add, min/max fold,
    * decimal sums add exactly, and the finishing arithmetic (n_nulls,
    * double cast, one stated mean division) matches [[profile]]'s — so
    * for disjoint shards the rollup is bit-equal to profiling the union
    * (minus `n_distinct`, which does not merge; see [[profileStamp]]).
    * Stamps disagreeing on a column's dtype raise loudly (the
    * [[mergeQuantileSketches]] stamp-identity convention — a profile of
    * a recast column must not silently fold into the old one). Output:
    * (column, dtype, n_rows, n_nulls, min_num, max_num, min_str,
    * max_str, sum_num, mean) ascending by column. */
  def mergeProfiles(stamps: DataFrame): DataFrame = {
    val need = Seq("column", "dtype", "n_rows", "n_cnt", "sum_dec")
    require(need.forall(stamps.columns.contains),
      "profile stamps must carry (column, dtype, n_rows, n_cnt, sum_dec) " +
        "— (re)build with profileStamp")
    val dtypeGuard = F.when(F.countDistinct(F.col("dtype")) === 1,
        F.first(F.col("dtype")))
      .otherwise(F.raise_error(F.concat(
        F.lit("cannot merge profile stamps with different dtypes for "),
        F.first(F.col("column")))))
    stamps
      .groupBy(F.col("column"))
      .agg(dtypeGuard.as("dtype"),
        F.sum(F.col("n_rows")).cast("long").as("n_rows"),
        F.sum(F.col("n_cnt")).cast("long").as("td_cnt"),
        F.min(F.col("min_num")).as("min_num"),
        F.max(F.col("max_num")).as("max_num"),
        F.min(F.col("min_str")).as("min_str"),
        F.max(F.col("max_str")).as("max_str"),
        F.sum(F.col("sum_dec")).as("td_sum"))
      .select(F.col("column"), F.col("dtype"), F.col("n_rows"),
        (F.col("n_rows") - F.col("td_cnt")).as("n_nulls"),
        F.col("min_num"), F.col("max_num"),
        F.col("min_str"), F.col("max_str"),
        F.col("td_sum").cast("double").as("sum_num"),
        F.when(F.col("td_cnt") > 0L && F.col("td_sum").isNotNull,
          F.col("td_sum").cast("double") / F.col("td_cnt").cast("double"))
          .as("mean"))
      .orderBy(F.col("column").asc)
  }

  /** Column-profile drift between two stamp sets (e.g. HEAD vs HEAD~1 of
    * a stored table, each a [[profileStamp]] output or a union of them):
    * the schema-and-stats delta a publish review wants — did a column
    * appear/vanish or change type, did the null rate move, did the mean
    * shift, did the value range widen? FULL OUTER on column (an added or
    * dropped column IS drift), every fraction stated once, deltas NULL
    * when a side is missing. `range_widened` reads the typed extrema
    * (numeric for numeric columns, lexicographic for the rest) and
    * answers false when nothing widened or nothing is comparable.
    * Output: (column, schema_changed, n_rows_cur, n_rows_base,
    * null_frac_cur, null_frac_base, mean_cur, mean_base, mean_delta,
    * range_widened) ascending by column. */
  def profileDrift(cur: DataFrame, base: DataFrame): DataFrame = {
    def side(stamps: DataFrame, sfx: String) =
      mergeProfiles(stamps).select(
        F.col("column"),
        F.col("dtype").as(s"td_dtype_$sfx"),
        F.col("n_rows").as(s"n_rows_$sfx"),
        F.when(F.col("n_rows") > 0L,
          F.col("n_nulls").cast("double") / F.col("n_rows").cast("double"))
          .as(s"null_frac_$sfx"),
        F.col("min_num").as(s"td_minn_$sfx"),
        F.col("max_num").as(s"td_maxn_$sfx"),
        F.col("min_str").as(s"td_mins_$sfx"),
        F.col("max_str").as(s"td_maxs_$sfx"),
        F.col("mean").as(s"mean_$sfx"))
    side(cur, "cur").join(side(base, "base"), Seq("column"), "full_outer")
      .select(F.col("column"),
        (F.col("td_dtype_cur").isNull || F.col("td_dtype_base").isNull ||
          F.col("td_dtype_cur") =!= F.col("td_dtype_base"))
          .as("schema_changed"),
        F.col("n_rows_cur"), F.col("n_rows_base"),
        F.col("null_frac_cur"), F.col("null_frac_base"),
        F.col("mean_cur"), F.col("mean_base"),
        (F.col("mean_cur") - F.col("mean_base")).as("mean_delta"),
        F.coalesce(
          (F.col("td_minn_cur") < F.col("td_minn_base")) ||
            (F.col("td_maxn_cur") > F.col("td_maxn_base")) ||
            (F.col("td_mins_cur") < F.col("td_mins_base")) ||
            (F.col("td_maxs_cur") > F.col("td_maxs_base")),
          F.lit(false)).as("range_widened"))
      .orderBy(F.col("column").asc)
  }

  /** Pairwise Pearson correlations over numeric columns in ONE
    * aggregation pass — the feature-diagnostics face of the dataset
    * card (which engineered quality signals are redundant?). Every
    * corpus-wide sum is fixed point (floor(t·2^20 + 0.5) DECIMAL(38,0),
    * the [[QualityModel]] convention), so the matrix is partitioning-
    * invariant and engine-replayable; the finishing algebra
    * (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²)) is O(d²)
    * driver-side metadata with every double op stated once. Rows with
    * a NULL in ANY target column are excluded (complete-case — the
    * contract that keeps one shared n). Zero-variance columns answer
    * NULL. Output: (col_a, col_b, n, corr) for a < b, ascending. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    val targets = cols.sorted
    val scale = QualityModel.GradScale
    def fixed(t: Column) =
      F.sum(F.floor(t * F.lit(scale) + F.lit(0.5d)).cast("decimal(38,0)"))
    val xs = targets.map(c => F.col(c).cast("double"))
    val clean = df.where(xs.map(_.isNotNull).reduce(_ && _))
    val pairs = for {
      i <- targets.indices; j <- targets.indices if i <= j
    } yield (i, j)
    val aggs = targets.indices.map(i => fixed(xs(i)).as(s"td_s$i")) ++
      pairs.map { case (i, j) => fixed(xs(i) * xs(j)).as(s"td_p${i}_$j") }
    val row = clean.agg(F.count(F.lit(1)).as("td_n"), aggs: _*).head()
    val n = row.getLong(0).toDouble
    val s = targets.indices.map(i =>
      row.getDecimal(1 + i).doubleValue() / scale)
    val p = pairs.zipWithIndex.map { case (ij, k) =>
      ij -> (row.getDecimal(1 + targets.size + k).doubleValue() / scale)
    }.toMap
    def varTerm(i: Int): Double = (n * p((i, i))) - (s(i) * s(i))
    val spark = df.sparkSession
    import spark.implicits._
    val out = for {
      i <- targets.indices; j <- targets.indices if i < j
    } yield {
      val num = (n * p((i, j))) - (s(i) * s(j))
      val d1 = math.sqrt(varTerm(i)); val d2 = math.sqrt(varTerm(j))
      val corr: Option[Double] =
        if (d1 > 0.0d && d2 > 0.0d) Some(num / (d1 * d2)) else None
      (targets(i), targets(j), row.getLong(0), corr)
    }
    out.toDF("col_a", "col_b", "n", "corr")
      .select(F.col("col_a"), F.col("col_b"), F.col("n"),
        F.col("corr").cast("double").as("corr"))
      .orderBy(F.col("col_a").asc, F.col("col_b").asc)
  }

  /** Per-group Pearson correlation of one column pair — the fully
    * IN-PLAN face of [[correlationMatrix]] (group count is unbounded, so
    * the finishing algebra rides the projection instead of the driver):
    * one map-side-combined aggregation of fixed-point sums per group,
    * then the same stated (n·Sxy − Sx·Sy)/(√·√) arithmetic per row.
    * NULL group/x/y rows excluded; zero-variance groups answer NULL.
    * Output: (group, n, corr) ascending. */
  def corrByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val scale = QualityModel.GradScale
    def fixed(t: Column) =
      F.sum(F.floor(t * F.lit(scale) + F.lit(0.5d)).cast("decimal(38,0)"))
    val x = F.col(xCol).cast("double"); val y = F.col(yCol).cast("double")
    val clean = df.where(x.isNotNull && y.isNotNull &&
      F.col(groupCol).isNotNull)
    val agg = clean.groupBy(F.col(groupCol).cast("string").as("group"))
      .agg(F.count(F.lit(1)).as("n"),
        fixed(x).as("td_sx"), fixed(y).as("td_sy"),
        fixed(x * x).as("td_sxx"), fixed(x * y).as("td_sxy"),
        fixed(y * y).as("td_syy"))
    def dbl(c: String) = F.col(c).cast("double") / F.lit(scale)
    val nD = F.col("n").cast("double")
    val num = (nD * dbl("td_sxy")) - (dbl("td_sx") * dbl("td_sy"))
    val vx = (nD * dbl("td_sxx")) - (dbl("td_sx") * dbl("td_sx"))
    val vy = (nD * dbl("td_syy")) - (dbl("td_sy") * dbl("td_sy"))
    agg.select(F.col("group"), F.col("n"),
      F.when(vx > 0.0d && vy > 0.0d,
        num / (F.sqrt(vx) * F.sqrt(vy))).as("corr"))
      .orderBy(F.col("group").asc)
  }

  /** Merge-closed correlation stamp for one column pair: the six
    * fixed-point sums [[corrByGroup]] finishes from, KEPT AS
    * DECIMAL(38,0) (no finishing divisions) so stamps from shards /
    * store versions / stream windows add exactly — the correlation
    * family's analog of [[profileStamp]]. Output one row:
    * (n, sx, sy, sxx, sxy, syy). */
  def corrStamp(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val scale = QualityModel.GradScale
    def fixed(t: Column) =
      F.sum(F.floor(t * F.lit(scale) + F.lit(0.5d)).cast("decimal(38,0)"))
    val x = F.col(xCol).cast("double"); val y = F.col(yCol).cast("double")
    df.where(x.isNotNull && y.isNotNull)
      .agg(F.count(F.lit(1)).as("n"),
        fixed(x).as("sx"), fixed(y).as("sy"), fixed(x * x).as("sxx"),
        fixed(x * y).as("sxy"), fixed(y * y).as("syy"))
  }

  /** Roll [[corrStamp]] rows up to the union's correlation WITHOUT
    * rescanning data: integer/decimal sums add exactly, then the SAME
    * finishing algebra as [[corrByGroup]] — so for disjoint shards the
    * rollup is bit-equal to correlating the union. Output one row:
    * (n, corr). */
  def mergeCorrStamps(stamps: DataFrame): DataFrame = {
    val scale = QualityModel.GradScale
    val agg = stamps.agg(
      F.sum(F.col("n")).cast("long").as("n"),
      F.sum(F.col("sx")).as("sx"), F.sum(F.col("sy")).as("sy"),
      F.sum(F.col("sxx")).as("sxx"), F.sum(F.col("sxy")).as("sxy"),
      F.sum(F.col("syy")).as("syy"))
    def dbl(c: String) = F.col(c).cast("double") / F.lit(scale)
    val nD = F.col("n").cast("double")
    val num = (nD * dbl("sxy")) - (dbl("sx") * dbl("sy"))
    val vx = (nD * dbl("sxx")) - (dbl("sx") * dbl("sx"))
    val vy = (nD * dbl("syy")) - (dbl("sy") * dbl("sy"))
    agg.select(F.col("n"),
      F.when(vx > 0.0d && vy > 0.0d,
        num / (F.sqrt(vx) * F.sqrt(vy))).as("corr"))
  }

  /** Mutual information between two CATEGORICAL columns, with marginal
    * entropies and the normalized coefficient — "does source predict
    * language?", the dependence read a dataset card wants next to the
    * correlation matrix. One shuffle builds the joint cell counts;
    * marginals fold from the cells; the MI/entropy sums ride the
    * [[graft.operators.SkewDiag]] bounded-fold convention (sort_array
    * pins the order, libm ln) so the doubles are engine-stated. The
    * cell relation is |A|·|B| — the categorical contract; NULL in
    * either column excludes the row. Output one row:
    * (n, n_cells, mi, h_a, h_b, nmi) with nmi = mi/√(h_a·h_b), NULL
    * when either entropy is zero. */
  /** Two-proportion z-test over per-unit conversion flags — the A/B
    * readout (did variant A convert more than B, in standard errors):
    * z = (p_a − p_b) / √(p̂(1−p̂)·(1/n_a + 1/n_b)) with the pooled p̂.
    * Input is ONE ROW PER UNIT (deduplicate events upstream — the gate
    * collapses a user's events to a 0/1 flag first); the corpus reduces
    * to two (variant, n, conversions) rows in one keyed count, and the
    * finishing arithmetic is a bounded 2-struct sorted fold (each
    * double op stated once; variants ordered ascending so a is the
    * lexicographically first). Exactly two non-null variants required —
    * anything else answers NULL z with the observed variant count.
    * Output (one row): n_variants, variant_a, variant_b, n_a, n_b,
    * conv_a, conv_b, p_a, p_b, z (NULL when the pooled rate is 0 or
    * 1). */
  def twoProportionZ(df: DataFrame, variantCol: String,
      successCol: String): DataFrame = {
    val v = F.col(variantCol).cast("string")
    val s = F.col(successCol).cast("long")
    val agg = df.where(v.isNotNull && s.isNotNull)
      .groupBy(v.as("td_v"))
      .agg(F.count(F.lit(1)).as("td_n"), F.sum(s).as("td_c"))
    val packed = agg.agg(F.sort_array(F.collect_list(F.struct(
      F.col("td_v"), F.col("td_n"), F.col("td_c")))).as("td_l"))
    val l = F.col("td_l")
    // try_element_at, not element_at: with <2 distinct variants the
    // documented answer is a NULL-z row, and ANSI element_at would
    // throw INVALID_ARRAY_INDEX instead of yielding NULL
    def fld(i: Int, f: String) = F.try_element_at(l, F.lit(i)).getField(f)
    val naD = fld(1, "td_n").cast("double"); val nbD = fld(2, "td_n").cast("double")
    val pa = fld(1, "td_c").cast("double") / naD
    val pb = fld(2, "td_c").cast("double") / nbD
    val pp = (fld(1, "td_c") + fld(2, "td_c")).cast("double") /
      (fld(1, "td_n") + fld(2, "td_n")).cast("double")
    val se = F.sqrt((pp * (F.lit(1.0d) - pp)) *
      ((F.lit(1.0d) / naD) + (F.lit(1.0d) / nbD)))
    packed.select(
      F.size(l).cast("long").as("n_variants"),
      fld(1, "td_v").as("variant_a"), fld(2, "td_v").as("variant_b"),
      fld(1, "td_n").as("n_a"), fld(2, "td_n").as("n_b"),
      fld(1, "td_c").as("conv_a"), fld(2, "td_c").as("conv_b"),
      pa.as("p_a"), pb.as("p_b"),
      F.when(F.size(l) === 2 && pp > 0.0d && pp < 1.0d,
        (pa - pb) / se).as("z"))
  }

  /** Welch's unequal-variance t-test — the PARAMETRIC A/B readout for
    * mean differences when the two variants' variances (and sizes)
    * differ, completing the family between [[twoProportionZ]]
    * (proportions) and [[mannWhitneyU]] (ranks): did variant A's mean
    * metric beat B's, in standard errors, without the pooled-variance
    * assumption Student's t makes. The corpus reduces to two
    * (variant, n, Σfp(v), Σfp(v²)) rows in ONE keyed pass — per-row
    * 2^20 fixed-point images summed in DECIMAL(38,0), so both engines
    * state identical doubles — then the bounded 2-struct sorted fold:
    * m = (Σfp(v)/2^20)/n, s² = (Σfp(v²)/2^20 − n·m²)/(n−1),
    * t = (m_a − m_b)/√(s²_a/n_a + s²_b/n_b), and the Welch–Satterthwaite
    * dof = (s²_a/n_a + s²_b/n_b)² / ((s²_a/n_a)²/(n_a−1) +
    * (s²_b/n_b)²/(n_b−1)) — each double op stated once. ≠2 variants,
    * either n < 2, or zero standard error answer NULL t/dof with the
    * observed counts (the family's ANSI rule). Variant A is the
    * lexicographically first. Output (one row): n_variants, variant_a,
    * variant_b, n_a, n_b, mean_a, mean_b, var_a, var_b, t, dof. */
  def welchT(df: DataFrame, variantCol: String,
      valueCol: String): DataFrame =
    welchTImpl(df, variantCol, valueCol, keyCols = Nil)

  /** Per-slice [[welchT]] — the parametric face of the Simpson's-paradox
    * check ([[mannWhitneyUByGroup]] is the rank face): did variant A's
    * MEAN beat B's in every segment, or only in aggregate. One keyed
    * fixed-point moments pass over (slice, variant) — never a per-slice
    * job — then the bounded per-slice 2-struct fold with the identical
    * finishing doubles as the single-slice operator. Slices with ≠2
    * variants, n < 2 on either side, or zero standard error answer NULL
    * t/dof honestly. Same |value| ≤ 2^21 fixed-point domain as
    * [[welchT]]. Output: (group, n_variants, variant_a, variant_b, n_a,
    * n_b, mean_a, mean_b, var_a, var_b, t, dof) ascending by group. */
  def welchTByGroup(df: DataFrame, groupCol: String, variantCol: String,
      valueCol: String): DataFrame =
    welchTImpl(df, variantCol, valueCol, keyCols = Seq(groupCol))

  /** `keyCols` is Nil (one global row) or the one slice column (output
    * `group`, cast to string, NULL slices dropped, ascending). */
  private def welchTImpl(df: DataFrame, variantCol: String,
      valueCol: String, keyCols: Seq[String]): DataFrame = {
    val slice = keyCols.map(F.col(_).cast("string"))
    val group = keyCols.map(_ => F.col("group"))
    val v = F.col(variantCol).cast("string")
    val x = F.col(valueCol).cast("double")
    val fp = F.floor(x * F.lit(1048576.0d) + F.lit(0.5d))
    val fpp = F.floor((x * x) * F.lit(1048576.0d) + F.lit(0.5d))
    val agg = df.where((slice :+ v :+ x).map(_.isNotNull).reduce(_ && _))
      .groupBy(slice.map(_.as("td_slice")) :+ v.as("td_v"): _*)
      .agg(F.count(F.lit(1)).as("td_n"),
        F.sum(fp.cast("decimal(38,0)")).as("td_sx"),
        F.sum(fpp.cast("decimal(38,0)")).as("td_sxx"))
    val packed = agg
      .groupBy(keyCols.map(_ => F.col("td_slice").as("group")): _*)
      .agg(F.sort_array(F.collect_list(F.struct(
        F.col("td_v"), F.col("td_n"), F.col("td_sx"), F.col("td_sxx"))))
        .as("td_l"))
    val l = F.col("td_l")
    def fld(i: Int, f: String) = F.try_element_at(l, F.lit(i)).getField(f)
    def stats(i: Int): (Column, Column, Column) = {
      val nD = fld(i, "td_n").cast("double")
      val sx = fld(i, "td_sx").cast("double") / F.lit(1048576.0d)
      val sxx = fld(i, "td_sxx").cast("double") / F.lit(1048576.0d)
      val m = sx / nD
      // n = 1 has no sample variance: answer NULL (ANSI would otherwise
      // raise DIVIDE_BY_ZERO on the n−1 denominator)
      val s2 = F.when(fld(i, "td_n") >= 2L,
        (sxx - nD * m * m) / (nD - F.lit(1.0d)))
      (nD, m, s2)
    }
    val (naD, ma, s2a) = stats(1)
    val (nbD, mb, s2b) = stats(2)
    val vna = s2a / naD
    val vnb = s2b / nbD
    val se2 = vna + vnb
    val ok = F.size(l) === 2 && fld(1, "td_n") >= 2L &&
      fld(2, "td_n") >= 2L && se2 > 0.0d
    val out = packed.select(group ++ Seq(
      F.size(l).cast("long").as("n_variants"),
      fld(1, "td_v").as("variant_a"), fld(2, "td_v").as("variant_b"),
      fld(1, "td_n").as("n_a"), fld(2, "td_n").as("n_b"),
      ma.as("mean_a"), mb.as("mean_b"),
      s2a.as("var_a"), s2b.as("var_b"),
      F.when(ok, (ma - mb) / F.sqrt(se2)).as("t"),
      F.when(ok, (se2 * se2) /
        ((vna * vna) / (naD - F.lit(1.0d)) +
          (vnb * vnb) / (nbD - F.lit(1.0d)))).as("dof")): _*)
    if (keyCols.isEmpty) out else out.orderBy(F.col("group").asc)
  }

  /** Cliff's delta — the EFFECT SIZE companion of [[mannWhitneyU]]
    * (a significant z on a huge corpus can mean a trivial effect; δ
    * answers HOW MUCH one variant dominates): δ = P(a > b) − P(a < b)
    * over all cross-variant pairs, computed WITHOUT the quadratic pair
    * enumeration via the exact rank identity δ = (2U_A − n_A·n_B) /
    * (n_A·n_B) — the same single ranked pass as the U test (min-rank +
    * per-value count, Σ2R exact DECIMAL), one stated division at the
    * end. |δ| banded per Romano et al. 2006: < 0.147 negligible,
    * < 0.33 small, < 0.474 medium, else large. ≠2 variants answers
    * NULL δ/magnitude with the observed count. Output (one row):
    * n_variants, variant_a, variant_b, n_a, n_b, u_a, delta,
    * magnitude. */
  def cliffsDelta(df: DataFrame, variantCol: String,
      valueCol: String): DataFrame =
    cliffsDeltaImpl(df, variantCol, valueCol, keyCols = Nil)

  /** Per-slice [[cliffsDelta]] — effect size PER SEGMENT next to
    * [[mannWhitneyUByGroup]]'s per-slice significance (a winning
    * aggregate δ can hide a losing segment — the Simpson's-paradox
    * check an effect-size readout needs). Ranks are computed WITHIN
    * each slice through ONE composite range shuffle
    * (min-ranks — the identity 2U_A = Σ2R_A − n_A(n_A+1) needs
    * tie-stable min ranks, the r16 Mann-Whitney lesson — and tie counts
    * from the same window pass), then the bounded per-slice 2-struct
    * fold. Slices with ≠2 variants answer NULL u_a/delta/magnitude with
    * the observed counts. Output: (group, n_variants, variant_a, variant_b, n_a,
    * n_b, u_a, delta, magnitude) ascending by group. */
  def cliffsDeltaByGroup(df: DataFrame, groupCol: String,
      variantCol: String, valueCol: String): DataFrame =
    cliffsDeltaImpl(df, variantCol, valueCol, keyCols = Seq(groupCol))

  /** `keyCols` as in [[welchTImpl]]. */
  private def cliffsDeltaImpl(df: DataFrame, variantCol: String,
      valueCol: String, keyCols: Seq[String]): DataFrame = {
    val withCnt = minRanksWithTies(df, variantCol, valueCol, keyCols)
    val slice = keyCols.map(_ => F.col("td_s"))
    val perGroup = withCnt.groupBy(slice :+ F.col("td_g"): _*)
      .agg(F.count(F.lit(1)).as("td_n"),
        F.sum((F.lit(2L) * F.col("td_rk") + F.col("td_c") - 1L)
          .cast("decimal(38,0)")).as("td_r2"))
    val packed = perGroup.groupBy(slice.map(_.as("group")): _*)
      .agg(F.sort_array(F.collect_list(F.struct(
        F.col("td_g"), F.col("td_n"), F.col("td_r2")))).as("td_l"))
    val l = F.col("td_l")
    def fld(i: Int, f: String) = F.try_element_at(l, F.lit(i)).getField(f)
    val na = fld(1, "td_n"); val nb = fld(2, "td_n")
    // 2U_A exact: Σ2R_A − n_A(n_A+1); numerator 2U_A − n_A·n_B exact too
    val u2a = fld(1, "td_r2") -
      (na.cast("decimal(19,0)") * (na + 1L).cast("decimal(19,0)"))
        .cast("decimal(38,0)")
    val nab = (na.cast("decimal(19,0)") * nb.cast("decimal(19,0)"))
      .cast("decimal(38,0)")
    val delta = (u2a - nab).cast("double") / nab.cast("double")
    val aDelta = F.abs(delta)
    val out = packed.select(keyCols.map(_ => F.col("group")) ++ Seq(
      F.size(l).cast("long").as("n_variants"),
      fld(1, "td_g").as("variant_a"), fld(2, "td_g").as("variant_b"),
      na.as("n_a"), nb.as("n_b"),
      // u_a only means "A's Mann-Whitney U" when exactly two variants
      // exist — with 3+ the min-ranks include the extra variants' rows
      // and the statistic is cross-contaminated: answer NULL
      F.when(F.size(l) === 2,
        u2a.cast("double") / F.lit(2.0d)).as("u_a"),
      F.when(F.size(l) === 2, delta).as("delta"),
      F.when(F.size(l) === 2,
        F.when(aDelta < 0.147d, "negligible")
          .when(aDelta < 0.33d, "small")
          .when(aDelta < 0.474d, "medium")
          .otherwise("large")).as("magnitude")): _*)
    if (keyCols.isEmpty) out else out.orderBy(F.col("group").asc)
  }

  /** The rank step shared by [[cliffsDeltaImpl]] and [[mannWhitneyUImpl]]:
    * non-NULL rows as (td_s?, td_g = variant, td_x = value) with the
    * MIN-rank `td_rk` of td_x and its tie count `td_c`, globally or within
    * each slice, from one range-shuffle pass. Min-ranks, because the
    * midrank identity 2·mid = 2·min + cnt − 1 needs them — row_number
    * would split tie blocks arbitrarily across variants and desync from
    * the oracle's rank(). */
  private def minRanksWithTies(df: DataFrame, variantCol: String,
      valueCol: String, keyCols: Seq[String]): DataFrame = {
    val slice = keyCols.map(F.col(_).cast("string"))
    val v = F.col(variantCol).cast("string")
    val x = F.col(valueCol).cast("double")
    val clean = df.where((slice :+ v :+ x).map(_.isNotNull).reduce(_ && _))
      .select(slice.map(_.as("td_s")) ++ Seq(v.as("td_g"), x.as("td_x")): _*)
    graft.operators.ScalableRank.minRankAndTies(clean,
      keyCols.headOption.map(_ => "td_s"), "td_x", "td_rk", "td_c")
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) A/B test — the NONPARAMETRIC
    * companion to [[twoProportionZ]] for skewed per-unit metrics
    * (revenue, dwell time), where a mean-based z-test misleads: does
    * one variant stochastically dominate the other, read from ranks
    * alone. Midranks ride [[graft.operators.ScalableRank]]'s range
    * shuffle exactly as the AUC gate's (min-rank + per-value count;
    * 2·midrank = 2·min + cnt − 1 an exact long), so Σ2R_A accumulates
    * in DECIMAL(38,0) and 2U_A = Σ2R_A − 2·(n_A(n_A+1)/2) is exact
    * integer algebra; the tie correction Σ(t³−t) folds from the SAME
    * pass as Σ_rows(c²−1) — each row of a t-block contributes t²−1.
    * Normal approximation with tie correction:
    * z = (U_A − n_A·n_B/2) / √((n_A·n_B/12)·((n+1) − T/(n(n−1)))),
    * each double op stated once (no continuity correction — state the
    * same arithmetic when replaying). Exactly two non-null variants
    * required — anything else answers NULL z with the observed variant
    * count (try_element_at, the [[twoProportionZ]] ANSI rule); all
    * values tied (σ = 0) answers NULL z too. Variant A is the
    * lexicographically first. Output (one row): n_variants, variant_a,
    * variant_b, n_a, n_b, u_a, u_b, tie_term, z. */
  def mannWhitneyU(df: DataFrame, variantCol: String,
      valueCol: String): DataFrame =
    mannWhitneyUImpl(df, variantCol, valueCol, keyCols = Nil)

  /** Per-slice [[mannWhitneyU]] — the fairness/robustness face of the
    * rank-sum test (did variant A beat B in EVERY segment, or only in
    * aggregate — the Simpson's-paradox check an A/B readout needs):
    * the same midrank algebra per slice through ONE composite range
    * shuffle on (slice, value) — ranks and tie counts are computed
    * WITHIN each slice, as running the two-sample test per slice
    * requires; no per-slice jobs — then the bounded per-slice 2-struct
    * fold. Slices with ≠2 variants or all-tied values answer
    * NULL z honestly. Output: (group, n_variants, variant_a, variant_b,
    * n_a, n_b, u_a, u_b, tie_term, z) ascending by group. */
  def mannWhitneyUByGroup(df: DataFrame, groupCol: String,
      variantCol: String, valueCol: String): DataFrame =
    mannWhitneyUImpl(df, variantCol, valueCol, keyCols = Seq(groupCol))

  /** `keyCols` as in [[welchTImpl]]. */
  private def mannWhitneyUImpl(df: DataFrame, variantCol: String,
      valueCol: String, keyCols: Seq[String]): DataFrame = {
    val withCnt = minRanksWithTies(df, variantCol, valueCol, keyCols)
    val slice = keyCols.map(_ => F.col("td_s"))
    // one keyed pass: per group the size, Σ(2·midrank) and the group's
    // share of the tie term (both corpus-exact decimals)
    val perGroup = withCnt.groupBy(slice :+ F.col("td_g"): _*)
      .agg(F.count(F.lit(1)).as("td_n"),
        F.sum((F.lit(2L) * F.col("td_rk") + F.col("td_c") - 1L)
          .cast("decimal(38,0)")).as("td_r2"),
        F.sum((F.col("td_c").cast("decimal(19,0)") *
          F.col("td_c").cast("decimal(19,0)") - 1L).cast("decimal(38,0)"))
          .as("td_t"))
    val packed = perGroup.groupBy(slice.map(_.as("group")): _*)
      .agg(F.sort_array(F.collect_list(F.struct(
        F.col("td_g"), F.col("td_n"), F.col("td_r2"), F.col("td_t"))))
        .as("td_l"))
    val l = F.col("td_l")
    def fld(i: Int, f: String) = F.try_element_at(l, F.lit(i)).getField(f)
    val na = fld(1, "td_n"); val nb = fld(2, "td_n")
    val naD = na.cast("double"); val nbD = nb.cast("double")
    val nD = naD + nbD
    // 2U_A exact: Σ2R_A − n_A(n_A+1)
    val u2a = fld(1, "td_r2") -
      (na.cast("decimal(19,0)") * (na + 1L).cast("decimal(19,0)"))
        .cast("decimal(38,0)")
    val uA = u2a.cast("double") / F.lit(2.0d)
    val uB = (na.cast("decimal(19,0)") * nb.cast("decimal(19,0)"))
      .cast("double") - uA
    val tie = (fld(1, "td_t") + fld(2, "td_t")).cast("double")
    val mu = (naD * nbD) / F.lit(2.0d)
    val sigma = F.sqrt(((naD * nbD) / F.lit(12.0d)) *
      ((nD + F.lit(1.0d)) - tie / (nD * (nD - F.lit(1.0d)))))
    val out = packed.select(keyCols.map(_ => F.col("group")) ++ Seq(
      F.size(l).cast("long").as("n_variants"),
      fld(1, "td_g").as("variant_a"), fld(2, "td_g").as("variant_b"),
      na.as("n_a"), nb.as("n_b"),
      uA.as("u_a"), uB.as("u_b"),
      (fld(1, "td_t") + fld(2, "td_t")).cast("double").as("tie_term"),
      F.when(F.size(l) === 2 && sigma > 0.0d,
        (uA - mu) / sigma).as("z")): _*)
    if (keyCols.isEmpty) out else out.orderBy(F.col("group").asc)
  }

  /** Two-sample Kolmogorov–Smirnov D — the DISTRIBUTION-SHAPE companion
    * of [[mannWhitneyU]] (U reads stochastic dominance, Welch the means;
    * KS catches variance/shape changes both miss: same median, fatter
    * tail). D = max_x |F_A(x) − F_B(x)|, exact — no binned approximation
    * — via the integer identity D = max_v |n_B·C_A(v) − n_A·C_B(v)| /
    * (n_A·n_B) over the distinct observed values, with C the cumulative
    * per-variant counts. No p-value by design (the chi² rule: compare
    * √(n_A·n_B/(n_A+n_B))·D against the caller's Kolmogorov critical
    * value).
    *
    * Scale shape: one (value)-keyed count aggregation, then the
    * cumulative counts ride [[graft.operators.ScalableRank]]'s
    * two-phase prefix (range shuffle → parallel per-partition window →
    * numPartitions-row offsets broadcast back) — NEVER an unpartitioned
    * window over the distinct-value relation, which is corpus-sized for
    * continuous metrics. The variant roster packs into one broadcast row
    * (the [[mannWhitneyU]] 2-struct convention, variant A lexicographic
    * first); |n_B·C_A − n_A·C_B| accumulates in DECIMAL and the single
    * stated division lands at the end. ≠2 variants answers NULL d/d_at
    * with the observed count. Output (one row): n_variants, variant_a,
    * variant_b, n_a, n_b, d, d_at (the SMALLEST value attaining the
    * supremum). */
  def ksTwoSample(df: DataFrame, variantCol: String,
      valueCol: String): DataFrame =
    ksTwoSampleImpl(df, variantCol, valueCol, keyCols = Nil)

  /** Per-slice [[ksTwoSample]] — distribution-shape drift PER SEGMENT
    * (did the variant change the metric's shape only in one language/
    * surface, or everywhere): the same exact integer identity per slice
    * through ONE composite two-phase prefix — range-partition on
    * (slice, value) so each slice occupies a contiguous partition run
    * (the [[graft.operators.ScalableRank.withRankByGroup]] recipe),
    * cumulative counts from per-(partition, slice) windows plus a
    * bounded per-(partition, slice) offset relation broadcast back;
    * never a per-slice job, never an unpartitioned window. The
    * per-slice variant roster is a #slices-row relation broadcast on the
    * slice key. Slices with ≠2 variants answer NULL d/d_at with the
    * observed count. Output: (group, n_variants, variant_a, variant_b,
    * n_a, n_b, d, d_at) ascending by group. */
  def ksTwoSampleByGroup(df: DataFrame, groupCol: String,
      variantCol: String, valueCol: String): DataFrame =
    ksTwoSampleImpl(df, variantCol, valueCol, keyCols = Seq(groupCol))

  /** `keyCols` as in [[welchTImpl]]; the global form (Nil) answers one
    * row, n_variants 0 on empty input. */
  private def ksTwoSampleImpl(df: DataFrame, variantCol: String,
      valueCol: String, keyCols: Seq[String]): DataFrame = {
    import graft.operators.ScalableRank
    import org.apache.spark.sql.expressions.Window
    val slice = keyCols.map(F.col(_).cast("string"))
    val s = keyCols.map(_ => F.col("td_s"))
    val v = F.col(variantCol).cast("string")
    val x = F.col(valueCol).cast("double")
    val clean = df.where((slice :+ v :+ x).map(_.isNotNull).reduce(_ && _))
      .select(slice.map(_.as("td_s")) ++ Seq(v.as("td_g"), x.as("td_x")): _*)
    val l = F.col("td_l")
    def fld(i: Int, f: String) = F.try_element_at(l, F.lit(i)).getField(f)
    // the variant roster, one row per slice, broadcast to every row
    val vl = clean.groupBy(s :+ F.col("td_g"): _*)
      .agg(F.count(F.lit(1)).as("td_n"))
      .groupBy(s: _*)
      .agg(F.sort_array(F.collect_list(
        F.struct(F.col("td_g"), F.col("td_n")))).as("td_l"))
      .select(s ++ Seq(F.size(l).cast("long").as("td_nv"),
        fld(1, "td_g").as("td_va"), fld(2, "td_g").as("td_vb"),
        fld(1, "td_n").as("td_na"), fld(2, "td_n").as("td_nb")): _*)
    val roster = Seq("td_nv", "td_va", "td_vb", "td_na", "td_nb")
      .map(c => F.first(F.col(c)).as(c))
    // per-distinct-value variant counts, the roster riding along
    val cells = (if (keyCols.isEmpty) clean.crossJoin(F.broadcast(vl))
        else clean.join(F.broadcast(vl), Seq("td_s")))
      .groupBy(s :+ F.col("td_x"): _*)
      .agg(
        F.sum(F.when(F.col("td_g") === F.col("td_va"), 1L).otherwise(0L))
          .as("td_ca"),
        F.sum(F.when(F.col("td_g") === F.col("td_vb"), 1L).otherwise(0L))
          .as("td_cb") +: roster: _*)
    // cumulative counts C_A, C_B: the two-phase prefix over ascending
    // values (per slice: slices occupy contiguous partition runs)
    val order = Seq(F.col("td_x").asc)
    val partCols = s.map(_.asc) ++ order
    val cum = ScalableRank.withOffsets(
      ScalableRank.pinned(cells, partCols, partCols),
      keyCols.headOption.map(_ => "td_s"), order, Seq("a", "b").map { t =>
        val c = F.col(s"td_c$t")
        ScalableRank.Prefixed(s"td_cc$t", w => F.sum(c).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          Some(F.sum(c)))
      })
    // |n_B·C_A − n_A·C_B| exact; the max struct carries the smallest
    // attaining value (negated x: ties on the statistic pick max(−x))
    val av = F.abs(
      F.col("td_nb").cast("decimal(18,0)") *
        F.col("td_cca").cast("decimal(18,0)") -
      F.col("td_na").cast("decimal(18,0)") *
        F.col("td_ccb").cast("decimal(18,0)"))
    val out = cum.groupBy(s.map(_.as("group")): _*)
      .agg(
        F.max(F.struct(av.as("av"),
          (F.lit(0.0d) - F.col("td_x")).as("negx"))).as("td_m"),
        roster: _*)
      .select(s.map(_ => F.col("group")) ++ Seq(
        F.coalesce(F.col("td_nv"), F.lit(0L)).as("n_variants"),
        F.col("td_va").as("variant_a"), F.col("td_vb").as("variant_b"),
        F.col("td_na").as("n_a"), F.col("td_nb").as("n_b"),
        F.when(F.col("td_nv") === 2L,
          F.col("td_m").getField("av").cast("double") /
            (F.col("td_na").cast("double") * F.col("td_nb").cast("double")))
          .as("d"),
        F.when(F.col("td_nv") === 2L,
          F.lit(0.0d) - F.col("td_m").getField("negx")).as("d_at")): _*)
    if (keyCols.isEmpty) out else out.orderBy(F.col("group").asc)
  }

  /** Kruskal–Wallis H — [[mannWhitneyU]] extended to K groups (one-way
    * rank ANOVA): do any of k variants' metric distributions differ,
    * read from midranks alone. Same single ranked pass (min-rank +
    * per-value count; the per-group Σ2R_g and tie shares fold from the
    * one aggregation), then the bounded per-group finishing fold:
    * H = 12/(n(n+1)) · Σ_g R_g²/n_g − 3(n+1), tie-corrected
    * H_c = H / (1 − T/(n³−n)) with T = Σ(t³−t) — every double op
    * stated once, Σ R_g²/n_g a sort_array-pinned ascending fold over
    * the ≤k group rows (the chi² convention). Fewer than two groups
    * answers NULL h; all-tied values (correction denominator 0) answer
    * NULL h_corrected. No p-value by design (the chi² rule: compare H
    * against the caller's critical value at k−1 dof). Output (one
    * row): n, n_groups, tie_term, h, h_corrected. */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = F.col(groupCol).cast("string")
    val x = F.col(valueCol).cast("double")
    val clean = df.where(g.isNotNull && x.isNotNull)
      .select(g.as("td_g"), x.as("td_x"))
    val withCnt = graft.operators.ScalableRank.withMinRankAndTies(
      clean, "td_x", "td_rk", "td_c")
    val perGroup = withCnt.groupBy(F.col("td_g"))
      .agg(F.count(F.lit(1)).as("td_n"),
        F.sum((F.lit(2L) * F.col("td_rk") + F.col("td_c") - 1L)
          .cast("decimal(38,0)")).as("td_r2"),
        F.sum((F.col("td_c").cast("decimal(19,0)") *
          F.col("td_c").cast("decimal(19,0)") - 1L).cast("decimal(38,0)"))
          .as("td_t"))
    val packed = perGroup.agg(
      F.count(F.lit(1)).cast("long").as("td_k"),
      F.sum(F.col("td_n")).cast("long").as("td_nn"),
      F.sum(F.col("td_t")).cast("double").as("td_tie"),
      F.sort_array(F.collect_list(F.struct(
        F.col("td_g"), F.col("td_n"), F.col("td_r2")))).as("td_l"))
    val nD = F.col("td_nn").cast("double")
    // Σ_g R_g²/n_g: R_g = (Σ2R_g)/2 stated per group, ascending fold
    val s = F.aggregate(F.col("td_l"), F.lit(0.0d), (acc, e) =>
      acc + ((e.getField("td_r2").cast("double") / F.lit(2.0d)) *
        (e.getField("td_r2").cast("double") / F.lit(2.0d))) /
        e.getField("td_n").cast("double"))
    val h = (F.lit(12.0d) / (nD * (nD + F.lit(1.0d)))) * s -
      F.lit(3.0d) * (nD + F.lit(1.0d))
    val corr = F.lit(1.0d) -
      F.col("td_tie") / ((nD * nD * nD) - nD)
    packed.select(
      F.col("td_nn").as("n"), F.col("td_k").as("n_groups"),
      F.col("td_tie").as("tie_term"),
      F.when(F.col("td_k") >= 2L, h).as("h"),
      F.when(F.col("td_k") >= 2L && corr > 0.0d, h / corr)
        .as("h_corrected"))
  }

  /** Spearman rank correlation — Pearson over MIDRANKS of x and y, the
    * monotone-association read for skewed/outlier-heavy metrics where
    * raw Pearson misleads. Two [[graft.operators.ScalableRank]] range
    * shuffles (one per axis; min-rank + per-value count gives the exact
    * half-integer midrank (2·min + cnt − 1)/2, tie-order-independent),
    * then the [[corrStamp]]/[[mergeCorrStamps]] fixed-point algebra on
    * the midrank pairs — the identical stated doubles on any engine.
    * NULL in either column excludes the row. Output one row:
    * (n, corr). */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = F.col(xCol).cast("double"); val y = F.col(yCol).cast("double")
    val clean = df.where(x.isNotNull && y.isNotNull)
      .select(x.as("td_x"), y.as("td_y"))
    def midrank(d: DataFrame, col: String, as: String): DataFrame =
      graft.operators.ScalableRank.withMinRankAndTies(d, col, "td_rk", "td_c")
        .withColumn(as,
          (F.lit(2L) * F.col("td_rk") + F.col("td_c") - 1L).cast("double") /
            F.lit(2.0d))
        .drop("td_rk", "td_c")
    val withRanks = midrank(midrank(clean, "td_x", "td_mx"),
      "td_y", "td_my")
    mergeCorrStamps(corrStamp(withRanks, "td_mx", "td_my"))
  }

  /** Seasonal (day-of-week) anomaly baseline over DAILY event counts —
    * the third face of the volume-anomaly family ([[ewmaDaily]] reads
    * trend, [[cusumDaily]] sustained shifts, this one the WEEKLY
    * pattern): each day scored against ITS weekday's mean/std, so a
    * quiet Sunday doesn't alarm and a quiet Tuesday does. dow is pure
    * integer arithmetic (epoch-days mod 7 — identical on any engine,
    * no calendar/locale dependence; 0 = Thursday, the 1970-01-01
    * anchor), the per-dow moments are exact long sums over the BOUNDED
    * day grid read back through unpartitioned-per-dow windows (never a
    * second corpus scan — the benford rule), and mean/std/z state each
    * double op once. Days whose weekday has std 0 (or a single sample)
    * answer NULL z honestly. Output:
    * (day, dow, cnt, dow_mean, dow_std, z) ascending by day. */
  def seasonalDaily(df: DataFrame, tsCol: String): DataFrame =
    seasonalDailyImpl(df, tsCol, keyCols = Nil)

  /** Per-group [[seasonalDaily]] — one weekday baseline PER SLICE (per
    * event type, per source), completing the grouped anomaly family
    * next to [[ewmaDailyByGroup]] and [[cusumDaily]]: each slice's days
    * are z-scored against THAT slice's weekday moments, so a weekend-
    * quiet event type doesn't borrow a weekday-heavy one's pattern.
    * One (group, day)-keyed count shuffle reduces the corpus to the
    * bounded slices×days grid; the per-(group, dow) moments ride
    * windows over that grid (never a second corpus scan); dow stays
    * pure integer epoch-days mod 7. Days whose (slice, weekday) cell
    * has std 0 or a single sample answer NULL z. Output:
    * (group, day, dow, cnt, dow_mean, dow_std, z) ascending by
    * (group, day). */
  def seasonalDailyByGroup(df: DataFrame, groupCol: String,
      tsCol: String): DataFrame =
    seasonalDailyImpl(df, tsCol, keyCols = Seq(groupCol))

  /** `keyCols` is Nil (one global day series) or the one slice column
    * (output `group`, cast to string, NULL slices dropped). */
  private def seasonalDailyImpl(df: DataFrame, tsCol: String,
      keyCols: Seq[String]): DataFrame = {
    val group = keyCols.map(_ => F.col("group"))
    val daily = dailyCounts(df, tsCol, keyCols)
      .withColumn("dow", F.unix_date(F.col("day")).cast("long") % 7L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group :+ F.col("dow"): _*)
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val nD = F.count(F.lit(1)).over(w).cast("double")
    val mean = F.sum(F.col("cnt")).over(w).cast("double") / nD
    val ex2 = F.sum((F.col("cnt").cast("decimal(19,0)") *
        F.col("cnt").cast("decimal(19,0)")).cast("decimal(38,0)")).over(w)
      .cast("double") / nD
    val staged = daily
      .withColumn("dow_mean", mean)
      .withColumn("dow_std",
        F.sqrt(F.greatest(F.lit(0.0d),
          ex2 - F.col("dow_mean") * F.col("dow_mean"))))
    staged.select(group ++ Seq(F.col("day"), F.col("dow"), F.col("cnt"),
        F.col("dow_mean"), F.col("dow_std"),
        F.when(F.col("dow_std") > 0.0d,
          (F.col("cnt").cast("double") - F.col("dow_mean")) /
            F.col("dow_std")).as("z")): _*)
      .orderBy(group.map(_.asc) :+ F.col("day").asc: _*)
  }

  /** Two-sided CUSUM over DAILY event counts — the change-point/anomaly
    * companion of [[ewmaDaily]] (Page 1954): S⁺ accumulates upward
    * drift above the grand mean (minus the slack), S⁻ downward, each
    * clamped at zero, so a sustained shift builds a ramp where noise
    * dies out. μ is the exact mean of the bounded day grid (one stated
    * division); `slack` is the caller's per-day allowance in count
    * units. The per-day values ride per-index PINNED prefix folds over
    * the sorted day list (the [[ewmaDaily]] convention — O(days²) on
    * METADATA, never on rows), so every double replays on any engine.
    * Output: (day, cnt, cusum_hi, cusum_lo) ascending; empty input
    * answers zero rows. */
  def cusumDaily(df: DataFrame, tsCol: String,
      slack: Double = 0.0): DataFrame =
    cusumDailyImpl(df, tsCol, slack, keyCols = Nil)

  /** Per-group [[cusumDaily]] — per-slice change-point ramps (each
    * event type / source against ITS OWN grand mean), completing the
    * grouped anomaly family's third face next to [[ewmaDailyByGroup]]
    * and [[seasonalDailyByGroup]]: a sustained shift in one slice
    * builds that slice's ramp without the corpus mean damping it. One
    * (group, day)-keyed count shuffle to the bounded slices×days grid;
    * per-group μ is each group's exact mean (one stated division per
    * group); the clamped prefix folds ride each group's sorted day
    * list (O(days²) per slice on METADATA). Output:
    * (group, day, cnt, cusum_hi, cusum_lo) ascending by (group, day);
    * empty input answers zero rows. */
  def cusumDailyByGroup(df: DataFrame, groupCol: String, tsCol: String,
      slack: Double = 0.0): DataFrame =
    cusumDailyImpl(df, tsCol, slack, keyCols = Seq(groupCol))

  /** `keyCols` as in [[seasonalDailyImpl]]. */
  private def cusumDailyImpl(df: DataFrame, tsCol: String, slack: Double,
      keyCols: Seq[String]): DataFrame = {
    require(slack >= 0.0d, s"slack must be >= 0, got $slack")
    val l = F.col("td_l")
    // μ = Σcnt/days: exact long sum, ONE stated division (per group)
    val mu = F.aggregate(l, F.lit(0L), (a, e) => a + e.getField("cnt"))
      .cast("double") / F.size(l).cast("double")
    def ramp(sign: Double): Column => Column = i =>
      F.aggregate(F.slice(l, F.lit(1), i), F.lit(0.0d), (acc, e) =>
        F.greatest(F.lit(0.0d), acc +
          (F.lit(sign) * (e.getField("cnt").cast("double") - mu) -
            F.lit(slack))))
    dailyFolds(df, tsCol, keyCols,
      Seq("cusum_hi" -> ramp(1.0d), "cusum_lo" -> ramp(-1.0d)))
  }

  /** EWMA baseline over DAILY event counts — the drift/anomaly monitor
    * read next to [[graft.streaming.Streams.windowedMoments]]: one keyed
    * count shuffle reduces the corpus to the bounded day grid, then the
    * exponentially-weighted baseline EWMA_1 = cnt_1,
    * EWMA_i = (1−α)·EWMA_{i−1} + α·cnt_i rides a per-index PINNED fold
    * over the sorted day list (the bounded-sorted-fold convention —
    * O(days²) work on METADATA, never on rows; β = 1−α is stated once
    * on the driver and the oracle restates the literal difference cast
    * to DOUBLE). Output: (day, cnt, ewma) ascending. */
  def ewmaDaily(df: DataFrame, tsCol: String, alpha: Double = 0.3): DataFrame =
    ewmaDailyImpl(df, tsCol, alpha, keyCols = Nil)

  /** Per-group [[ewmaDaily]] — one trend baseline PER SLICE (per
    * event type, per source): the grouped face of the volume-anomaly
    * family. One (group, day)-keyed count shuffle reduces the corpus to
    * the bounded slices×days grid; each group's EWMA rides its own
    * pinned per-index prefix fold over its sorted day list (packed per
    * group — O(days²) metadata work per slice, never rows). Output:
    * (group, day, cnt, ewma) ascending by (group, day); empty input
    * answers zero rows. */
  def ewmaDailyByGroup(df: DataFrame, groupCol: String, tsCol: String,
      alpha: Double = 0.3): DataFrame =
    ewmaDailyImpl(df, tsCol, alpha, keyCols = Seq(groupCol))

  /** `keyCols` as in [[seasonalDailyImpl]]. */
  private def ewmaDailyImpl(df: DataFrame, tsCol: String, alpha: Double,
      keyCols: Seq[String]): DataFrame = {
    require(alpha > 0.0d && alpha <= 1.0d, s"alpha must be in (0,1], got $alpha")
    val beta = 1.0d - alpha
    val l = F.col("td_l")
    dailyFolds(df, tsCol, keyCols, Seq("ewma" -> (i =>
      F.aggregate(F.slice(l, F.lit(2), i - 1),
        F.element_at(l, 1).getField("cnt").cast("double"),
        (acc, e) => acc * F.lit(beta) +
          F.lit(alpha) * e.getField("cnt").cast("double")))))
  }

  /** The (group?, day, cnt) grid of the daily anomaly family: one keyed
    * count shuffle, NULL timestamps and slices dropped. */
  private def dailyCounts(df: DataFrame, tsCol: String,
      keyCols: Seq[String]): DataFrame = {
    val slice = keyCols.map(F.col(_).cast("string"))
    df.where((slice :+ F.col(tsCol)).map(_.isNotNull).reduce(_ && _))
      .groupBy(slice.map(_.as("group")) :+
        F.to_date(F.col(tsCol)).as("day"): _*)
      .agg(F.count(F.lit(1)).as("cnt"))
  }

  /** The day series shared by [[cusumDailyImpl]] and [[ewmaDailyImpl]]:
    * the [[dailyCounts]] grid packed per group into a sorted (day, cnt)
    * list `td_l`, then one (group?, day, cnt, stats...) row per day i,
    * each statistic a pinned fold over the list (O(days²) work on
    * METADATA, never on rows), ascending by (group?, day). */
  private def dailyFolds(df: DataFrame, tsCol: String, keyCols: Seq[String],
      stats: Seq[(String, Column => Column)]): DataFrame = {
    val group = keyCols.map(_ => F.col("group"))
    val packed = dailyCounts(df, tsCol, keyCols).groupBy(group: _*)
      .agg(F.sort_array(F.collect_list(
        F.struct(F.col("day"), F.col("cnt")))).as("td_l"))
    val l = F.col("td_l")
    // empty input packs an empty list; sequence(1, 0) = [1, 0] would
    // feed element_at an out-of-range index under ANSI — filter first
    // so the empty corpus answers zero rows
    packed.where(F.size(l) > 0)
      .select(group :+ F.explode(F.transform(
        F.sequence(F.lit(1), F.size(l)),
        i => F.struct(Seq(
          F.element_at(l, i).getField("day").as("day"),
          F.element_at(l, i).getField("cnt").as("cnt")) ++
          stats.map { case (name, stat) => stat(i).as(name) }: _*)))
        .as("td_r"): _*)
      .select(group ++ ("day" +: "cnt" +: stats.map(_._1))
        .map(c => F.col(s"td_r.$c").as(c)): _*)
      .orderBy(group.map(_.asc) :+ F.col("day").asc: _*)
  }

  /** Pearson chi-squared test of independence between two CATEGORICAL
    * columns (same bounded-cell contract as [[mutualInformation]]: the
    * distinct (a, b) cell relation fits one task's memory — the
    * unbounded-cardinality read is [[corrByGroup]]/MI's in-plan shapes).
    * One count shuffle builds the cells; marginals are metadata joins;
    * the statistic is a PINNED ascending fold over the sorted cell list
    * (χ² = Σ (o−e)²/e with e = ca·cb/n stated once per cell), so the
    * doubles replay on any engine. Output (one row): n, n_cells, r, c,
    * dof = (r−1)(c−1), chi2, and Cramér's V = √((χ²/n)/(min(r,c)−1))
    * (NULL when min(r,c) = 1). No p-value by design — the incomplete
    * gamma has no cross-engine-exact formulation; compare chi2 against
    * the caller's critical value. */
  def chiSquared(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = F.col(aCol).cast("string"); val b = F.col(bCol).cast("string")
    val joint = df.where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("td_a"), b.as("td_b"))
      .agg(F.count(F.lit(1)).as("td_c"))
    val ma = joint.groupBy(F.col("td_a"))
      .agg(F.sum(F.col("td_c")).cast("long").as("td_ca"))
    val mb = joint.groupBy(F.col("td_b"))
      .agg(F.sum(F.col("td_c")).cast("long").as("td_cb"))
    val cells = joint.join(ma, "td_a").join(mb, "td_b")
      .agg(F.sort_array(F.collect_list(F.struct(
        F.col("td_a"), F.col("td_b"), F.col("td_c"),
        F.col("td_ca"), F.col("td_cb")))).as("td_cells"))
    val nL = F.aggregate(F.col("td_cells"), F.lit(0L),
      (acc, e) => acc + e.getField("td_c"))
    // zero-observed cells (o=0, e>0) belong in the statistic and
    // contribute (0−e)²/e = e; since Σ_all e = n, the fold subtracts e
    // per OBSERVED cell and adds n back at the end — the whole r×c grid
    // without materializing absent cells
    def chi2Over(nD: Column) = F.aggregate(F.col("td_cells"), F.lit(0.0d),
      (acc, e) => {
        val o = e.getField("td_c").cast("double")
        val ed = (e.getField("td_ca").cast("double") *
          e.getField("td_cb").cast("double")) / nD
        acc + ((((o - ed) * (o - ed)) / ed) - ed)
      }) + nD
    def distinctOf(keyF: String) = F.size(F.array_distinct(F.transform(
      F.col("td_cells"), e => e.getField(keyF)))).cast("long")
    cells
      .withColumn("n", nL)
      .withColumn("n_cells", F.size(F.col("td_cells")).cast("long"))
      .withColumn("r", distinctOf("td_a"))
      .withColumn("c", distinctOf("td_b"))
      .withColumn("td_nd", F.col("n").cast("double"))
      .select(F.col("n"), F.col("n_cells"), F.col("r"), F.col("c"),
        ((F.col("r") - 1L) * (F.col("c") - 1L)).as("dof"),
        chi2Over(F.col("td_nd")).as("chi2"),
        F.col("td_nd").as("td_nd"), F.least(F.col("r"), F.col("c")).as("td_m"))
      .select(F.col("n"), F.col("n_cells"), F.col("r"), F.col("c"),
        F.col("dof"),
        F.col("chi2"),
        F.when(F.col("td_m") > 1L,
          F.sqrt((F.col("chi2") / F.col("td_nd")) /
            (F.col("td_m") - 1L).cast("double"))).as("cramers_v"))
  }

  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = F.col(aCol).cast("string"); val b = F.col(bCol).cast("string")
    val joint = df.where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("td_a"), b.as("td_b"))
      .agg(F.count(F.lit(1)).as("td_c"))
    val ma = joint.groupBy(F.col("td_a"))
      .agg(F.sum(F.col("td_c")).cast("long").as("td_ca"))
    val mb = joint.groupBy(F.col("td_b"))
      .agg(F.sum(F.col("td_c")).cast("long").as("td_cb"))
    val cells = joint.join(ma, "td_a").join(mb, "td_b")
      .agg(F.sort_array(F.collect_list(F.struct(
        F.col("td_a"), F.col("td_b"), F.col("td_c"),
        F.col("td_ca"), F.col("td_cb")))).as("td_cells"))
    val nL = F.aggregate(F.col("td_cells"), F.lit(0L),
      (acc, e) => acc + e.getField("td_c"))
    def miOver(nD: Column) = F.aggregate(F.col("td_cells"), F.lit(0.0d),
      (acc, e) => {
        val c = e.getField("td_c").cast("double")
        val ca = e.getField("td_ca").cast("double")
        val cb = e.getField("td_cb").cast("double")
        acc + (c / nD) * graft.expressions.MathKernels.ln(
          (c * nD) / (ca * cb))
      })
    // marginal entropies from the distinct (key, marginal-count) pairs
    // (each cell repeats its marginal; dedup, sort, fold)
    def entOver(keyF: String, cntF: String, nD: Column) = {
      val marg = F.array_sort(F.array_distinct(F.transform(
        F.col("td_cells"),
        e => F.struct(e.getField(keyF).as("k"), e.getField(cntF).as("c")))))
      F.aggregate(marg, F.lit(0.0d), (acc, e) => {
        val pp = e.getField("c").cast("double") / nD
        acc - pp * graft.expressions.MathKernels.ln(pp)
      })
    }
    cells
      .withColumn("n", nL)
      .withColumn("n_cells", F.size(F.col("td_cells")).cast("long"))
      .withColumn("td_nd", F.col("n").cast("double"))
      .select(F.col("n"), F.col("n_cells"),
        miOver(F.col("td_nd")).as("mi"),
        entOver("td_a", "td_ca", F.col("td_nd")).as("h_a"),
        entOver("td_b", "td_cb", F.col("td_nd")).as("h_b"))
      .withColumn("nmi",
        F.when(F.col("h_a") > 0.0d && F.col("h_b") > 0.0d,
          F.col("mi") / F.sqrt(F.col("h_a") * F.col("h_b"))))
  }

  /** One-way ANOVA F — the k-GROUP parametric companion of [[welchT]]
    * (two variants) and [[kruskalWallis]] (k-group ranks): did the
    * group means differ more than within-group noise explains. ONE
    * keyed fixed-point moments pass per group (the welch family's
    * floor(v·2^20 + 0.5) DECIMAL(38,0) images, |value| ≤ 2^21 domain),
    * grand sums reduced EXACTLY in decimal (order-free), and only
    * T = Σ_g (Σx_g)²/n_g — the one genuinely order-sensitive double
    * reduction — rides the pinned ascending group fold. Then
    * SSB = T − (Σx)²/N, SSW = Σx² − T,
    * F = (SSB/(k−1)) / (SSW/(N−k)), each double op stated once.
    * k < 2, N ≤ k, or SSW ≤ 0 answer NULL f honestly. Output (one
    * row): n, n_groups, grand_mean, ssb, ssw, f. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = F.col(groupCol).cast("string")
    val x = F.col(valueCol).cast("double")
    val fp = F.floor(x * F.lit(1048576.0d) + F.lit(0.5d))
    val fpp = F.floor((x * x) * F.lit(1048576.0d) + F.lit(0.5d))
    val agg = df.where(g.isNotNull && x.isNotNull)
      .groupBy(g.as("td_g"))
      .agg(F.count(F.lit(1)).as("td_n"),
        F.sum(fp.cast("decimal(38,0)")).as("td_sx"),
        F.sum(fpp.cast("decimal(38,0)")).as("td_sxx"))
    val packed = agg.agg(
      F.count(F.lit(1)).cast("long").as("td_k"),
      F.sum(F.col("td_n")).cast("long").as("td_nn"),
      F.sum(F.col("td_sx")).as("td_sxt"),
      F.sum(F.col("td_sxx")).as("td_sxxt"),
      F.sort_array(F.collect_list(F.struct(
        F.col("td_g"), F.col("td_n"), F.col("td_sx")))).as("td_l"))
    val nD = F.col("td_nn").cast("double")
    val kD = F.col("td_k").cast("double")
    val sxD = F.col("td_sxt").cast("double") / F.lit(1048576.0d)
    val sxxD = F.col("td_sxxt").cast("double") / F.lit(1048576.0d)
    val t = F.aggregate(F.col("td_l"), F.lit(0.0d), (acc, e) => {
      val s = e.getField("td_sx").cast("double") / F.lit(1048576.0d)
      acc + (s * s) / e.getField("td_n").cast("double")
    })
    val ssb = t - (sxD * sxD) / nD
    val ssw = sxxD - t
    val ok = F.col("td_k") >= 2L && F.col("td_nn") > F.col("td_k") &&
      ssw > 0.0d
    packed.select(
      F.col("td_nn").as("n"), F.col("td_k").as("n_groups"),
      (sxD / nD).as("grand_mean"),
      ssb.as("ssb"), ssw.as("ssw"),
      F.when(ok, (ssb / (kD - F.lit(1.0d))) / (ssw / (nD - kD))).as("f"))
  }

  /** Brown–Forsythe homogeneity-of-variance test — [[anovaF]] applied
    * to z = |x − median_g|: did the group SPREADS differ (the
    * assumption check before trusting a pooled-variance readout;
    * median centers, not means, so heavy tails don't fake a signal).
    * One exact per-group median pass (Spark `median` interpolates the
    * even-count midpoint exactly as ANSI `median` — the q_agg_median
    * parity), the centered absolute deviations are a row-local
    * codegen'd projection behind a broadcast-sized medians join, then
    * the identical ANOVA algebra. Same |z| ≤ 2^21 fixed-point domain.
    * Output (one row): n, n_groups, grand_mean (of z), ssb, ssw, f. */
  def brownForsythe(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = F.col(groupCol).cast("string")
    val x = F.col(valueCol).cast("double")
    val clean = df.where(g.isNotNull && x.isNotNull)
      .select(g.as("td_g"), x.as("td_x"))
    val med = clean.groupBy(F.col("td_g"))
      .agg(F.median(F.col("td_x")).as("td_med"))
    val z = clean.join(F.broadcast(med), Seq("td_g"))
      .select(F.col("td_g"),
        F.abs(F.col("td_x") - F.col("td_med")).as("td_z"))
    anovaF(z, "td_g", "td_z")
  }

  /** Two-feature Mahalanobis outlier ranking — "which rows sit far from
    * the joint (x, y) cloud, correlation-aware" (a robust-z on one axis
    * misses points that are individually plausible but jointly absurd).
    * ONE exact fixed-point moments pass (per-row floor(v·2^10 + 0.5)
    * images summed in DECIMAL(38,0) — 2^10, not the welch family's
    * 2^20: the PRODUCT images x·y must keep their corpus sums below
    * 2^53 so the decimal→double conversion is exact on any engine),
    * sample covariance entries and the closed-form 2×2 inverse stated
    * once, then a row-local codegen'd distance behind the broadcast
    * 1-row stats: d² = (dx²·c_yy − 2·dx·dy·c_xy + dy²·c_xx)/det.
    * Top `k` by distance (id tiebreak); a degenerate cloud (n < 3 or
    * det ≤ 0) answers NULL d² honestly. Output:
    * (id, x, y, d2) descending by d2. */
  def mahalanobisOutliers2(df: DataFrame, idCol: String, xCol: String,
      yCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val id = F.col(idCol).cast("long")
    val x = F.col(xCol).cast("double"); val y = F.col(yCol).cast("double")
    val clean = df.where(id.isNotNull && x.isNotNull && y.isNotNull)
      .select(id.as("id"), x.as("td_x"), y.as("td_y"))
    def fixed(t: Column) =
      F.sum(F.floor(t * F.lit(1024.0d) + F.lit(0.5d)).cast("decimal(38,0)"))
    val stats = clean.agg(F.count(F.lit(1)).as("td_n"),
      fixed(F.col("td_x")).as("td_sx"), fixed(F.col("td_y")).as("td_sy"),
      fixed(F.col("td_x") * F.col("td_x")).as("td_sxx"),
      fixed(F.col("td_x") * F.col("td_y")).as("td_sxy"),
      fixed(F.col("td_y") * F.col("td_y")).as("td_syy"))
    def dbl(c: String) = F.col(c).cast("double") / F.lit(1024.0d)
    val nD = F.col("td_n").cast("double")
    val mx = dbl("td_sx") / nD; val my = dbl("td_sy") / nD
    val den = nD - F.lit(1.0d)
    val cxx = (dbl("td_sxx") - nD * (mx * mx)) / den
    val cxy = (dbl("td_sxy") - nD * (mx * my)) / den
    val cyy = (dbl("td_syy") - nD * (my * my)) / den
    val det = cxx * cyy - cxy * cxy
    val enriched = stats.select(F.col("td_n"), mx.as("td_mx"),
      my.as("td_my"), cxx.as("td_cxx"), cxy.as("td_cxy"),
      cyy.as("td_cyy"), det.as("td_det"))
    val dx = F.col("td_x") - F.col("td_mx")
    val dy = F.col("td_y") - F.col("td_my")
    val d2 = F.when(F.col("td_n") >= 3L && F.col("td_det") > 0.0d,
      (dx * dx * F.col("td_cyy") -
        F.lit(2.0d) * dx * dy * F.col("td_cxy") +
        dy * dy * F.col("td_cxx")) / F.col("td_det"))
    clean.crossJoin(F.broadcast(enriched))
      .select(F.col("id"), F.col("td_x").as("x"), F.col("td_y").as("y"),
        d2.as("d2"))
      .orderBy(F.col("d2").desc_nulls_last, F.col("id").asc)
      .limit(k)
  }

  /** Benjamini–Hochberg step-up FDR correction over ONE ROW PER
    * HYPOTHESIS — the multiple-testing finisher for any per-slice test
    * family this module emits (run welch/KS/chi² per segment, then BH
    * the p column before acting on "significant" slices). The input is
    * tests, not the corpus — a bounded relation by construction (one
    * row per hypothesis), so the two single-partition windows (ordinal
    * rank by (p, id); suffix running-min for the monotone adjusted p)
    * are the honest plan, not a scale hazard. p_adj_i =
    * min(1, min_{j≥i} m·p_j/j) with each double op stated once; reject
    * ⇔ p_adj ≤ α (the step-up rule, monotone-equivalent). Output:
    * (test_id, p_value, rank, p_adj, reject) ascending by rank. */
  def bhFdr(df: DataFrame, idCol: String, pCol: String,
      alpha: Double = 0.05d): DataFrame =
    stepUpFdr(df, idCol, pCol, alpha, cm = None)

  /** The step-up body of [[bhFdr]] and [[byFdr]]: p_adj = min(1, min
    * over the suffix of c·m·p/rank), where the factor c is the column
    * `cm` over `td_m` (staged as `td_cm`), or 1 when `cm` is None. */
  private def stepUpFdr(df: DataFrame, idCol: String, pCol: String,
      alpha: Double, cm: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = F.col(idCol).cast("string")
    val p = F.col(pCol).cast("double")
    val clean = df.where(id.isNotNull && p.isNotNull)
      .select(id.as("test_id"), p.as("p_value"))
    val wAsc = Window.orderBy(F.col("p_value").asc, F.col("test_id").asc)
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wSuf = Window.orderBy(F.col("p_value").desc, F.col("test_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = F.col("td_m").cast("double")
    val raw = cm.fold(m)(_ => F.col("td_cm") * m) * F.col("p_value") /
      F.col("rank").cast("double")
    val ranked = clean
      .withColumn("rank", F.row_number().over(wAsc).cast("long"))
      .withColumn("td_m", F.count(F.lit(1)).over(wAll).cast("long"))
    cm.fold(ranked)(ranked.withColumn("td_cm", _))
      .withColumn("td_raw", raw)
      .withColumn("p_adj",
        F.least(F.lit(1.0d), F.min(F.col("td_raw")).over(wSuf)))
      .select(F.col("test_id"), F.col("p_value"), F.col("rank"),
        F.col("p_adj"), (F.col("p_adj") <= F.lit(alpha)).as("reject"))
      .orderBy(F.col("rank").asc)
  }

  /** CUPED variance-reduced A/B t-test (Deng et al. 2013): adjust the
    * experiment metric by a PRE-experiment covariate before testing —
    * y' = y − θ(x − mx̄) with θ the pooled OLS slope of y on x — so the
    * readout keeps the treatment effect (randomization makes the
    * covariate mean equal across variants in expectation) but sheds the
    * covariate-explained variance (the factor 1 − ρ²). ONE keyed pass
    * reduces the corpus to two (variant, n, Σfp(y), Σfp(x), Σfp(y²),
    * Σfp(x²), Σfp(xy)) rows — per-row 2^20 fixed-point images summed
    * in DECIMAL(38,0), so both engines state identical doubles — then
    * the bounded 2-struct sorted fold: pooled θ and ρ² from the exact
    * decimal grand sums, each variant's ADJUSTED moments restated
    * algebraically from the same raw sums (Σy′ = Σy − θ(Σx − n·mx̄);
    * Σy′² = Σy² − 2θ(Σxy − mx̄Σy) + θ²(Σx² − 2mx̄Σx + n·mx̄²)) — no
    * second corpus pass — and the Welch t + Satterthwaite dof on the
    * adjusted moments, each double op stated once. ≠2 variants, either
    * n < 2, zero pooled covariate variance, or zero adjusted standard
    * error answer NULL θ/t/dof with the observed counts (the family's
    * ANSI rule). Variant A is the lexicographically first. Domain:
    * |y|, |x| ≤ 2^21 and |x·y| ≤ 2^42 (the 2^20 fixed-point image of
    * the cross term must stay inside long). Output (one row):
    * n_variants, variant_a, variant_b, n_a, n_b, theta, rho2,
    * mean_adj_a, mean_adj_b, var_adj_a, var_adj_b, t, dof. */
  def cupedT(df: DataFrame, variantCol: String, valueCol: String,
      covCol: String): DataFrame = {
    val v = F.col(variantCol).cast("string")
    val y = F.col(valueCol).cast("double")
    val x = F.col(covCol).cast("double")
    def fp(c: Column) = F.floor(c * F.lit(1048576.0d) + F.lit(0.5d))
      .cast("decimal(38,0)")
    val agg = df.where(v.isNotNull && y.isNotNull && x.isNotNull)
      .groupBy(v.as("td_v"))
      .agg(F.count(F.lit(1)).as("td_n"),
        F.sum(fp(y)).as("td_sy"), F.sum(fp(x)).as("td_sx"),
        F.sum(fp(y * y)).as("td_syy"), F.sum(fp(x * x)).as("td_sxx"),
        F.sum(fp(x * y)).as("td_sxy"))
    val packed = agg.agg(F.sort_array(F.collect_list(F.struct(
      F.col("td_v"), F.col("td_n"), F.col("td_sy"), F.col("td_sx"),
      F.col("td_syy"), F.col("td_sxx"), F.col("td_sxy")))).as("td_l"))
    val l = F.col("td_l")
    def fld(i: Int, f: String) = F.try_element_at(l, F.lit(i)).getField(f)
    def un(c: Column) = c.cast("double") / F.lit(1048576.0d)
    // pooled sums: decimal adds are exact, ONE division per term back
    def tot(f: String) = un(F.coalesce(fld(1, f), F.lit(0L).cast(
      "decimal(38,0)")) + F.coalesce(fld(2, f), F.lit(0L).cast(
      "decimal(38,0)")))
    val nT = (F.coalesce(fld(1, "td_n"), F.lit(0L)) +
      F.coalesce(fld(2, "td_n"), F.lit(0L))).cast("double")
    val mx = tot("td_sx") / nT
    val my = tot("td_sy") / nT
    val sxxC = tot("td_sxx") - nT * mx * mx
    val syyC = tot("td_syy") - nT * my * my
    val sxyC = tot("td_sxy") - nT * mx * my
    val theta = F.when(sxxC > 0.0d, sxyC / sxxC)
    val rho2 = F.when(sxxC > 0.0d && syyC > 0.0d,
      (sxyC * sxyC) / (sxxC * syyC))
    // per-variant adjusted moments restated from the SAME raw sums
    def adj(i: Int): (Column, Column, Column) = {
      val nD = fld(i, "td_n").cast("double")
      val sy = un(fld(i, "td_sy")); val sx = un(fld(i, "td_sx"))
      val syy = un(fld(i, "td_syy")); val sxx = un(fld(i, "td_sxx"))
      val sxy = un(fld(i, "td_sxy"))
      val syAdj = sy - theta * (sx - nD * mx)
      val syyAdj = syy - F.lit(2.0d) * theta * (sxy - mx * sy) +
        theta * theta * (sxx - F.lit(2.0d) * mx * sx + nD * mx * mx)
      val m = syAdj / nD
      val s2 = F.when(fld(i, "td_n") >= 2L,
        (syyAdj - nD * m * m) / (nD - F.lit(1.0d)))
      (nD, m, s2)
    }
    val (naD, ma, s2a) = adj(1)
    val (nbD, mb, s2b) = adj(2)
    val vna = s2a / naD
    val vnb = s2b / nbD
    val se2 = vna + vnb
    val ok = F.size(l) === 2 && fld(1, "td_n") >= 2L &&
      fld(2, "td_n") >= 2L && sxxC > 0.0d && se2 > 0.0d
    packed.select(
      F.size(l).cast("long").as("n_variants"),
      fld(1, "td_v").as("variant_a"), fld(2, "td_v").as("variant_b"),
      fld(1, "td_n").as("n_a"), fld(2, "td_n").as("n_b"),
      F.when(F.size(l) === 2, theta).as("theta"),
      F.when(F.size(l) === 2, rho2).as("rho2"),
      F.when(ok, ma).as("mean_adj_a"), F.when(ok, mb).as("mean_adj_b"),
      F.when(ok, s2a).as("var_adj_a"), F.when(ok, s2b).as("var_adj_b"),
      F.when(ok, (ma - mb) / F.sqrt(se2)).as("t"),
      F.when(ok, (se2 * se2) /
        ((vna * vna) / (naD - F.lit(1.0d)) +
          (vnb * vnb) / (nbD - F.lit(1.0d)))).as("dof"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 test + the MH common odds
    * ratio (Mantel & Haenszel 1959): does variant A convert more than
    * B CONTROLLING for a stratification key — the confounder-proof
    * companion of [[twoProportionZ]] (which Simpson's paradox can
    * invert) and the categorical-outcome face of the ByGroup sliced
    * family. One keyed pass reduces the corpus to per-(stratum,
    * variant) (successes, failures) integer cells; a bounded per-
    * stratum 2-struct sorted fold states each stratum's doubles —
    * E = (a+b)(a+c)/n, V = (a+b)(c+d)(a+c)(b+d)/(n²(n−1)),
    * ad/n, bc/n — once, maps each through the 2^20 fixed-point image,
    * and ONE exact long sum per term makes the cross-stratum totals
    * association-free; the finishing doubles are
    * χ² = (Σa − ΣE)²/ΣV and OR_MH = Σ(ad/n)/Σ(bc/n), each division
    * stated once. Strata with ≠2 variants or n < 2 carry no
    * information and are excluded (counted in n_skipped); zero ΣV or
    * zero Σbc/n answer NULL χ²/OR honestly. Variant A is the
    * lexicographically first per stratum; if usable strata disagree on
    * the (A, B) pair the pooled statistics are incoherent and answer
    * NULL (the counts still report). Output (one row): n_strata,
    * n_skipped, n_total, sum_a, expected_a, variance, chi2, or_mh. */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
      variantCol: String, successCol: String): DataFrame = {
    val st = F.col(stratumCol).cast("string")
    val v = F.col(variantCol).cast("string")
    val s = F.col(successCol).cast("boolean")
    val cells = df.where(st.isNotNull && v.isNotNull && s.isNotNull)
      .groupBy(st.as("td_s"), v.as("td_v"))
      .agg(F.sum(s.cast("long")).as("td_succ"),
        F.sum((!s).cast("long")).as("td_fail"))
    val folded = cells.groupBy(F.col("td_s"))
      .agg(F.sort_array(F.collect_list(F.struct(
        F.col("td_v"), F.col("td_succ"), F.col("td_fail")))).as("td_l"))
    val l = F.col("td_l")
    def fld(i: Int, f: String) = F.try_element_at(l, F.lit(i)).getField(f)
    val a = fld(1, "td_succ"); val b = fld(1, "td_fail")
    val c = fld(2, "td_succ"); val d = fld(2, "td_fail")
    val n = a + b + c + d
    val usable = F.size(l) === 2 && n >= 2L
    def dd(c0: Column) = c0.cast("double")
    val (aD, bD, cD, dD, nD) = (dd(a), dd(b), dd(c), dd(d), dd(n))
    val e = (aD + bD) * (aD + cD) / nD
    val vv = (aD + bD) * (cD + dD) * (aD + cD) * (bD + dD) /
      (nD * nD * (nD - F.lit(1.0d)))
    val adN = aD * dD / nD
    val bcN = bD * cD / nD
    def fx(c0: Column) = F.floor(c0 * F.lit(1048576.0d) + F.lit(0.5d))
      .cast("long")
    val strata = folded.select(
      usable.as("td_ok"),
      F.when(usable, n).as("td_n"), F.when(usable, a).as("td_a"),
      F.when(usable, fx(e)).as("td_e"), F.when(usable, fx(vv)).as("td_v2"),
      F.when(usable, fx(adN)).as("td_ad"),
      F.when(usable, fx(bcN)).as("td_bc"),
      F.when(usable, fld(1, "td_v")).as("td_va"),
      F.when(usable, fld(2, "td_v")).as("td_vb"))
    val g = strata.agg(
      F.sum(F.col("td_ok").cast("long")).as("n_strata"),
      F.sum((!F.col("td_ok")).cast("long")).as("n_skipped"),
      F.sum(F.col("td_n")).as("n_total"),
      F.sum(F.col("td_a")).as("sum_a"),
      F.sum(F.col("td_e")).as("td_se"), F.sum(F.col("td_v2")).as("td_sv"),
      F.sum(F.col("td_ad")).as("td_sad"),
      F.sum(F.col("td_bc")).as("td_sbc"),
      F.count_distinct(F.col("td_va")).as("td_nva"),
      F.count_distinct(F.col("td_vb")).as("td_nvb"))
    def un(c0: Column) = c0.cast("double") / F.lit(1048576.0d)
    val sumE = un(F.col("td_se")); val sumV = un(F.col("td_sv"))
    val sumAd = un(F.col("td_sad")); val sumBc = un(F.col("td_sbc"))
    val sumAD = F.col("sum_a").cast("double")
    val coherent = F.col("td_nva") <= 1L && F.col("td_nvb") <= 1L &&
      F.col("n_strata") >= 1L
    g.select(
      F.col("n_strata"), F.col("n_skipped"),
      F.coalesce(F.col("n_total"), F.lit(0L)).as("n_total"),
      F.col("sum_a"),
      F.when(coherent, sumE).as("expected_a"),
      F.when(coherent, sumV).as("variance"),
      F.when(coherent && sumV > 0.0d,
        (sumAD - sumE) * (sumAD - sumE) / sumV).as("chi2"),
      F.when(coherent && sumBc > 0.0d, sumAd / sumBc).as("or_mh"))
  }

  /** Benjamini–Yekutieli step-up (Benjamini & Yekutieli 2001) — the
    * [[bhFdr]] correction valid under ARBITRARY dependence between the
    * tests (slice tests over one corpus are anything but independent):
    * the same suffix running-min machinery with the harmonic penalty
    * c(m) = Σ_{i=1..m} 1/i multiplied in — p_adj = min over the suffix
    * of c(m)·m·p/rank, clipped at 1. c(m) folds ascending over
    * sequence(1..m) (pinned association, both engines); the rest is
    * [[bhFdr]]'s contract verbatim, including the documented
    * single-partition window (the input is one row per HYPOTHESIS —
    * bounded by construction, the benford-grid rule). Output:
    * (test_id, p_value, rank, p_adj, reject) ascending by rank. */
  def byFdr(df: DataFrame, idCol: String, pCol: String,
      alpha: Double = 0.05d): DataFrame =
    stepUpFdr(df, idCol, pCol, alpha, cm = Some(F.aggregate(
      F.sequence(F.lit(1L), F.col("td_m")),
      F.lit(0.0d), (a, i) => a + F.lit(1.0d) / i.cast("double"))))

  /** Wald's sequential probability-ratio test (Wald 1945) per group
    * over an ordered Bernoulli grid — "on which DAY could this
    * experiment have stopped": cumulative log-likelihood ratio
    * LLR_t = k_t·ln(p1/p0) + (n_t − k_t)·ln((1−p1)/(1−p0)) against the
    * boundaries ln((1−β)/α) (accept H1) and ln(β/(1−α)) (accept H0),
    * decision at the FIRST crossing. The corpus reduces to the bounded
    * per-(group, t) (trials, successes) integer grid in one keyed
    * pass; cumulative k/n are INTEGER prefix sums over per-group
    * ordered windows (partitioned by group — never an unpartitioned
    * window; association-free because integers), and each grid row
    * states the LLR doubles once — the four ln constants are computed
    * ONCE driver-side and ride as double literals (JVM Math.log and an
    * engine's libm can differ in the last ulp, and the cumulative k
    * multiplier amplifies that; a replaying engine must embed the same
    * literals, which the oracle does by string interpolation). The
    * boundaries are open intervals: crossing means ≥ upper / ≤ lower.
    * Output: (group, n_t, trials, successes, llr_final, decision ∈
    * accept_h1|accept_h0|continue, decision_t — the first crossing
    * instant, NULL while `continue`) ascending by group. */
  def sprtBernoulli(df: DataFrame, groupCol: String, tCol: String,
      successCol: String, p0: Double, p1: Double,
      alpha: Double = 0.05d, beta: Double = 0.2d): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"p0, p1 in (0,1) and distinct: $p0, $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha, beta in (0,1): $alpha, $beta")
    import org.apache.spark.sql.expressions.Window
    val g = F.col(groupCol).cast("string")
    val t = F.col(tCol).cast("long")
    val s = F.col(successCol).cast("boolean")
    val grid = df.where(g.isNotNull && t.isNotNull && s.isNotNull)
      .groupBy(g.as("td_g"), t.as("td_t"))
      .agg(F.count(F.lit(1)).as("td_n"),
        F.sum(s.cast("long")).as("td_k"))
    val w = Window.partitionBy(F.col("td_g")).orderBy(F.col("td_t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the four ln constants, computed ONCE driver-side — literals in
    // the plan, so a replaying engine embeds the identical doubles
    val c1 = F.lit(math.log(p1 / p0))
    val c0 = F.lit(math.log((1.0d - p1) / (1.0d - p0)))
    val upper = F.lit(math.log((1.0d - beta) / alpha))
    val lower = F.lit(math.log(beta / (1.0d - alpha)))
    val cum = grid
      .withColumn("td_cn", F.sum(F.col("td_n")).over(w))
      .withColumn("td_ck", F.sum(F.col("td_k")).over(w))
      .withColumn("td_llr",
        F.col("td_ck").cast("double") * c1 +
          (F.col("td_cn") - F.col("td_ck")).cast("double") * c0)
    cum.groupBy(F.col("td_g"))
      .agg(F.count(F.lit(1)).as("n_t"),
        F.max(F.col("td_cn")).as("trials"),
        F.max(F.col("td_ck")).as("successes"),
        F.max_by(F.col("td_llr"), F.col("td_t")).as("llr_final"),
        F.min(F.when(F.col("td_llr") >= upper, F.col("td_t")))
          .as("td_up_t"),
        F.min(F.when(F.col("td_llr") <= lower, F.col("td_t")))
          .as("td_lo_t"))
      .select(F.col("td_g").as("group"), F.col("n_t"), F.col("trials"),
        F.col("successes"), F.col("llr_final"),
        F.when(F.col("td_up_t").isNotNull &&
            (F.col("td_lo_t").isNull ||
              F.col("td_up_t") <= F.col("td_lo_t")), "accept_h1")
          .when(F.col("td_lo_t").isNotNull, "accept_h0")
          .otherwise("continue").as("decision"),
        F.when(F.col("td_up_t").isNotNull &&
            (F.col("td_lo_t").isNull ||
              F.col("td_up_t") <= F.col("td_lo_t")), F.col("td_up_t"))
          .otherwise(F.col("td_lo_t")).as("decision_t"))
      .orderBy(F.col("group").asc)
  }

  /** Kendall's τ-b (tie-corrected) between two ORDINAL columns — the
    * rank-association readout where [[spearmanCorr]] ranks continuous
    * values and [[chiSquared]] ignores order entirely ("do higher
    * priorities ship in fewer lines"). The corpus reduces to the
    * bounded (x, y) CELL grid in one keyed pass (the operator's
    * contract: ordinal/categorical inputs — the grid, not the corpus,
    * is the quadratic term); concordant/discordant counts come from
    * one cell-grid self-join on x₁ < x₂ (Σ c₁c₂ split by the y
    * order), tie terms from the marginals — every count an exact
    * DECIMAL(38,0), using the UNDIVIDED pair counts P = n(n−1),
    * T_x = Σc(c−1) (so nothing overflows a long even at 10¹⁰ rows)
    * and the identity τ-b = 2(C−D)/√((P−T_x)(P−T_y)). One stated
    * double sequence at the end; zero denominators (a constant
    * column) answer NULL τ honestly. Output (one row): n, n_cells,
    * concordant, discordant, ties_x, ties_y (the conventional halved
    * pair counts), tau_b. */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cells = df.where(x.isNotNull && y.isNotNull)
      .groupBy(x.as("td_x"), y.as("td_y"))
      .agg(F.count(F.lit(1)).as("td_c"))
      .localCheckpoint()
    val tot = cells.agg(
      F.sum(F.col("td_c")).as("td_n"),
      F.count(F.lit(1)).as("td_cells"))
    val margX = cells.groupBy(F.col("td_x"))
      .agg(F.sum(F.col("td_c")).as("td_cx"))
      .agg(F.sum(dec(F.col("td_cx")) * dec(F.col("td_cx") - F.lit(1L)))
        .as("td_tx2"))
    val margY = cells.groupBy(F.col("td_y"))
      .agg(F.sum(F.col("td_c")).as("td_cy"))
      .agg(F.sum(dec(F.col("td_cy")) * dec(F.col("td_cy") - F.lit(1L)))
        .as("td_ty2"))
    val l = cells.select(F.col("td_x").as("td_x1"),
      F.col("td_y").as("td_y1"), F.col("td_c").as("td_c1"))
    val r = cells.select(F.col("td_x").as("td_x2"),
      F.col("td_y").as("td_y2"), F.col("td_c").as("td_c2"))
    val pairs = l.join(r, F.col("td_x1") < F.col("td_x2"))
      .agg(
        F.sum(F.when(F.col("td_y1") < F.col("td_y2"),
          dec(F.col("td_c1")) * dec(F.col("td_c2")))
          .otherwise(dec(F.lit(0L)))).as("td_conc"),
        F.sum(F.when(F.col("td_y1") > F.col("td_y2"),
          dec(F.col("td_c1")) * dec(F.col("td_c2")))
          .otherwise(dec(F.lit(0L)))).as("td_disc"))
    val j = tot.crossJoin(margX).crossJoin(margY).crossJoin(pairs)
    // undivided pair counts: P = n(n−1), T = Σc(c−1) — exact decimals
    val p2 = dec(F.col("td_n")) * dec(F.col("td_n") - F.lit(1L))
    val denomX = (p2 - F.col("td_tx2")).cast("double")
    val denomY = (p2 - F.col("td_ty2")).cast("double")
    val num = F.col("td_conc").cast("double") -
      F.col("td_disc").cast("double")
    j.select(
      F.col("td_n").as("n"), F.col("td_cells").as("n_cells"),
      F.col("td_conc").cast("long").as("concordant"),
      F.col("td_disc").cast("long").as("discordant"),
      (F.col("td_tx2") / F.lit(2L)).cast("long").as("ties_x"),
      (F.col("td_ty2") / F.lit(2L)).cast("long").as("ties_y"),
      F.when(denomX > 0.0d && denomY > 0.0d,
        F.lit(2.0d) * num / F.sqrt(denomX * denomY)).as("tau_b"))
  }

  /** Quantile treatment effect — the DISTRIBUTIONAL A/B readout next
    * to the mean ([[welchT]]) and rank ([[mannWhitneyU]]) faces: at
    * each requested quantile, variant A's exact order statistic minus
    * B's ("the p90 moved +12 even though the median didn't"). Exact
    * per-variant order statistics at k = max(1, ceil(q·n)) via
    * [[graft.operators.Quantiles.exactQuantilesByGroup]] (variant =
    * group — the hot-group fallback routes giant variants through ONE
    * composite range shuffle), then one bounded per-q 2-struct sorted
    * fold. ≠2 observed variants answer NULL shift with the per-variant
    * values that did arrive. Pass tiebreaker columns for fully pinned
    * order statistics on tied values. Output: (q, variant_a,
    * variant_b, value_a, value_b, shift) ascending by q. */
  def quantileShift(df: DataFrame, variantCol: String, valueCol: String,
      qs: Seq[Double], tiebreakers: Seq[String] = Nil): DataFrame = {
    val v = F.col(variantCol).cast("string")
    val clean = df.where(v.isNotNull)
      .select(v.as("td_v") +: F.col(valueCol).as("td_x") +:
        tiebreakers.map(F.col): _*)
    val quants = graft.operators.Quantiles.exactQuantilesByGroup(
      clean, "td_v", "td_x", qs, tiebreakers = tiebreakers)
    val packed = quants.groupBy(F.col("q"))
      .agg(F.sort_array(F.collect_list(F.struct(
        F.col("td_v"), F.col("value")))).as("td_l"))
    val l = F.col("td_l")
    def fld(i: Int, f: String) = F.try_element_at(l, F.lit(i)).getField(f)
    val ok = F.size(l) === 2
    packed.select(F.col("q"),
        fld(1, "td_v").as("variant_a"), fld(2, "td_v").as("variant_b"),
        fld(1, "value").cast("double").as("value_a"),
        fld(2, "value").cast("double").as("value_b"),
        F.when(ok, fld(1, "value").cast("double") -
          fld(2, "value").cast("double")).as("shift"))
      .orderBy(F.col("q").asc)
  }
}
