package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types.DoubleType

/** DSIR-style importance weighting for data selection (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling" — public
  * methodology): score every raw-corpus document by how much more likely
  * its hashed n-gram features are under a TARGET distribution (the
  * high-quality / in-domain corpus) than under the RAW distribution, then
  * keep the highest-weighted documents.
  *
  *   weight(doc) = Σ_{features f of doc} ln( p_target(bucket(f))
  *                                          / p_raw(bucket(f)) )
  *
  * with add-one-smoothed bucket distributions over hashed word bigrams.
  *
  * Engineering choices, all scale- or parity-driven:
  *   - the bucket key is the first `chars` hex chars of md5("w1 w2") — an
  *     ENGINE-PORTABLE hash (identical in Spark and DuckDB/ANSI SQL), so
  *     the whole pipeline is oracle-checkable, unlike xxhash64 features;
  *   - a distribution is a ≤16^chars-row aggregate (65 536 at the default
  *     chars=4) — bounded metadata independent of corpus size, broadcast
  *     to the weighting join; the corpus-sized relations never shuffle on
  *     anything but the doc id;
  *   - probabilities derive from exact long counts divided once by an
  *     exact long total (deterministic doubles), the per-feature log-ratio
  *     uses the libm-consistent [[graft.expressions.MathKernels.ln]]
  *     kernel, and per-doc sums fold in sorted order — so weights are
  *     partition-invariant and bit-reproducible across engines.
  */
object Dsir {

  /** Number of possible buckets for a `chars`-hex-char key. */
  def nBuckets(chars: Int): Long = {
    require(chars >= 1 && chars <= 8, s"chars must be in [1, 8], got $chars")
    1L << (4 * chars)
  }

  /** Hashed-bigram bucket keys of one TOKEN-ARRAY column (with
    * multiplicity — DSIR counts feature instances, not distinct
    * features). Takes the tokens as a materialized column, NOT the raw
    * text: `element_at` inside a transform lambda re-inlines its producer
    * per element (no CSE in lambda bodies — the same trap PERF.md records
    * for the SQ8 reconstruct), so building bigrams directly over
    * `split(text)` re-tokenizes the whole document for every bigram
    * element: O(words²) per document. Measured on the sf0.1 corpus:
    * the features pass dropped 5.9 s → 0.6 s when the split was staged. */
  def featureBucketsOfTokens(toks: Column, chars: Int = 4): Column = {
    val bigrams = F.transform(
      F.sequence(F.lit(0), F.size(toks) - 2),
      i => F.concat(F.element_at(toks, i + 1), F.lit(" "),
        F.element_at(toks, i + 2)))
    F.when(F.size(toks) >= 2,
      F.transform(bigrams, b => F.substring(F.md5(b.cast("binary")), 1, chars)))
      .otherwise(F.array())
  }

  /** (id, bucket) feature-instance rows for a corpus. The token array is
    * materialized in its own projection so the bigram lambda reads a
    * bound array instead of re-running the split per element. */
  def features(df: DataFrame, textCol: String, idCol: String,
      chars: Int = 4): DataFrame =
    df.select(F.col(idCol).as("id"),
        Dedup.tokens(F.col(textCol)).as("$td.__toks"))
      .select(F.col("id"),
        F.explode(featureBucketsOfTokens(F.col("`$td.__toks`"), chars))
          .as("bucket"))

  /** (bucket, cnt) exact feature counts plus the corpus feature total from
    * an existing (id, bucket) features relation — the sufficient statistics
    * of a smoothed bucket distribution, in ONE job: the ≤16^chars count
    * rows (bounded metadata, IVF-centroid class) are collected and the
    * total summed driver-side, then re-planted as a local relation for the
    * broadcast join. No cached relation is left behind — the former
    * cache-then-sum shape leaked two cached DataFrames per
    * [[importanceWeights]] call for the session lifetime. */
  def bucketCountsOf(feat: DataFrame): (DataFrame, Long) = {
    val spark = feat.sparkSession
    import spark.implicits._
    val rows = feat.groupBy("bucket").agg(F.count(F.lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (rows.toDF("bucket", "cnt"), rows.map(_._2).sum)
  }

  /** (id, n_features, weight) for every raw document with ≥1 feature:
    * the DSIR importance weight of the doc under `target` vs `raw`.
    * Buckets unseen in a corpus get the add-one floor 1/(total+B).
    *
    * The raw corpus is tokenized ONCE: its features relation is
    * materialized (eager local checkpoint) and both the raw distribution
    * and the probe stream derive from it. At full scale, persist
    * [[features]] as a parquet artifact per corpus version instead and
    * call [[importanceWeightsFrom]] — a local checkpoint lives in
    * executor storage and does not survive executor loss. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      textCol: String, idCol: String, chars: Int = 4): DataFrame =
    importanceWeightsFrom(
      features(raw, textCol, idCol, chars).localCheckpoint(),
      features(target, textCol, idCol, chars), chars)

  /** [[importanceWeights]] over pre-built (id, bucket) features relations
    * (from [[features]], a persisted parquet artifact, or a checkpoint).
    * `rawFeatures` is consumed twice — distribution and probe stream —
    * so pass a materialized relation to avoid re-tokenizing. */
  def importanceWeightsFrom(rawFeatures: DataFrame, targetFeatures: DataFrame,
      chars: Int = 4): DataFrame = {
    val b = nBuckets(chars)
    val (tCnt, tTot) = bucketCountsOf(targetFeatures)
    val (rCnt, rTot) = bucketCountsOf(rawFeatures)
    val tDenom = (tTot + b).toDouble
    val rDenom = (rTot + b).toDouble
    val pt = F.coalesce(F.col("tcnt") + 1L, F.lit(1L)) / F.lit(tDenom)
    val pr = F.coalesce(F.col("rcnt") + 1L, F.lit(1L)) / F.lit(rDenom)
    rawFeatures
      .join(F.broadcast(tCnt.withColumnRenamed("cnt", "tcnt")), Seq("bucket"), "left")
      .join(F.broadcast(rCnt.withColumnRenamed("cnt", "rcnt")), Seq("bucket"), "left")
      .withColumn("lr",
        graft.expressions.MathKernels.ln((pt / pr).cast(DoubleType)))
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_features"),
        F.aggregate(F.array_sort(F.collect_list(F.col("lr"))),
          F.lit(0.0), (acc, x) => acc + x).as("weight"))
  }

  /** The `n` highest-weighted raw documents (id tiebreak) joined back to
    * their rows — the selection step after weighting. Plans as a
    * distributed top-n on (weight desc, id). */
  def selectTopN(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, n: Int, chars: Int = 4): DataFrame = {
    require(n >= 0, s"n must be >= 0, got $n")
    val w = importanceWeights(raw, target, textCol, idCol, chars)
      .orderBy(F.col("weight").desc, F.col("id").asc).limit(n)
    raw.join(w.select(F.col("id").as(idCol), F.col("weight")), Seq(idCol))
  }
}
