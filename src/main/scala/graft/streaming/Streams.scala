package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming layer.
  *
  * The reference's "streaming" is micro-batch pub/sub of table versions plus
  * incremental source offsets (SURVEY §2.9) — no watermarks or event-time
  * state of its own. Here that maps onto Structured Streaming: a table
  * directory is a file-stream source (each committed version directory's
  * files become a micro-batch), transforms are ordinary DataFrame logic, and
  * sinks ride `writeStream`. Beyond parity we expose the event-time
  * machinery a training-data pipeline needs: watermarked windowed
  * aggregation and keyed session state.
  */
object Streams {
  /** Stream a directory of parquet (e.g. a store table's version dirs via
    * glob). Schema must be supplied — streaming sources don't infer. */
  def readParquetStream(spark: SparkSession, pathGlob: String, schema: StructType,
      maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(pathGlob)

  /** Continuous pub/sub source over a versioned store table: every committed
    * version directory's files surface as a micro-batch (the streaming analog
    * of the reference's version-commit triggers). Schema comes from the
    * current HEAD.
    *
    * Visibility: the store stages version data under a dot-prefixed
    * `.staging` dir (hidden from Spark's file listing) and moves it into the
    * table dir only at transaction commit, so this glob sees committed
    * versions exclusively — staged, aborted, or orphaned writes never
    * surface as micro-batches. */
  def tableStream(store: graft.store.TableStore, collection: String,
      table: String, maxFilesPerTrigger: Int = 100): DataFrame = {
    val head = store.scan(s"$collection/$table").getOrElse(
      throw new IllegalArgumentException(s"no committed versions in $collection/$table"))
    val spark = head.df.sparkSession
    // version dirs are UUIDv7 (hex-leading), so this glob structurally
    // excludes the `_log.jsonl` sibling and the `.staging` dir rather than
    // relying on Spark's hidden-file filtering of `_`/`.` prefixes
    spark.readStream.schema(head.df.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"${store.root}/$collection/$table/[0-9a-f]*")
  }

  /** Watermarked sliding-window aggregation: count + sum(valueCol) per
    * (window, keys). Late data beyond the watermark is dropped — state stays
    * bounded no matter how long the stream runs. */
  def windowedAgg(df: DataFrame, tsCol: String, valueCol: String,
      window: String, slide: String, watermark: String, keys: String*): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window, slide) +: keys.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"), F.sum(F.col(valueCol)).as("value_sum"))

  /** Streaming fixed-grid distribution monitor: per-event-time-window
    * counts over [[graft.pipeline.Report.gridBin]]'s [lo, hi) grid — the
    * streaming face of the mergeable quantile sketch. The binning is the
    * SAME deterministic cell function batch sketches use, so a window's
    * (bin, n) rows pivot into a stamped sketch row and merge with batch
    * history via `mergeQuantileSketches` — live distribution drift
    * monitoring (p50/p95 length or score per hour) against a persisted
    * baseline, with no re-read of the stream. State is one count per
    * (window, bin): ≤ bins + 2 rows per open window, watermark-bounded
    * like every windowed aggregate here. NULL values carry no bin (the
    * batch rule). */
  def windowedDistribution(df: DataFrame, tsCol: String, valueCol: String,
      window: String, watermark: String, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    val x = F.col(valueCol).cast("double")
    df.where(x.isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window),
        graft.pipeline.Report.gridBin(x, lo, hi, bins).as("bin"))
      .agg(F.count(F.lit(1)).as("n"))
  }

  /** Streaming quantile-sketch face: per event-time window, the SPARSE
    * (bin, n) cells of the deterministic fixed-grid quantile sketch —
    * [[windowedDistribution]]'s shape, but under the FULL
    * [[graft.pipeline.Report.quantileSketch]] cell contract (log scale
    * included: `scale="log"` bins ln(x) over [ln lo, ln hi) with x ≤ 0
    * in the underflow tail, exactly [[graft.pipeline.Report
    * .logQuantileSketch]]). Emitted (window, bin, n) rows assemble into
    * dense stamped sketches via [[graft.pipeline.Report.binsToSketch]]
    * (group by the window) and merge with stored batch history through
    * `mergeQuantileSketches`; integer cell counts make the union of the
    * windows BIT-EQUAL to the whole-corpus sketch — live percentiles
    * against a persisted baseline, zero rescans. State per open window
    * is ≤ bins+2 counters, watermark-bounded. NULL values carry no bin
    * (the family rule). `lo`/`hi` are DATA-space bounds in both scales;
    * when assembling log cells with binsToSketch, state the LN-space
    * bounds (ln lo, ln hi) + scale="log" — the stamp convention
    * logQuantileSketch writes, which sketchQuantiles decodes through
    * the exp kernel. */
  def windowedQuantileSketch(df: DataFrame, tsCol: String, valueCol: String,
      window: String, watermark: String, lo: Double, hi: Double,
      bins: Int, scale: String = "linear"): DataFrame = {
    require(scale == "linear" || scale == "log",
      s"scale must be linear|log, got $scale")
    val x = F.col(valueCol).cast("double")
    val bin = if (scale == "log") {
      require(lo > 0 && lo < hi, s"need 0 < lo < hi, got [$lo, $hi)")
      F.when(x <= 0.0d, F.lit(0L)).otherwise(
        graft.pipeline.Report.gridBin(graft.expressions.MathKernels.ln(x),
          java.lang.Math.log(lo), java.lang.Math.log(hi), bins))
    } else graft.pipeline.Report.gridBin(x, lo, hi, bins)
    df.where(x.isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window), bin.as("bin"))
      .agg(F.count(F.lit(1)).as("n"))
  }

  /** Streaming moment monitor: per event-time window, the EXACT
    * fixed-point moment sketch (n, Σx, Σx², min, max at 2^scaleBits —
    * [[graft.pipeline.Report.momentSketch]]'s encoding), so each window
    * row merges with batch history via `mergeMomentSketches` and decodes
    * through `momentStats` — live mean/std/range drift against a stored
    * baseline with zero rescans. State per open window is one 5-number
    * row. Output: (window, n, sx, sxx, mn, mx, scale_bits). */
  def windowedMoments(df: DataFrame, tsCol: String, valueCol: String,
      window: String, watermark: String, scaleBits: Int = 20): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 30,
      s"scaleBits must be in [0, 30], got $scaleBits")
    val scale = (1L << scaleBits).toDouble
    val x = F.col(valueCol).cast("double")
    val fp = F.floor(x * F.lit(scale) + F.lit(0.5)).cast("long")
    val fpp = F.floor(x * x * F.lit(scale) + F.lit(0.5)).cast("long")
    df.where(x.isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(fp.cast("decimal(38,0)")).as("sx"),
        F.sum(fpp.cast("decimal(38,0)")).as("sxx"),
        F.min(fp).as("mn"), F.max(fp).as("mx"))
      .withColumn("scale_bits", F.lit(scaleBits))
  }

  /** Streaming bottom-k (KMV) distinct sketch: per event-time window,
    * the k md5-smallest distinct keys WITH their keys, built by the
    * bounded-state [[KmvAgg]] aggregate — state per open window is ≤ k
    * entries no matter how many distinct keys flow through (a raw
    * collect_set would grow with the key set). Deterministic, so the
    * streamed window sketch is bit-equal to the batch
    * [[graft.pipeline.Sketches.kmvSketch]] of the same rows, and the
    * windows merge to the whole-corpus sketch via `mergeKmvSketches`
    * after stamping `k` — live distinct-count estimates AND a live
    * uniform sample per window, from one aggregate.
    * Output: (window, entries: array<struct<h, key>>, k). */
  def windowedKmv(df: DataFrame, tsCol: String, keyCol: String,
      window: String, watermark: String, k: Int): DataFrame = {
    val agg = F.udaf(new KmvAgg(k), org.apache.spark.sql.Encoders.STRING)
    df.where(F.col(keyCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window))
      .agg(agg(F.col(keyCol).cast("string")).as("entries"))
      .withColumn("k", F.lit(k))
  }

  /** Streaming frequency monitor: per event-time window, the SPARSE
    * cells of a deterministic count-min sketch ([[graft.pipeline
    * .Sketches.cmsSketch]]'s md5 row-salted buckets) — the streaming
    * face of the mergeable frequency family. Emitted (window, r, b, n)
    * rows assemble into dense per-window sketch rows via
    * [[graft.pipeline.Sketches.cellsToCms]] and merge with stored batch
    * history through `mergeCmsSketches`; integer algebra makes the
    * union of the windows bit-equal to the whole-corpus sketch. State
    * per open window is ≤ depth·width counters, watermark-bounded.
    * NULL keys carry no counter (the batch rule). */
  def windowedCms(df: DataFrame, tsCol: String, keyCol: String,
      window: String, watermark: String, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad CMS shape ($depth x $width)")
    val key = F.col(keyCol).cast("string")
    df.where(key.isNotNull)
      .select(F.col(tsCol), key.as("td_key"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).as("r"))
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window), F.col("r"),
        graft.pipeline.Sketches.cmsBucket(F.col("r"), F.col("td_key"), width)
          .as("b"))
      .agg(F.count(F.lit(1)).as("n"))
  }

  /** Streaming membership monitor: per event-time window, the SPARSE
    * (word, bits) cells of a deterministic Bloom filter
    * ([[graft.pipeline.Sketches.bloomSketch]]'s md5 bit positions,
    * 32-bit word packing) — the streaming face of the mergeable
    * membership family. Emitted (window, td_w, td_bits) rows assemble
    * into dense per-window sketches via [[graft.pipeline.Sketches
    * .cellsToBloom]] and OR-merge with stored batch history through
    * `mergeBloomSketches`; bit algebra makes the union of the windows
    * bit-equal to the whole-corpus filter. State per open window is
    * ≤ ceil(m/32) words, watermark-bounded. NULL keys set no bit. */
  def windowedBloom(df: DataFrame, tsCol: String, keyCol: String,
      window: String, watermark: String, mBits: Int,
      kHashes: Int): DataFrame = {
    require(mBits >= 1 && kHashes >= 1, s"bad Bloom shape ($mBits, $kHashes)")
    val key = F.col(keyCol).cast("string")
    val pos = graft.pipeline.Sketches.cmsBucket(
      F.col("td_i"), F.col("td_key"), mBits)
    df.where(key.isNotNull)
      .select(F.col(tsCol), key.as("td_key"),
        F.explode(F.sequence(F.lit(0), F.lit(kHashes - 1))).as("td_i"))
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window),
        F.floor(pos.cast("double") / 32.0d).cast("int").as("td_w"))
      .agg(F.bit_or(
        F.pow(F.lit(2.0d), (pos % 32L).cast("double")).cast("long"))
        .as("td_bits"))
  }

  /** Live model monitoring: per event-time window, the confusion counts
    * of a DEPLOYED score column against an arriving label at a fixed
    * decision threshold, plus guarded precision/recall/F1 — the
    * streaming face of [[graft.pipeline.QualityModel.prAtThreshold]]
    * (identical algebra, so a window's row equals the batch answer over
    * that window's rows exactly). Stateless aggregation: state per open
    * window is four counters, watermark-bounded. Rows with NULL
    * score/label carry no count. */
  def windowedConfusion(df: DataFrame, tsCol: String, scoreCol: String,
      labelCol: String, window: String, watermark: String,
      threshold: Double): DataFrame = {
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("int")
    graft.pipeline.QualityModel.confusionPrf(
      df.where(s.isNotNull && y.isNotNull).withWatermark(tsCol, watermark),
      keys = Seq(F.window(F.col(tsCol), window)),
      (s >= F.lit(threshold)).cast("int"), y)
  }

  /** Live calibration monitoring: per event-time window, the
    * [[graft.pipeline.QualityModel.calibration]] table of a DEPLOYED
    * score against arriving labels — identical algebra (the
    * [[graft.pipeline.Report.gridBin]] fixed grid over [0, 1), exact
    * integer counts, the fixed-point mean score), so a window's rows
    * equal the batch calibration over that window's rows EXACTLY, and a
    * drifting window is directly comparable bin-by-bin against a stored
    * batch baseline (the score-calibration sibling of the
    * distribution-drift monitor). Stateless aggregation: state per open
    * window is ≤ bins+2 rows of three counters, watermark-bounded.
    * Rows with NULL score/label carry no count. Output: (window, bin,
    * n, n_pos, frac_pos, mean_score). */
  def windowedCalibration(df: DataFrame, tsCol: String, scoreCol: String,
      labelCol: String, window: String, watermark: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("int")
    df.where(s.isNotNull && y.isNotNull)
      .select(F.col(tsCol),
        graft.pipeline.Report.gridBin(s, 0.0, 1.0, bins).as("bin"),
        y.as("td_y"),
        F.floor(s * F.lit(graft.pipeline.QualityModel.GradScale) +
          F.lit(0.5d)).cast("long").as("td_sq"))
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window), F.col("bin"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("td_y")).cast("long").as("n_pos"),
        F.sum(F.col("td_sq")).as("td_sqs"))
      .select(F.col("window"), F.col("bin"), F.col("n"), F.col("n_pos"),
        (F.col("n_pos").cast("double") / F.col("n").cast("double"))
          .as("frac_pos"),
        ((F.col("td_sqs").cast("double") /
          F.lit(graft.pipeline.QualityModel.GradScale)) /
          F.col("n").cast("double")).as("mean_score"))
  }

  /** Streaming dataset-card profile — the live face of the
    * [[graft.pipeline.Report.profileStamp]] family (batch stamp +
    * versioned-store rollup + this): per event-time window, the SAME
    * mergeable per-column stats (counts, typed min/max, exact
    * DECIMAL(38,4) sums), packed as one entries array per window (a
    * post-aggregation generate is not allowed on streams; explode after
    * collection). Exploded window stamps roll up through
    * `Report.mergeProfiles` bit-equal to profiling the whole corpus —
    * counts add, min/max fold, decimal sums add exactly. State per open
    * window is one row of O(columns) aggregates, watermark-bounded.
    * Output: (window, entries: array<profile-stamp struct>). */
  def windowedProfile(df: DataFrame, tsCol: String, cols: Seq[String],
      window: String, watermark: String): DataFrame = {
    require(cols.nonEmpty, "windowedProfile of zero columns")
    val targets = cols.sorted
    val aggs = graft.pipeline.Report.stampAggs(df.schema, targets)
    df.withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window))
      .agg(F.count(F.lit(1)).as("td_n"), aggs: _*)
      .select(F.col("window"),
        F.array(graft.pipeline.Report.stampEntries(df.schema, targets): _*)
          .as("entries"))
  }

  /** Streaming correlation monitor — per event-time window the SAME
    * six fixed-point sums as [[graft.pipeline.Report.corrStamp]]
    * (decimal algebra, so window stamps also merge with batch history),
    * finished in-plan to a per-window Pearson coefficient: "did the
    * coupling between two signals drift this hour?" — the
    * feature-interaction sibling of the distribution-drift monitor.
    * Stateless per-window counters, watermark-bounded. Output:
    * (window, n, corr) with NULL corr for zero-variance windows. */
  def windowedCorr(df: DataFrame, tsCol: String, xCol: String, yCol: String,
      window: String, watermark: String): DataFrame = {
    val scale = graft.pipeline.QualityModel.GradScale
    def fixed(t: Column) =
      F.sum(F.floor(t * F.lit(scale) + F.lit(0.5d)).cast("decimal(38,0)"))
    val x = F.col(xCol).cast("double"); val y = F.col(yCol).cast("double")
    val agg = df.where(x.isNotNull && y.isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window))
      .agg(F.count(F.lit(1)).as("n"),
        fixed(x).as("sx"), fixed(y).as("sy"), fixed(x * x).as("sxx"),
        fixed(x * y).as("sxy"), fixed(y * y).as("syy"))
    def dbl(c: String) = F.col(c).cast("double") / F.lit(scale)
    val nD = F.col("n").cast("double")
    val num = (nD * dbl("sxy")) - (dbl("sx") * dbl("sy"))
    val vx = (nD * dbl("sxx")) - (dbl("sx") * dbl("sx"))
    val vy = (nD * dbl("syy")) - (dbl("sy") * dbl("sy"))
    agg.select(F.col("window"), F.col("n"),
      F.when(vx > 0.0d && vy > 0.0d,
        num / (F.sqrt(vx) * F.sqrt(vy))).as("corr"))
  }

  /** Streaming windowed DISTINCT counting via mergeable HLL sketches —
    * the live-dashboard metric Structured Streaming cannot express with
    * `countDistinct` (distinct aggregates are unsupported on streams).
    * Per event-time window, one DataSketches HLL sketch + its estimate:
    * state per open window is ONE sketch buffer (2^lgK registers), not
    * the value set, so a window with 10^9 distinct users costs the same
    * 4 KB as one with 10. The binary sketches are the SAME algebra as
    * the batch [[graft.pipeline.Report.distinctSketch]] family —
    * window rows union with batch history via `mergeDistinctSketches`
    * (StreamingSpec proves streamed-per-window == batch-per-window
    * estimates exactly, and that the windows union to the whole-corpus
    * estimate). Output: (window, sketch, estimate). */
  def windowedDistinct(df: DataFrame, tsCol: String, col: String,
      window: String, watermark: String, lgK: Int = 12): DataFrame =
    df.where(F.col(col).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window))
      .agg(F.expr(s"hll_sketch_agg(`$col`, $lgK)").as("sketch"))
      .select(F.col("window"), F.col("sketch"),
        F.expr("hll_sketch_estimate(sketch)").as("estimate"))

  /** Watermarked stream-stream interval join (append mode): emit every
    * (left, right) pair sharing `on` with `rightTs` inside
    * [leftTs − before, leftTs + after] — the click-to-view attribution /
    * impression-to-conversion shape. Structured Streaming bounds BOTH
    * sides' state from the watermark plus the interval bounds (each side
    * can evict rows older than watermark + interval), so the join runs
    * indefinitely with finite state; a tighter `watermark` trades late
    * matches for memory exactly like the windowed aggregations. Column
    * names must be disjoint across the two inputs (rename before joining
    * — the usual stream-stream join discipline, since both sides keep
    * their columns in the output). Inner joins emit as matches arrive;
    * pass `joinType` = left_outer/right_outer/full_outer for the
    * watermark-finalized outer variants. */
  def intervalJoin(left: DataFrame, right: DataFrame, on: Column,
      leftTs: String, rightTs: String, before: String, after: String,
      watermark: String, joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        on &&
          F.col(rightTs) >= F.col(leftTs) - F.expr(s"INTERVAL $before") &&
          F.col(rightTs) <= F.col(leftTs) + F.expr(s"INTERVAL $after"),
        joinType)

  /** Gap-based streaming sessionization: the streaming face of the batch
    * `session_window` operator (q_sessionize) — a session extends while
    * consecutive events per key arrive < gap apart. Under append mode the
    * watermark both finalizes sessions and bounds state; StreamingSpec
    * proves the emitted sessions equal the batch computation. */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
      watermark: String, keys: String*): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(F.session_window(F.col(tsCol), gap) +: keys.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n_events"), F.max(F.col(tsCol)).as("last_ts"))
      .select(keys.map(F.col) ++ Seq(
        F.col("session_window.start").as("session_start"),
        F.col("last_ts"), F.col("n_events")): _*)

  /** Continuous pub/sub: stream a source table directory into a sink
    * directory as parquet micro-batches. */
  def pipeToParquet(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** EXACTLY-ONCE streaming sink into the versioned store: each micro-batch
    * commits as one store transaction whose id derives deterministically
    * from `(queryName, batchId)`. Structured Streaming's foreachBatch can
    * re-deliver the last batch after a failure or checkpoint-less restart;
    * [[graft.store.TableStore.writeIdempotent]] sees the already-committed
    * transaction and no-ops, so a batch is never published twice — the
    * standard batchId-keyed idempotent-sink recipe, with the store's
    * staged-write transaction as the atomic commit point.
    *
    * Each micro-batch becomes one DELTA version (so `name@HEAD~n` walks
    * ingestion history and a version-range selector reads a window of the
    * ingested stream; `@HEAD` alone is the latest increment, matching the
    * store's snapshot-per-version read model). The data path inside a
    * batch is the store's distributed staged parquet write — no driver
    * materialization. `queryName` must be stable across restarts; it is
    * the identity under which batch ids dedupe. */
  def sinkToStore(df: DataFrame, store: graft.store.TableStore,
      collection: String, table: String, queryName: String,
      checkpointDir: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.writeIdempotent(collection, table, batch,
          txid = s"stream-$queryName-$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  final case class BucketState(firstId: Long, sig: Array[Long], lastMs: Long = 0L)
  final case class BandHit(id: Long, matchId: Long, est: Double)

  /** Streaming near-duplicate detection at ingestion: every arriving
    * document's MinHash signature is banded into LSH buckets whose STATE
    * remembers the bucket's canonical document (min id) and its full
    * signature; a document landing in an occupied bucket is flagged with
    * the Broder slot-match estimate of its Jaccard similarity against
    * that canonical (matching signature slots / k — the standard MinHash
    * similarity estimator). Downstream, max-reduce the per-band hits by
    * id ([[nearDupVerdicts]]) for one verdict row per document.
    *
    * Semantics: within a micro-batch, each bucket's rows are processed in
    * id order and the minimum id becomes (or stays) canonical, so a
    * single-batch run is deterministic under any partitioning — the
    * streaming analog of the batch band index's min-id convention. Across
    * batches, earlier arrivals win (ingestion-order semantics, exactly
    * what an incremental curation stream wants). State per bucket is one
    * id + k longs; hot boilerplate buckets cost one comparison per
    * arrival, never a pairwise term.
    *
    * Like every LSH path, hits are CANDIDATES with an estimated
    * similarity — precision comes from the estimate threshold the caller
    * applies; the batch twin (`Dedup.incrementalNearDupPairs`) does exact
    * verification where a second pass over history text is affordable.
    *
    * State lifecycle: by default (`stateTtlMs = None`) buckets live
    * forever — correct for dedup-against-all-history, but on an unbounded
    * ingestion stream the state store grows one entry per distinct
    * (band, bh) bucket with no ceiling. For such streams pass
    * `stateTtlMs = Some(ms)`: a bucket idle (no arrivals) for longer than
    * the TTL is evicted via `ProcessingTimeTimeout` (freeing state-store
    * memory), and a canonical older than the TTL no longer matches — the
    * next arrival re-seeds the bucket (staleness is checked lazily at
    * arrival time too, so correctness never waits on the engine firing
    * the timeout). TTL is sliding: every arrival in the bucket refreshes
    * it. Choose the TTL as the window within which near-dup rewrites
    * realistically arrive (e.g. days), and run the periodic batch sweep
    * (`Dedup.incrementalNearDupPairs` over the persisted band index) for
    * full-history guarantees — the streaming path is the low-latency
    * screen, the batch index is the archive.
    *
    * Trigger caveat: with `ProcessingTimeTimeout` Spark's
    * FlatMapGroupsWithStateExec requests another micro-batch whenever
    * processing time advanced, so `Trigger.AvailableNow` +
    * `processAllAvailable()` loops empty batches indefinitely. Pair the
    * TTL with a processing-time trigger on a continuous stream, or
    * `Trigger.Once` for bounded replays (StreamingSpec does). */
  def nearDupHits(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3,
      stateTtlMs: Option[Long] = None): Dataset[BandHit] = {
    val sigd = docs.select(F.col(idCol).cast("long").as("id"),
        graft.pipeline.Dedup.minhashSignature(F.col(textCol), k, n).as("sig"))
      .where(F.col("sig").isNotNull)
    nearDupHitsImpl(sigd, k, bands, stateTtlMs)
  }

  private def nearDupHitsImpl(sigd: DataFrame, k: Int, bands: Int,
      ttlMs: Option[Long],
      initial: Option[org.apache.spark.sql.KeyValueGroupedDataset[(Int, Long), BucketState]] = None)
      : Dataset[BandHit] = {
    val spark = sigd.sparkSession
    import spark.implicits._
    val banded = sigd.select(F.col("id"),
        F.col("sig").cast("array<long>").as("sig"),
        F.posexplode(graft.pipeline.Dedup.lshBands(F.col("sig"), k, bands)
          .cast("array<long>")).as(Seq("band", "bh")))
      .as[(Long, Array[Long], Int, Long)]
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val func: ((Int, Long), Iterator[(Long, Array[Long], Int, Long)],
        GroupState[BucketState]) => Iterator[BandHit] = {
      case (_, _, state: GroupState[BucketState]) if state.hasTimedOut =>
        // idle past the TTL: evict the bucket from the state store
        state.remove()
        Iterator.empty
      case (_, rows, state: GroupState[BucketState]) =>
        val now = ttlMs.map(_ => state.getCurrentProcessingTimeMs()).getOrElse(0L)
        // id order inside the batch → deterministic canonical (min id)
        val sorted = rows.toSeq.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer[BandHit]()
        // a canonical idle past the TTL is stale: the bucket re-seeds
        var cur = state.getOption
          .filter(s => ttlMs.forall(t => now - s.lastMs <= t)).orNull
        sorted.foreach { case (id, sig, _, _) =>
          if (cur == null) { cur = BucketState(id, sig, now); out += BandHit(id, -1L, 0.0) }
          else if (id == cur.firstId) ()
          else {
            val matches = sig.zip(cur.sig).count { case (a, b) => a == b }
            out += BandHit(id, cur.firstId, matches.toDouble / sig.length)
          }
        }
        if (cur != null) {
          state.update(cur.copy(lastMs = now))
          ttlMs.foreach(state.setTimeoutDuration)
        }
        out.iterator
    }
    val grouped = banded.groupByKey { case (_, _, band, bh) => (band, bh) }
    initial match {
      case Some(init) => grouped.flatMapGroupsWithState[BucketState, BandHit](
        OutputMode.Append(), timeoutConf, init)(func)
      case None => grouped.flatMapGroupsWithState[BucketState, BandHit](
        OutputMode.Append(), timeoutConf)(func)
    }
  }

  /** [[nearDupHits]] with its bucket state SEEDED from a batch history
    * corpus — the unification of the streaming screen and the incremental
    * batch story: a newly started stream immediately flags arrivals
    * against ALL of history (each history bucket's min-id canonical and
    * signature become the initial state, exactly as if the stream had
    * ingested history first), instead of only against documents seen
    * since the stream started. Combine with `stateTtlMs` to bound growth
    * afterwards: history canonicals idle past the TTL age out the same
    * way streamed ones do.
    *
    * The seed is computed with the same one-pass MinHash kernel the
    * stream uses — one batch job over history at query START, zero cost
    * per micro-batch. Spark's initial-state API
    * (KeyValueGroupedDataset.flatMapGroupsWithState with initialState,
    * public since 3.2) merges it into the state store on first use of
    * each key. */
  def nearDupHitsSeeded(docs: DataFrame, history: DataFrame, textCol: String,
      idCol: String, k: Int = 32, bands: Int = 8, n: Int = 3,
      stateTtlMs: Option[Long] = None): Dataset[BandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val histBanded = history.select(F.col(idCol).cast("long").as("id"),
        graft.pipeline.Dedup.minhashSignature(F.col(textCol), k, n).as("sig"))
      .where(F.col("sig").isNotNull)
      .select(F.col("id"), F.col("sig").cast("array<long>").as("sig"),
        F.posexplode(graft.pipeline.Dedup.lshBands(F.col("sig"), k, bands)
          .cast("array<long>")).as(Seq("band", "bh")))
    // min-id canonical per bucket, carrying its signature — the state the
    // stream would have built had it ingested history in id order
    val seedRows = histBanded
      .groupBy("band", "bh")
      .agg(F.min(F.struct(F.col("id"), F.col("sig"))).as("c"))
      .select(F.col("band"), F.col("bh"),
        F.col("c.id").as("firstId"), F.col("c.sig").as("sig"))
      .as[(Int, Long, Long, Array[Long])]
    // under a TTL, history canonicals start their idle clock at stream
    // start (not epoch 0, which would make every seed instantly stale)
    val seedMs = if (stateTtlMs.isDefined) System.currentTimeMillis() else 0L
    val initialState = seedRows
      .groupByKey { case (band, bh, _, _) => (band, bh) }
      .mapValues { case (_, _, id, sig) => BucketState(id, sig, seedMs) }
    val sigd = docs.select(F.col(idCol).cast("long").as("id"),
        graft.pipeline.Dedup.minhashSignature(F.col(textCol), k, n).as("sig"))
      .where(F.col("sig").isNotNull)
    nearDupHitsImpl(sigd, k, bands, stateTtlMs, Some(initialState))
  }

  /** Batch replay of [[nearDupHits]]' exact streaming semantics: the
    * canonical of each (band, bh) bucket is the global min id, every
    * other occupant is flagged with the slot-match estimate against the
    * canonical's signature, and each canonical emits one fresh-bucket row
    * (id, -1, 0) per bucket it seeds. When ids are monotone in ingestion
    * order (the usual curation-stream contract — and UUIDv7 doc ids
    * satisfy it), this equals the streaming result under ANY micro-batch
    * partitioning of the corpus, which is precisely what StreamingSpec's
    * differential asserts. Estimates are integer-ratio doubles, so the
    * equality is bit-exact, not approximate. */
  def nearDupHitsReplay(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3): DataFrame = {
    val sigd = docs.select(F.col(idCol).cast("long").as("id"),
        graft.pipeline.Dedup.minhashSignature(F.col(textCol), k, n).as("sig"))
      .where(F.col("sig").isNotNull)
    val banded = sigd.select(F.col("id"),
      F.col("sig").cast("array<long>").as("sig"),
      F.posexplode(graft.pipeline.Dedup.lshBands(F.col("sig"), k, bands)
        .cast("array<long>")).as(Seq("band", "bh")))
    val canon = banded.groupBy("band", "bh").agg(F.min("id").as("cid"))
    val canonSig = canon.join(
      banded.select(F.col("id").as("cid"), F.col("band"), F.col("bh"),
        F.col("sig").as("csig")),
      Seq("band", "bh", "cid"))
    banded.join(canonSig, Seq("band", "bh"))
      .select(F.col("id"),
        F.when(F.col("id") === F.col("cid"), F.lit(-1L))
          .otherwise(F.col("cid")).as("matchId"),
        F.when(F.col("id") === F.col("cid"), F.lit(0.0))
          .otherwise(F.aggregate(
            F.zip_with(F.col("sig"), F.col("csig"),
              (a, b) => F.when(a === b, 1).otherwise(0)),
            F.lit(0), (acc, x) => acc + x).cast("double") / F.lit(k.toDouble))
          .as("est"))
  }

  /** One verdict per document over [[nearDupHits]]: the best candidate
    * match (max estimate, ties to the LOWER match id) and whether it
    * clears `minEst`. Documents whose buckets were all fresh report
    * match_id -1, est 0. */
  def nearDupVerdicts(hits: Dataset[BandHit], minEst: Double = 0.5): DataFrame =
    hits.toDF()
      .groupBy("id")
      .agg(F.max(F.struct(F.col("est"), (-F.col("matchId")).as("negMatch")))
        .as("best"))
      .select(F.col("id"),
        (-F.col("best.negMatch")).cast("long").as("match_id"),
        F.col("best.est").as("est"),
        (F.col("best.est") >= minEst).as("is_near_dup"))

  /** Stateless streaming decontamination: every arriving document gets
    * its n-gram eval-overlap flag (the GPT-3-style guard, batch form in
    * [[graft.pipeline.Decontaminate.overlapFlags]]) the moment it is
    * ingested. The eval corpus's distinct shingles are packed into ONE
    * broadcast row and the verdict is a per-row `arrays_overlap` — no
    * streaming state, no watermark, append mode; the flags equal the
    * batch computation exactly (StreamingSpec differential, and the gate
    * shares q_decontaminate's oracle SQL verbatim).
    *
    * Scale: the packed gram set is eval-corpus-sized (benchmark suites —
    * thousands of docs, ~10⁵ grams) and is re-read per micro-batch like
    * any stream-static side. For eval sets too large to pack in one row,
    * explode + broadcast-semi-join per micro-batch (the batch shape) and
    * accept the per-batch doc-level distinct. */
  def decontaminateStream(docs: DataFrame, evals: DataFrame, textCol: String,
      idCol: String, evalTextCol: String, n: Int = 3): DataFrame = {
    val packed = evals
      .select(F.explode(graft.pipeline.Dedup.shingles(F.col(evalTextCol), n)).as("g"))
      .agg(F.collect_set("g").as("eval_grams"))
    docs.select(F.col(idCol).as("id"),
        graft.pipeline.Dedup.shingles(F.col(textCol), n).as("sh"))
      .crossJoin(F.broadcast(packed))
      .select(F.col("id"),
        F.coalesce(F.arrays_overlap(F.col("sh"), F.col("eval_grams")),
          F.lit(false)).as("contaminated"))
  }

  /** The keyed-state lifecycle shared by the one-row-per-key stateful
    * folds ([[runningTotals]], [[statefulCusum]], [[statefulEwma]],
    * [[statefulMoments]], [[statefulSprt]]): rows grouped by `key`; a key
    * whose TTL timeout fires loses its state and emits nothing; a state
    * idle past `stateTtlMs` (by its `lastMs` stamp) is stale even if the
    * engine has not fired its timeout yet, so the key restarts from
    * `zero(now)` — correctness never waits on the timeout. `fold` takes
    * (key, previous state, the batch's rows, now) and returns the next
    * state, stored with the TTL refreshed, and the key's one output row. */
  private def keyedFold[T, S: Encoder, U: Encoder](ds: Dataset[T],
      key: T => String, stateTtlMs: Option[Long], lastMs: S => Long,
      zero: Long => S)(
      fold: (String, S, Iterator[T], Long) => (S, U)): Dataset[U] = {
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(key)(Encoders.STRING)
      .flatMapGroupsWithState[S, U](OutputMode.Append(), timeoutConf) {
        (k: String, rows: Iterator[T], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val now = stateTtlMs.map(_ => state.getCurrentProcessingTimeMs())
              .getOrElse(0L)
            val prev = state.getOption
              .filter(s => stateTtlMs.forall(t => now - lastMs(s) <= t))
              .getOrElse(zero(now))
            val (next, out) = fold(k, prev, rows, now)
            state.update(next)
            stateTtlMs.foreach(state.setTimeoutDuration)
            Iterator.single(out)
          }
      }
  }

  final case class SessionUpdate(key: String, events: Long, valueSum: Double)
  final case class TotalsState(events: Long, valueSum: Double, lastMs: Long)

  final case class CusumUpdate(key: String, n: Long, cusumHi: Double,
    cusumLo: Double, alarm: Boolean)
  final case class CusumState(n: Long, hi: Double, lo: Double, lastMs: Long)

  /** Keyed ONLINE CUSUM via flatMapGroupsWithState — the streaming face
    * of [[graft.pipeline.Report.cusumDaily]] for per-entity drift: each
    * key carries Page's clamped two-sided ramps against a caller-stated
    * baseline `mu` (online monitoring states its target up front — the
    * batch face derives it from the full grid), updated every
    * micro-batch, with `alarm` raised while either ramp exceeds
    * `threshold`. Input rows are (key, seq, value); within each batch a
    * key's rows fold in ASCENDING `seq` order (sorted in the group
    * function), so given ordered arrival the full fold is deterministic
    * and an external engine can replay it — in batch mode (one "batch",
    * all rows per key) the output is exactly the seq-ordered fold, the
    * q_stream_cusum oracle. Identical step arithmetic to cusumDaily:
    * S = max(0, S + (±1·(v − mu) − slack)), every double op stated.
    * State per key is three numbers + a stamp; same TTL contract as
    * [[runningTotals]]. Memory: a key's rows within ONE micro-batch are
    * buffered to sort — bound the trigger size for pathological keys. */
  def statefulCusum(ds: Dataset[(String, Long, Double)], mu: Double,
      slack: Double, threshold: Double,
      stateTtlMs: Option[Long] = None): Dataset[CusumUpdate] = {
    require(slack >= 0.0d, s"slack must be >= 0, got $slack")
    require(threshold > 0.0d, s"threshold must be > 0, got $threshold")
    import ds.sparkSession.implicits._
    keyedFold[(String, Long, Double), CusumState, CusumUpdate](ds, _._1,
        stateTtlMs, _.lastMs, CusumState(0L, 0.0, 0.0, _)) {
      (key, prev, rows, now) =>
        var n = prev.n; var hi = prev.hi; var lo = prev.lo
        rows.toSeq.sortBy(_._2).foreach { r =>
          n += 1
          hi = math.max(0.0, hi + (1.0 * (r._3 - mu) - slack))
          lo = math.max(0.0, lo + (-1.0 * (r._3 - mu) - slack))
        }
        (CusumState(n, hi, lo, now),
          CusumUpdate(key, n, hi, lo, hi > threshold || lo > threshold))
    }
  }

  final case class EwmaUpdate(key: String, n: Long, value: Double,
    baseline: Double, deviation: Double)
  final case class EwmaState(n: Long, ewma: Double, lastMs: Long)

  /** Keyed ONLINE EWMA anomaly baseline via flatMapGroupsWithState — the
    * streaming face of [[graft.pipeline.Report.ewmaDaily]] for per-entity
    * trend: each key's baseline SEEDS at its first value (the ewmaDaily
    * convention, EWMA_1 = v_1) and then updates
    * EWMA ← EWMA·(1−α) + α·v per row in ascending `seq` order, every
    * double op stated once so the fold replays on any engine (in batch
    * mode the output IS the seq-ordered fold — the q_stream_ewma
    * oracle). Emitted per key per micro-batch: (key, n, last value,
    * baseline AFTER the fold, deviation = last value − the baseline
    * BEFORE it — the forecast residual an alert thresholds on; 0.0 for
    * a key's very first row, where no forecast exists). State per key
    * is two numbers + a stamp; same TTL contract and trigger caveat as
    * [[statefulCusum]]. */
  def statefulEwma(ds: Dataset[(String, Long, Double)], alpha: Double,
      stateTtlMs: Option[Long] = None): Dataset[EwmaUpdate] = {
    require(alpha > 0.0d && alpha <= 1.0d, s"alpha must be in (0,1], got $alpha")
    val beta = 1.0d - alpha
    import ds.sparkSession.implicits._
    keyedFold[(String, Long, Double), EwmaState, EwmaUpdate](ds, _._1,
        stateTtlMs, _.lastMs, EwmaState(0L, 0.0, _)) {
      (key, prev, rows, now) =>
        var n = prev.n; var ewma = prev.ewma
        var lastV = 0.0d; var dev = 0.0d
        rows.toSeq.sortBy(_._2).foreach { r =>
          val v = r._3
          if (n == 0L) { dev = 0.0d; ewma = v }
          else { dev = v - ewma; ewma = ewma * beta + alpha * v }
          n += 1
          lastV = v
        }
        (EwmaState(n, ewma, now), EwmaUpdate(key, n, lastV, ewma, dev))
    }
  }

  final case class MomentsUpdate(key: String, n: Long, value: Double,
    mean: Double, std: Double, z: Option[Double])
  final case class MomentsState(n: Long, sx: Long, sxx: Long, lastMs: Long)

  /** Keyed ONLINE z-score via flatMapGroupsWithState — "is this entity's
    * newest reading an outlier against ITS OWN history": per key the
    * EXACT 2^20 fixed-point moment sums (n, Σfp(v), Σfp(v²) — the
    * [[windowedMoments]] encoding, longs so any engine replays them as
    * integer sums; exact to |Σfp| < 2^63, i.e. ~2^42 rows of magnitude-
    * ~2000 values per key), updated per micro-batch with rows folded in
    * ascending `seq` order. Emitted per key per batch: (key, n, last
    * value, mean, population std, z = (last − mean)/std) — mean/std
    * decode with one stated division each (m = (Σfp/2^20)/n,
    * σ² = (Σfp²/2^20)/n − m²), z NULL while n < 2 or σ = 0. State per
    * key is three longs + a stamp; same TTL contract as
    * [[statefulCusum]].
    *
    * Domain: |value| ≤ 2^21 (same as the batch face [[graft.pipeline
    * .Report.welchT]] — the squared fixed-point image floor(v²·2^20)
    * must stay inside Long). Out-of-domain values RAISE: JVM `toLong`
    * would otherwise CLAMP at Long.MaxValue and emit a silently wrong
    * σ/z, where the batch twin fails loud under ANSI on the same
    * domain. Rescale the metric to original units upstream (the
    * q_ab_welch gate convention) when totals can exceed the domain. */
  def statefulMoments(ds: Dataset[(String, Long, Double)],
      stateTtlMs: Option[Long] = None): Dataset[MomentsUpdate] = {
    import ds.sparkSession.implicits._
    keyedFold[(String, Long, Double), MomentsState, MomentsUpdate](ds, _._1,
        stateTtlMs, _.lastMs, MomentsState(0L, 0L, 0L, _)) {
      (key, prev, rows, now) =>
        var n = prev.n; var sx = prev.sx; var sxx = prev.sxx
        var lastV = 0.0d
        rows.toSeq.sortBy(_._2).foreach { r =>
          val v = r._3
          // loud domain guard: past |v| = 2^21 the squared image
          // floor(v²·2^20) exceeds Long and JVM toLong CLAMPS silently
          if (math.abs(v) > 2097152.0d || v.isNaN)
            throw new IllegalArgumentException(
              s"statefulMoments value $v for key '$key' is outside the " +
              "fixed-point domain |v| <= 2^21 (= 2097152): the squared " +
              "2^20 image would overflow Long and clamp to a silently " +
              "wrong variance — rescale the metric to original units " +
              "upstream (the q_ab_welch gate convention)")
          n += 1
          sx += math.floor(v * 1048576.0d + 0.5d).toLong
          sxx += math.floor((v * v) * 1048576.0d + 0.5d).toLong
          lastV = v
        }
        val nD = n.toDouble
        val mean = (sx.toDouble / 1048576.0d) / nD
        val variance = math.max(0.0d,
          (sxx.toDouble / 1048576.0d) / nD - mean * mean)
        val std = math.sqrt(variance)
        val z = if (n >= 2L && std > 0.0d) Some((lastV - mean) / std)
                else None
        (MomentsState(n, sx, sxx, now),
          MomentsUpdate(key, n, lastV, mean, std, z))
    }
  }

  final case class SprtUpdate(key: String, trials: Long, successes: Long,
    llr: Double, decision: String, decisionSeq: Option[Long])
  final case class SprtState(trials: Long, successes: Long,
    decision: String, decisionSeq: Long, lastMs: Long)

  /** Keyed ONLINE sequential test (Wald's SPRT) via
    * flatMapGroupsWithState — the streaming face of
    * [[graft.pipeline.Report.sprtBernoulli]]: per key the cumulative
    * (trials, successes) integers, the LLR restated per arriving row
    * (rows folded ascending `seq`), and the decision LATCHED at the
    * first boundary crossing — a sequential test stops; later rows
    * keep counting for observability but never flip the verdict. The
    * four ln constants are computed once driver-side (the same
    * literals as the batch face — engines replaying this fold must
    * embed them, not re-derive via their libm). State per key is two
    * longs + the latched verdict + a stamp; same TTL contract as
    * [[statefulMoments]]. Emitted per key per batch: (key, trials,
    * successes, llr, decision ∈ accept_h1|accept_h0|continue,
    * decisionSeq — the crossing row's seq, None while `continue`). */
  def statefulSprt(ds: Dataset[(String, Long, Boolean)], p0: Double,
      p1: Double, alpha: Double = 0.05d, beta: Double = 0.2d,
      stateTtlMs: Option[Long] = None): Dataset[SprtUpdate] = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"p0, p1 in (0,1) and distinct: $p0, $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha, beta in (0,1): $alpha, $beta")
    val c1 = math.log(p1 / p0)
    val c0 = math.log((1.0d - p1) / (1.0d - p0))
    val upper = math.log((1.0d - beta) / alpha)
    val lower = math.log(beta / (1.0d - alpha))
    import ds.sparkSession.implicits._
    keyedFold[(String, Long, Boolean), SprtState, SprtUpdate](ds, _._1,
        stateTtlMs, _.lastMs, SprtState(0L, 0L, "", -1L, _)) {
      (key, prev, rows, now) =>
        var n = prev.trials; var k = prev.successes
        var decision = prev.decision; var decSeq = prev.decisionSeq
        rows.toSeq.sortBy(_._2).foreach { r =>
          n += 1
          if (r._3) k += 1
          if (decision.isEmpty) {
            val llr = k.toDouble * c1 + (n - k).toDouble * c0
            if (llr >= upper) { decision = "accept_h1"; decSeq = r._2 }
            else if (llr <= lower) { decision = "accept_h0"; decSeq = r._2 }
          }
        }
        val llr = k.toDouble * c1 + (n - k).toDouble * c0
        (SprtState(n, k, decision, decSeq, now),
          SprtUpdate(key, n, k, llr,
            if (decision.isEmpty) "continue" else decision,
            if (decision.isEmpty) None else Some(decSeq)))
    }
  }

  /** Keyed running state via flatMapGroupsWithState: per-key event count
    * and value sum, updated each micro-batch (the custom-state escape
    * hatch — KeyValueGroupedDataset.[flat]mapGroupsWithState).
    *
    * State lifecycle (same contract as [[nearDupHits]]): by default one
    * state row per distinct key lives forever — tiny per key, correct
    * for all-history totals, but unbounded on an unbounded key space.
    * Pass `stateTtlMs = Some(ms)` to evict keys idle past the TTL via
    * `ProcessingTimeTimeout` (sliding: every arrival refreshes it); a
    * key arriving after its state expired restarts its totals from zero
    * — checked lazily at arrival too, so correctness never waits on the
    * engine firing the timeout. Same trigger caveat as nearDupHits:
    * pair a TTL with a processing-time trigger or `Trigger.Once`, not
    * `AvailableNow` + `processAllAvailable()`. */
  def runningTotals(ds: Dataset[(String, Double)],
      stateTtlMs: Option[Long] = None): Dataset[SessionUpdate] = {
    import ds.sparkSession.implicits._
    keyedFold[(String, Double), TotalsState, SessionUpdate](ds, _._1,
        stateTtlMs, _.lastMs, TotalsState(0L, 0.0, _)) {
      (key, prev, rows, now) =>
        var n = prev.events
        var s = prev.valueSum
        rows.foreach { r => n += 1; s += r._2 }
        (TotalsState(n, s, now), SessionUpdate(key, n, s))
    }
  }
}
