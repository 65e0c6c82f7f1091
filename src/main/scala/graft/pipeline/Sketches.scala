package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Deterministic mergeable sketches beyond the distribution family in
  * [[Report]]: bottom-k (KMV) distinct sketches that double as mergeable
  * uniform samples and set-similarity estimators, count-min frequency
  * sketches, and priority-based weighted samples.
  *
  * Shared design rule with [[Report.quantileSketch]]: every sketch here is
  * DETERMINISTIC — hashes are md5 of the key string, so the same rows give
  * the same sketch under any partitioning, merge(a, b) equals the sketch
  * of a ∪ b EXACTLY, and every estimate is oracle-checkable by an external
  * engine stating the identical arithmetic. The uniform-fraction
  * convention is the repo-wide md5-prefix one (see e.g. the JL projection
  * and bucketed splits): the first 15 hex chars of md5, read as an
  * integer, over 16^15 — both a Spark `conv` and a DuckDB
  * `('0x' || substr(..))::BIGINT` state the same value, and 16^15 = 2^60
  * keeps the integer inside BIGINT range.
  */
object Sketches {

  /** 16^15 = 2^60 — denominator of the md5-prefix uniform fraction;
    * exactly representable as a double. */
  val HexDenom: Double = 1152921504606846976.0d

  /** First-15-hex-chars md5 prefix of `s` as a long in [0, 2^60). */
  def hexPrefix(s: Column): Column =
    F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

  /** The md5-prefix uniform fraction u(s) ∈ [0, 1): hexPrefix / 16^15,
    * stated with this exact parenthesization on every engine. */
  def uniformFrac(s: Column): Column =
    hexPrefix(s).cast("double") / F.lit(HexDenom)

  // ---------------------------------------------------------------------
  // Bottom-k (KMV) sketch
  // ---------------------------------------------------------------------

  /** Bottom-k (KMV) distinct sketch: the `k` lexicographically smallest
    * DISTINCT md5 hashes of `keyCol`, kept WITH their keys — so one
    * sketch answers three dataset-card questions at once:
    *
    *   - distinct count: exact when fewer than k hashes exist, else the
    *     classic KMV estimator (k−1)/u(h_k) ([[kmvEstimate]]; Bar-Yossef
    *     et al. 2002, "Counting distinct elements in a data stream");
    *   - a mergeable UNIFORM SAMPLE of distinct keys ([[kmvSample]]):
    *     md5 order is independent of the data, so the kept keys are a
    *     uniform without-replacement draw that stays uniform under merge;
    *   - set similarity between two corpora ([[kmvJaccard]]) from the
    *     sketches alone.
    *
    * Deterministic: merge(a, b) == sketch(a ∪ b) EXACTLY (the k smallest
    * of a union are a function of the union, not the split). Shape: one
    * distinct shuffle on (group, key), then per-group top-k — a keyed
    * window over the distinct set when grouped, TakeOrderedAndProject
    * when global; the assembled array is ≤ k entries per group, never
    * the corpus. Output: (group?, entries: array<struct<h, key>> sorted
    * ascending by h, k). NULL keys carry no hash (same rule as
    * [[Report.histogram]]). */
  def kmvSketch(df: DataFrame, keyCol: String, k: Int,
      groupCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val keyCols = groupCol.toSeq.map(F.col)
    val hashed = df
      .select(keyCols :+ F.col(keyCol).cast("string").as("td_key"): _*)
      .where(F.col("td_key").isNotNull)
      .withColumn("td_h", F.md5(F.col("td_key")))
      .distinct()
    val kept = groupCol match {
      case Some(g) =>
        val w = Window.partitionBy(F.col(g)).orderBy(F.col("td_h").asc)
        hashed.withColumn("td_rn", F.row_number().over(w))
          .where(F.col("td_rn") <= k)
      case None =>
        hashed.orderBy(F.col("td_h").asc).limit(k)
    }
    kept
      .groupBy(keyCols: _*)
      .agg(F.sort_array(F.collect_list(
        F.struct(F.col("td_h").as("h"), F.col("td_key").as("key"))))
        .as("entries"))
      .withColumn("k", F.lit(k))
  }

  /** Union previously-built KMV sketches into one: the k smallest
    * distinct hashes of the union of entries — no data rescan, and
    * (determinism) bit-equal to [[kmvSketch]] over the union of the
    * original corpora. All inputs must carry the same `k` stamp; the
    * guard rides the merge aggregation (raise_error at action time, no
    * extra driver job), mirroring [[Report.mergeQuantileSketches]]. */
  def mergeKmvSketches(sketches: DataFrame): DataFrame =
    mergeKmvImpl(sketches, Nil)

  /** Per-group [[mergeKmvSketches]]: each group's sketches union to that
    * group's bottom-k; different groups may carry different k stamps. */
  def mergeKmvSketchesByGroup(sketches: DataFrame,
      groupCol: String): DataFrame =
    mergeKmvImpl(sketches, Seq(groupCol))

  private def mergeKmvImpl(sketches: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(sketches.columns.contains("k"),
      "KMV sketches must carry their k stamp — (re)build with kmvSketch")
    val keyCols = keys.map(F.col)
    val exploded = sketches
      .select(keyCols ++ Seq(F.col("k"),
        F.explode(F.col("entries")).as("e")): _*)
      .select(keyCols ++ Seq(F.col("k"),
        F.col("e.h").as("td_h"), F.col("e.key").as("td_key")): _*)
      .distinct()
    // the k-stamp identity guard aggregates over EVERY exploded entry —
    // BEFORE any bottom-k selection — so sketches with disagreeing stamps
    // raise even when their hash sets are disjoint (a per-hash or
    // post-filter guard would pass silently in that case); the union
    // bottom-k is a sorted fold over ≤ (#sketches · k) entries per group
    // (sketch rows, never corpus), sliced to k — no window, no
    // single-partition stage
    val kGuard = F.when(F.countDistinct(F.col("k")) === 1,
        F.first(F.col("k")))
      .otherwise(F.raise_error(F.lit(
        "cannot merge KMV sketches with different k stamps")))
    exploded
      .groupBy(keyCols: _*)
      .agg(F.slice(F.sort_array(F.collect_list(
            F.struct(F.col("td_h").as("h"), F.col("td_key").as("key")))),
          F.lit(1), kGuard).as("entries"),
        kGuard.as("k"))
      .select(keyCols ++ Seq(F.col("entries"), F.col("k")): _*)
  }

  /** Distinct-count answer from a KMV sketch: exact `n_kept` when the
    * corpus had fewer than k distinct keys, else (k−1)/u(h_k) with the
    * md5-prefix uniform fraction — every term stated so an external
    * engine reproduces the double bit-for-bit. Output:
    * (group?, n_kept, estimate). */
  def kmvEstimate(sketch: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val nKept = F.size(F.col("entries")).cast("long")
    val kth = F.element_at(F.col("entries"), F.col("k")).getField("h")
    val est = F.when(nKept < F.col("k").cast("long"), nKept.cast("double"))
      .otherwise(
        (F.col("k").cast("double") - 1.0d) /
          (F.conv(F.substring(kth, 1, 15), 16, 10).cast("long")
            .cast("double") / F.lit(HexDenom)))
    sketch.select(keyCols.map(F.col) ++ Seq(
      nKept.as("n_kept"), est.as("estimate")): _*)
  }

  /** The sketch's kept keys as rows — the mergeable uniform sample.
    * Output: (group?, h, key), one row per kept entry. */
  def kmvSample(sketch: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    sketch
      .select(keyCols.map(F.col) :+ F.explode(F.col("entries")).as("e"): _*)
      .select(keyCols.map(F.col) ++ Seq(
        F.col("e.h").as("h"), F.col("e.key").as("key")): _*)

  /** KMV set-similarity between two sketched corpora: merge the two
    * hash sets, keep the union's bottom-k M, and estimate
    * Jaccard ≈ |{h ∈ M seen in BOTH}| / |M| (Beyer et al. 2007, "On
    * synopses for distinct-value estimation under multiset operations").
    * Deterministic given the two sketches, so the estimator itself — not
    * just its expectation — is oracle-checkable. Both sketches must
    * carry the same k. Output: one (n_kept, n_common, jaccard) row. */
  def kmvJaccard(a: DataFrame, b: DataFrame): DataFrame = {
    def side(df: DataFrame, mark: String) = df
      .select(F.col("k"), F.explode(F.col("entries")).as("e"))
      .select(F.col("k"), F.col("e.h").as("td_h"), F.lit(mark).as("td_side"))
    val both = side(a, "a").unionByName(side(b, "b"))
    // stamp identity is validated across ALL entry rows in the final
    // aggregate below, not per hash — two sketches with different k
    // stamps but DISJOINT hash sets must still raise (a per-hash guard
    // sees a single k per group and passes silently); carrying min AND
    // max of k through the per-hash agg lets the group-level guard see
    // every stamp even when a hash appears on both sides
    val perHash2 = both
      .groupBy(F.col("td_h"))
      .agg(F.max(F.when(F.col("td_side") === "a", 1).otherwise(0))
          .as("in_a"),
        F.max(F.when(F.col("td_side") === "b", 1).otherwise(0)).as("in_b"),
        F.min(F.col("k")).as("td_kmin"), F.max(F.col("k")).as("td_kmax"))
    val kGuard = F.when(
        F.countDistinct(F.col("td_kmin")) === 1 &&
          F.countDistinct(F.col("td_kmax")) === 1 &&
          F.min(F.col("td_kmin")) === F.max(F.col("td_kmax")),
        F.first(F.col("td_kmin")))
      .otherwise(F.raise_error(F.lit(
        "cannot compare KMV sketches with different k stamps")))
    // union bottom-k: sorted fold over the ≤ 2k per-hash rows (sketch
    // entries, never corpus), sliced to k — no window
    perHash2
      .agg(F.slice(F.sort_array(F.collect_list(F.struct(
            F.col("td_h"), F.col("in_a"), F.col("in_b")))),
          F.lit(1), kGuard).as("td_m"))
      .select(F.size(F.col("td_m")).cast("long").as("n_kept"),
        F.aggregate(F.col("td_m"), F.lit(0L),
          (acc, e) => acc +
            (e.getField("in_a") * e.getField("in_b")).cast("long"))
          .as("n_common"))
      .withColumn("jaccard",
        F.col("n_common").cast("double") / F.col("n_kept").cast("double"))
      .select(F.col("n_kept"), F.col("n_common"), F.col("jaccard"))
  }

  // ---------------------------------------------------------------------
  // Count-min frequency sketch
  // ---------------------------------------------------------------------

  /** Deterministic count-min sketch (Cormode & Muthukrishnan 2005): a
    * depth × width grid of counters; row r hashes `key` to bucket
    * md5(r ":" key)-prefix mod width, and a point query reads the MIN
    * over rows — an overestimate-only frequency answer in O(depth·width)
    * space regardless of key cardinality. Persisted as `depth` rows of
    * (r, counts: array<long>[width], depth, width, n) — plain parquet,
    * merged by ELEMENTWISE addition ([[mergeCmsSketches]]) with zero
    * rescan, and (integer algebra) merge == whole-corpus bit-exact.
    *
    * The md5 row-salted bucket makes the sketch deterministic AND gives
    * the pairwise-independence-flavored spread the error bound wants;
    * an external engine states the identical bucket, so even the
    * collision pattern is oracle-checkable. Shape: one explode to
    * depth·n (collapsed map-side by partial aggregation to ≤ depth·width
    * per partition), one keyed agg, one dense-array assembly per row —
    * the [[Report.quantileSketch]] scatter pattern. NULL keys carry no
    * counter. */
  def cmsSketch(df: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad CMS shape ($depth x $width)")
    val key = F.col(keyCol).cast("string")
    val rows = df.where(key.isNotNull)
      .select(key.as("td_key"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).as("td_r"))
      .select(F.col("td_r"), cmsBucket(F.col("td_r"), F.col("td_key"), width)
        .as("td_b"))
      .groupBy(F.col("td_r"), F.col("td_b"))
      .agg(F.count(F.lit(1)).as("td_n"))
    rows.groupBy(F.col("td_r").as("r"))
      .agg(graft.expressions.VecAggs.scatterLong(
        F.col("td_b"), F.col("td_n"), width).as("counts"))
      .withColumn("depth", F.lit(depth))
      .withColumn("width", F.lit(width))
      .withColumn("n", F.aggregate(F.col("counts"), F.lit(0L), _ + _))
  }

  /** The CMS bucket of `key` in row `r`: md5-prefix of "r:key" (first 8
    * hex chars as a long) mod width — the repo's portable bucket. */
  def cmsBucket(r: Column, key: Column, width: Int): Column =
    F.conv(F.substring(
        F.md5(F.concat(r.cast("string"), F.lit(":"), key)), 1, 8),
      16, 10).cast("long") % width

  /** Union CMS sketches by elementwise addition per row r — zero data
    * rescan; all inputs must share one (depth, width) stamp (the guard
    * rides the aggregation, as in [[Report.mergeQuantileSketches]]).
    * Output: the merged depth-row sketch. */
  def mergeCmsSketches(sketches: DataFrame): DataFrame = {
    val stampCols = Seq("depth", "width")
    require(stampCols.forall(sketches.columns.contains) &&
        sketches.columns.contains("r"),
      "CMS sketches must carry (r, depth, width) — (re)build with cmsSketch")
    // elementwise exact addition per row r in ONE aggregate (the
    // long_vec_sum kernel) — no per-cell explode (r17: the former
    // posexplode shape materialized sketches×width rows and probed the
    // rebuild map linearly per position); stamp guard unchanged, riding
    // the same aggregation lazily
    sketches.groupBy(F.col("r")).agg(
        graft.expressions.VecAggs.longVecSum(F.col("counts")).as("td_sum"),
        F.countDistinct(F.struct(F.col("depth"), F.col("width"))).as("td_g"),
        F.first(F.col("depth")).as("depth"),
        F.first(F.col("width")).as("width"))
      .select(F.col("r"),
        F.when(F.col("td_g") === 1, F.col("td_sum"))
          .otherwise(F.raise_error(F.lit(
            "cannot merge count-min sketches with different " +
              "(depth, width) stamps")))
          .as("counts"),
        F.col("depth"), F.col("width"))
      .withColumn("n", F.aggregate(F.col("counts"), F.lit(0L), _ + _))
  }

  /** Assemble dense CMS sketch rows from SPARSE (r, b, n) cells — the
    * pivot for [[graft.streaming.Streams.windowedCms]]'s streamed
    * windows (one sketch per `groupCols` value, e.g. per hour), the
    * frequency-family sibling of [[Report.binsToSketch]]. Cells outside
    * the declared grid raise loudly; absent cells are zero. Output:
    * groupCols ++ (r, counts, depth, width, n) — mergeable with batch
    * history via [[mergeCmsSketches]]. */
  def cellsToCms(df: DataFrame, depth: Int, width: Int,
      rCol: String = "r", bCol: String = "b", nCol: String = "n",
      groupCols: Seq[String] = Nil): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad CMS shape ($depth x $width)")
    val keys = groupCols.map(F.col)
    val checkedR = F.when(
        F.col(rCol) >= 0 && F.col(rCol) < depth, F.col(rCol).cast("int"))
      .otherwise(F.raise_error(F.concat(
        F.lit(s"CMS row out of range [0, ${depth - 1}]: "),
        F.col(rCol).cast("string"))))
    val checkedB = F.when(
        F.col(bCol) >= 0 && F.col(bCol) < width, F.col(bCol).cast("long"))
      .otherwise(F.raise_error(F.concat(
        F.lit(s"CMS bucket out of range [0, ${width - 1}]: "),
        F.col(bCol).cast("string"))))
    // dense scatter in ONE aggregate (duplicate cells raise, like the
    // map_from_entries pivot it replaces; absent cells are 0)
    df.groupBy(keys :+ checkedR.as("r"): _*)
      .agg(graft.expressions.VecAggs.scatterLong(
        checkedB, F.col(nCol).cast("long"), width).as("counts"))
      .withColumn("depth", F.lit(depth))
      .withColumn("width", F.lit(width))
      .withColumn("n", F.aggregate(F.col("counts"), F.lit(0L), _ + _))
  }

  /** Point-query frequencies from a CMS: for each probe key, min over
    * the sketch's depth rows of the counter at that row's bucket. The
    * sketch collapses to ONE broadcast row (an r → counts map of depth
    * small arrays), so each probe row stays exactly one output row —
    * duplicate probe rows keep their cardinality (the former
    * probe-relation groupBy both collapsed duplicates AND cost a probe-
    * wide shuffle; this has neither), and the probe relation can be
    * arbitrarily large (a full candidate vocabulary) with zero shuffles.
    * Sketch rows disagreeing on (depth, width) raise loudly. Output:
    * probes ++ (estimate). */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame,
      keyCol: String): DataFrame = {
    val one = sketch.agg(
      F.map_from_entries(F.collect_list(
        F.struct(F.col("r"), F.col("counts")))).as("td_rows"),
      F.when(F.countDistinct(F.struct(F.col("depth"), F.col("width"))) === 1,
          F.first(F.col("depth")))
        .otherwise(F.raise_error(F.lit(
          "CMS sketch rows disagree on (depth, width)"))).as("td_d"),
      F.first(F.col("width")).as("td_w"))
    val key = F.col(keyCol).cast("string")
    probes
      .join(F.broadcast(one))
      .withColumn("estimate",
        F.array_min(F.transform(
          F.sequence(F.lit(0), F.col("td_d") - 1),
          r => {
            // key and td_rows are bound attributes, so only the md5 (which
            // genuinely depends on the lambda variable r) runs per element
            val b = F.conv(F.substring(
                F.md5(F.concat(r.cast("string"), F.lit(":"), key)), 1, 8),
              16, 10).cast("long") % F.col("td_w")
            F.element_at(F.element_at(F.col("td_rows"), r),
              (b + 1L).cast("int"))
          })))
      .drop("td_rows", "td_d", "td_w")
  }

  // ---------------------------------------------------------------------
  // Bloom membership sketch
  // ---------------------------------------------------------------------

  /** Deterministic Bloom filter (Bloom 1970) as a parquet row: `m` bits
    * packed 32 per BIGINT word, hash i of a key setting bit
    * md5(i ":" key)-prefix mod m (the [[cmsBucket]] function — the
    * repo's portable bucket). Membership answers are one-sided: every
    * inserted key reads true; an absent key false-positives with
    * probability ≈ (1 − e^(−kn/m))^k — and because the hash is
    * deterministic, even the COLLISION PATTERN is reproducible, so an
    * external engine states the identical member bit for every probe,
    * false positives included. Merge is bitwise OR ([[mergeBloomSketches]]),
    * exactly the sketch of the union. 32-bit packing keeps every word
    * value in [0, 2^32): positive in both engines' BIGINT with no
    * sign-bit edge. NULL keys set no bit (the family rule). Output: one
    * (words: array<long>, m, k, bits_set) row per `groupCols` value
    * (none → one global row). Shape: one explode to k·n bit positions
    * (collapsed map-side by partial bit_or), one keyed agg, one dense
    * assembly — the [[cmsSketch]] scatter pattern. */
  def bloomSketch(df: DataFrame, keyCol: String, mBits: Int,
      kHashes: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(mBits >= 1 && kHashes >= 1, s"bad Bloom shape ($mBits, $kHashes)")
    val keys = groupCols.map(F.col)
    val key = F.col(keyCol).cast("string")
    val pos = cmsBucket(F.col("td_i"), F.col("td_key"), mBits)
    val sparse = df.where(key.isNotNull)
      .select(keys ++ Seq(key.as("td_key"),
        F.explode(F.sequence(F.lit(0), F.lit(kHashes - 1))).as("td_i")): _*)
      .select(keys ++ Seq(
        F.floor(pos.cast("double") / 32.0d).cast("int").as("td_w"),
        // 2^bit is exact in a double for bit in [0, 31]
        F.pow(F.lit(2.0d), (pos % 32L).cast("double")).cast("long")
          .as("td_v")): _*)
      .groupBy(keys :+ F.col("td_w"): _*)
      .agg(F.bit_or(F.col("td_v")).as("td_bits"))
    wordsToBloom(sparse, mBits, kHashes, keys)
  }

  /** Dense Bloom row(s) from sparse (word, bits) cells — shared by
    * [[bloomSketch]] and [[cellsToBloom]]. */
  private def wordsToBloom(sparse: DataFrame, mBits: Int, kHashes: Int,
      keys: Seq[Column]): DataFrame = {
    val nWords = (mBits + 31) / 32
    sparse.groupBy(keys: _*)
      .agg(graft.expressions.VecAggs.scatterLong(
        F.col("td_w"), F.col("td_bits"), nWords).as("words"))
      .withColumn("m", F.lit(mBits))
      .withColumn("k", F.lit(kHashes))
      .withColumn("bits_set",
        F.aggregate(F.col("words"), F.lit(0L),
          (acc, w) => acc + F.bit_count(w).cast("long")))
  }

  /** Assemble dense Bloom rows from SPARSE (word, bits) cells — the
    * pivot for [[graft.streaming.Streams.windowedBloom]]'s streamed
    * windows, the membership-family sibling of [[cellsToCms]]. Cells
    * outside [0, ceil(m/32)) or carrying bits outside the 32-bit word
    * range raise loudly; absent words are zero. */
  def cellsToBloom(df: DataFrame, mBits: Int, kHashes: Int,
      wordCol: String = "td_w", bitsCol: String = "td_bits",
      groupCols: Seq[String] = Nil): DataFrame = {
    require(mBits >= 1 && kHashes >= 1, s"bad Bloom shape ($mBits, $kHashes)")
    val nWords = (mBits + 31) / 32
    val checkedW = F.when(
        F.col(wordCol) >= 0 && F.col(wordCol) < nWords,
        F.col(wordCol).cast("int"))
      .otherwise(F.raise_error(F.concat(
        F.lit(s"Bloom word out of range [0, ${nWords - 1}]: "),
        F.col(wordCol).cast("string"))))
    val checkedB = F.when(
        F.col(bitsCol) >= 0L && F.col(bitsCol) < 4294967296L,
        F.col(bitsCol).cast("long"))
      .otherwise(F.raise_error(F.concat(
        F.lit("Bloom word bits outside 32-bit packing: "),
        F.col(bitsCol).cast("string"))))
    val sparse = df
      .select(groupCols.map(F.col) ++ Seq(
        checkedW.as("td_w"), checkedB.as("td_bits")): _*)
      .groupBy(groupCols.map(F.col) :+ F.col("td_w"): _*)
      .agg(F.bit_or(F.col("td_bits")).as("td_bits"))
    wordsToBloom(sparse, mBits, kHashes, groupCols.map(F.col))
  }

  /** Union Bloom sketches by elementwise bitwise OR — zero data rescan,
    * and (bit algebra) merge == whole-corpus bit-exact. All inputs must
    * share one (m, k) stamp; the guard rides the aggregation (raise_error
    * at action time), as in [[mergeCmsSketches]]. */
  def mergeBloomSketches(sketches: DataFrame,
      groupCols: Seq[String] = Nil): DataFrame = {
    val stampCols = Seq("m", "k")
    require(stampCols.forall(sketches.columns.contains) &&
        sketches.columns.contains("words"),
      "Bloom sketches must carry (words, m, k) — (re)build with bloomSketch")
    val keys = groupCols.map(F.col)
    // elementwise bitwise OR in ONE aggregate (the long_vec_or kernel) —
    // no per-word explode; stamp guard unchanged, lazy on the same agg
    sketches.groupBy(keys: _*).agg(
        graft.expressions.VecAggs.longVecOr(F.col("words")).as("td_or"),
        F.countDistinct(F.struct(F.col("m"), F.col("k"))).as("td_g"),
        F.first(F.col("m")).as("m"), F.first(F.col("k")).as("k"))
      .select(keys ++ Seq(
        F.when(F.col("td_g") === 1, F.col("td_or"))
          .otherwise(F.raise_error(F.lit(
            "cannot merge Bloom sketches with different (m, k) stamps")))
          .as("words"),
        F.col("m"), F.col("k")): _*)
      .withColumn("bits_set",
        F.aggregate(F.col("words"), F.lit(0L),
          (acc, w) => acc + F.bit_count(w).cast("long")))
  }

  /** Membership answers from a Bloom sketch: for each probe key, true
    * iff ALL k bit positions are set — inserted keys always true,
    * absent keys true only on the (deterministic, oracle-stateable)
    * false-positive pattern. The sketch is one row (or one per join
    * key) — broadcast onto the probes, so the probe relation can be a
    * full candidate corpus with no shuffle of the sketch. Output:
    * probes ++ (member: boolean). */
  def bloomProbe(sketch: DataFrame, probes: DataFrame,
      keyCol: String): DataFrame = {
    val rows = sketch.select(F.col("words").as("td_words"),
      F.col("m").as("td_m"), F.col("k").as("td_k"))
    val key = F.col(keyCol).cast("string")
    probes
      .join(F.broadcast(rows))
      .withColumn("member",
        F.aggregate(F.sequence(F.lit(0), F.col("td_k") - 1),
          F.lit(true),
          (acc, i) => {
            val pos = F.conv(F.substring(
                F.md5(F.concat(i.cast("string"), F.lit(":"), key)), 1, 8),
              16, 10).cast("long") % F.col("td_m").cast("long")
            val word = F.element_at(F.col("td_words"),
              F.floor(pos.cast("double") / 32.0d).cast("int") + 1)
            val bitVal = F.pow(F.lit(2.0d), (pos % 32L).cast("double"))
              .cast("long")
            acc && word.bitwiseAND(bitVal) =!= 0L
          }))
      .select(probes.columns.map(F.col).toSeq :+ F.col("member"): _*)
  }

  /** Cardinality estimate from a Bloom sketch's fill ratio
    * (Swamidass & Baldi 2007): n̂ = −(m/k) · ln(1 − X/m) for X set
    * bits — ln through the libm kernel so the double is engine-portable.
    * A full filter (X = m) answers +Infinity honestly. Output: one
    * (bits_set, m, k, estimate) row per input sketch row. */
  def bloomEstimate(sketch: DataFrame,
      keyCols: Seq[String] = Nil): DataFrame =
    sketch.select(keyCols.map(F.col) ++ Seq(
      F.col("bits_set"), F.col("m"), F.col("k"),
      (-(F.col("m").cast("double") / F.col("k").cast("double")) *
        graft.expressions.MathKernels.ln(
          F.lit(1.0d) - F.col("bits_set").cast("double") /
            F.col("m").cast("double"))).as("estimate")): _*)

  /** Set-operation cardinalities from two KMV sketches alone (Beyer et
    * al. 2007): over the union's bottom-k M, K_∩ = |{h ∈ M in both}|
    * estimates Jaccard ρ = K_∩/|M|, the union cardinality comes from
    * M's k-th smallest hash ((k−1)/u(h_k), exact when the union kept
    * fewer than k), and the derived estimates follow the inclusion–
    * exclusion algebra: |A∩B| ≈ ρ·|A∪B|, |A\B| ≈ |A| − |A∩B| with |A|
    * from a's own sketch. Every term is deterministic given the two
    * sketches, so the estimATOR — not just its expectation — is
    * oracle-checkable. Both sketches must carry the same k stamp.
    * Output: one (n_kept, n_common, jaccard, union_est, intersect_est,
    * diff_ab_est, diff_ba_est) row. */
  def kmvSetOps(a: DataFrame, b: DataFrame): DataFrame = {
    def side(df: DataFrame, mark: String) = df
      .select(F.col("k"), F.explode(F.col("entries")).as("e"))
      .select(F.col("k"), F.col("e.h").as("td_h"),
        F.lit(mark).as("td_side"))
    val both = side(a, "a").unionByName(side(b, "b"))
    // same whole-sketch stamp guard as kmvJaccardImpl: min AND max of k
    // survive the per-hash agg so the global guard sees every stamp, and
    // two sketches with different k but disjoint hashes raise loudly
    // instead of building an ill-defined union bottom-k
    val perHash = both
      .groupBy(F.col("td_h"))
      .agg(F.max(F.when(F.col("td_side") === "a", 1).otherwise(0)).as("in_a"),
        F.max(F.when(F.col("td_side") === "b", 1).otherwise(0)).as("in_b"),
        F.min(F.col("k")).as("td_kmin"), F.max(F.col("k")).as("td_kmax"))
    val kGuard = F.when(
        F.countDistinct(F.col("td_kmin")) === 1 &&
          F.countDistinct(F.col("td_kmax")) === 1 &&
          F.min(F.col("td_kmin")) === F.max(F.col("td_kmax")),
        F.first(F.col("td_kmin")))
      .otherwise(F.raise_error(F.lit(
        "cannot compare KMV sketches with different k stamps")))
    // union bottom-k as a sorted fold over the ≤ 2k per-hash rows (sketch
    // entries by construction, never corpus data), sliced to k — replaces
    // the former unpartitioned row_number window, so the boundedness is
    // structural (collect_list over sketch entries) rather than implicit,
    // and the bench tail loses the single-partition WindowExec warning
    val union = perHash
      .agg(F.slice(F.sort_array(F.collect_list(F.struct(
            F.col("td_h"), F.col("in_a"), F.col("in_b")))),
          F.lit(1), kGuard).as("td_m"),
        kGuard.as("td_k"))
      .select(
        F.size(F.col("td_m")).cast("long").as("n_kept"),
        F.aggregate(F.col("td_m"), F.lit(0L),
          (acc, e) => acc +
            (e.getField("in_a") * e.getField("in_b")).cast("long"))
          .as("n_common"),
        F.get(F.col("td_m"), F.size(F.col("td_m")) - 1)
          .getField("td_h").as("td_kth"),
        F.col("td_k"))
      .select(F.col("n_kept"), F.col("n_common"), F.col("td_k"),
        (F.col("n_common").cast("double") / F.col("n_kept").cast("double"))
          .as("jaccard"),
        F.when(F.col("n_kept") < F.col("td_k").cast("long"),
            F.col("n_kept").cast("double"))
          .otherwise((F.col("td_k").cast("double") - 1.0d) /
            (F.conv(F.substring(F.col("td_kth"), 1, 15), 16, 10)
              .cast("long").cast("double") / F.lit(HexDenom)))
          .as("union_est"))
    def est(df: DataFrame, name: String) =
      kmvEstimate(df).select(F.col("estimate").as(name))
    union
      .crossJoin(F.broadcast(est(a, "td_a_est")))
      .crossJoin(F.broadcast(est(b, "td_b_est")))
      .withColumn("intersect_est", F.col("jaccard") * F.col("union_est"))
      .select(F.col("n_kept"), F.col("n_common"), F.col("jaccard"),
        F.col("union_est"), F.col("intersect_est"),
        (F.col("td_a_est") - F.col("intersect_est")).as("diff_ab_est"),
        (F.col("td_b_est") - F.col("intersect_est")).as("diff_ba_est"),
        // containment: what fraction of A is inside B (and vice versa) —
        // the decontamination-triage reading ("how much of eval is in
        // train?"); guarded for an empty side
        F.when(F.col("td_a_est") > 0.0d,
            (F.col("jaccard") * F.col("union_est")) / F.col("td_a_est"))
          .otherwise(F.lit(0.0d)).as("containment_ab"),
        F.when(F.col("td_b_est") > 0.0d,
            (F.col("jaccard") * F.col("union_est")) / F.col("td_b_est"))
          .otherwise(F.lit(0.0d)).as("containment_ba"))
  }

  // ---------------------------------------------------------------------
  // Deterministic weighted sample (priority / A-ES)
  // ---------------------------------------------------------------------

  /** Weighted without-replacement sample of k rows per group
    * (Efraimidis & Spirakis 2006 A-ES, in log form): each row draws
    * u = md5-prefix uniform from `saltPrefix:key`, gets priority
    * ln(u)/w (monotone with the classic u^(1/w)), and the k LARGEST
    * priorities win — deterministic, so re-runs and engines agree on
    * the exact sample, and inclusion probability tracks weight share.
    * ln is the libm kernel ([[graft.expressions.MathKernels.ln]]) for
    * cross-engine parity. Rows with NULL key or non-positive weight are
    * excluded. Shape: a keyed window over (group, priority) when
    * grouped; whole-frame sampling is top-k sort+limit
    * (TakeOrderedAndProject — per-partition heads merged, no global
    * sort). Output: input columns + (priority). */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, groupCol: Option[String] = None,
      saltPrefix: String = "ws"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = F.col(weightCol).cast("double")
    val u = uniformFrac(F.concat(F.lit(saltPrefix + ":"),
      F.col(keyCol).cast("string")))
    val pri = graft.expressions.MathKernels.ln(u) / w
    val withPri = df.where(F.col(keyCol).isNotNull && w > 0.0d)
      .withColumn("priority", pri)
    groupCol match {
      case Some(g) =>
        val win = Window.partitionBy(F.col(g))
          .orderBy(F.col("priority").desc, F.col(keyCol).cast("string").asc)
        withPri.withColumn("td_rn", F.row_number().over(win))
          .where(F.col("td_rn") <= k)
          .drop("td_rn")
      case None =>
        withPri.orderBy(F.col("priority").desc,
          F.col(keyCol).cast("string").asc).limit(k)
    }
  }
}
