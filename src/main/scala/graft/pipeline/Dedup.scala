package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All four strategies are expressed with codegen'd built-in functions and
  * shuffle-on-key joins/aggregations only — no driver-side loops, no UDFs —
  * so each scales linearly with executors:
  *
  *  - exact: hash group-by (map-side combine → one shuffle on the hash);
  *  - n-gram Jaccard: inverted shingle index self-join (shuffle on shingle,
  *    then on pair) — exact, no cross join;
  *  - MinHash+LSH: signature → banding → bucket self-join; candidate
  *    verification recomputes exact Jaccard. Only bucket-mates are paired, so
  *    cost is ~O(n·bands) instead of O(n²);
  *  - SimHash: 64-bit signature per doc; near-dup = equal signature (or small
  *    hamming distance via multi-probe of rotated bands).
  */
object Dedup {
  /** Whitespace word tokens, lowercased. */
  def tokens(text: Column): Column = F.split(F.lower(F.trim(text)), "\\s+")

  /** Distinct word n-gram shingles ("a b c" strings) from a **materialized
    * token array column**; short docs fall back to the whole text joined.
    * `toks` must be a bound attribute, not an inline `split(...)` — lambda
    * bodies are interpreted without common-subexpression elimination, so an
    * inline tokenizer would re-run once per shingle (measured ~20× slower). */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    graft.expressions.WordShingles(toks, n)

  /** One-shot convenience; prefer [[shingled]] on the hot path. */
  def shingles(text: Column, n: Int = 3): Column = shinglesFromTokens(tokens(text), n)

  /** (id, shingle) exploded pairs with the tokenizer materialized once per
    * row in its own projection step. */
  def shingled(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(F.col(idCol).as("id"), tokens(F.col(textCol)).as("toks"))
      .select(F.col("id"), shinglesFromTokens(F.col("toks"), n).as("sh"))
      .select(F.col("id"), F.explode(F.col("sh")).as("shingle"))

  /** Exact dedup: one row per distinct key, keeping the smallest id.
    * Plain hash aggregation — partial aggregates combine map-side before the
    * single shuffle, so 100 TB of mostly-unique docs streams through. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(F.md5(F.col(textCol)).as("text_hash"))
      .agg(F.min(F.col(idCol)).as("keep_id"), F.count(F.lit(1)).as("n_copies"))

  /** Incremental exact dedup: the ids of `batch` rows that are (a) novel
    * w.r.t. an already-ingested `history` corpus and (b) first (lowest id)
    * among their in-batch copies — the per-ingest step of a continuously
    * fed corpus, where re-deduplicating the full history every run would
    * be O(corpus) instead of O(batch).
    *
    * Shape for 100 TB of history: both sides reduce to md5 keys before
    * anything wide happens; the in-batch winner is a hash aggregation
    * (map-side combinable) and the novelty check an anti-join on the same
    * key, so the exchange introduced for the groupBy is reused by the join
    * (one shuffle of the batch, total). The history side ships only its
    * distinct hashes — at Spark's defaults the optimizer further prunes
    * that exchange with a runtime bloom filter when the batch is small.
    * Exactness is the contract (hash equality, no false drops), which is
    * what makes the gate oracle-checkable in SQL. */
  def incrementalNew(history: DataFrame, batch: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val histKeys = history.select(F.md5(F.col(textCol)).as("text_hash")).distinct()
    batch
      .groupBy(F.md5(F.col(textCol)).as("text_hash"))
      .agg(F.min(F.col(idCol)).as("keep_id"))
      .join(histKeys, Seq("text_hash"), "anti")
      .select(F.col("keep_id").as("id"))
  }

  /** Build a reusable Bloom membership index over the history's text
    * hashes — the build-once artifact for [[incrementalNewBloom]], same
    * role the persisted band index plays for the near-dup path. `fpp` sizes
    * the filter (1% default); `expectedItems <= 0` derives the count with
    * one extra aggregation. Serialize with [[saveBloomIndex]] /
    * [[loadBloomIndex]] so nightly batches probe without touching history
    * at all for the definite-new decision. */
  def buildBloomIndex(history: DataFrame, textCol: String,
      expectedItems: Long = 0L, fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val keys = history.select(F.md5(F.col(textCol)).as("text_hash"))
    val n = if (expectedItems > 0) expectedItems else keys.distinct().count()
    keys.stat.bloomFilter("text_hash", math.max(n, 1L), fpp)
  }

  def saveBloomIndex(bf: org.apache.spark.util.sketch.BloomFilter, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val out = java.nio.file.Files.newOutputStream(p)
    try bf.writeTo(out) finally out.close()
  }

  def loadBloomIndex(path: String): org.apache.spark.util.sketch.BloomFilter = {
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
  }

  /** [[incrementalNew]] with an explicit Bloom pre-filter: batch keys the
    * filter rejects are DEFINITELY new and skip the anti-join entirely;
    * only possible members (true duplicates + ~fpp of the new keys) carry
    * on to the exact check, so the history-side exchange is driven by the
    * small possible set instead of the whole batch. The output is EXACTLY
    * [[incrementalNew]]'s for any filter contents — the Bloom side can
    * only prune definite non-members, never change the result — which is
    * why the gate shares the plain incremental oracle.
    *
    * At nightly-ingest shape the filter is the persisted artifact: build
    * once per history version (one pass), probe every batch against the
    * broadcast bitset (O(batch) map work, no shuffle), and rebuild only on
    * history compaction. The probe is a UDF by necessity — Spark's
    * might_contain expression is internal to runtime filtering — but it is
    * one bitset lookup per row on an already-computed hash. */
  def incrementalNewBloom(bloom: org.apache.spark.util.sketch.BloomFilter,
      history: DataFrame, batch: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val spark = history.sparkSession
    val bc = spark.sparkContext.broadcast(bloom)
    // null text → null hash: route it to the exact check (the anti-join
    // never matches a null key, so it survives as new — exactly what
    // incrementalNew does with the same row) instead of NPE-ing the probe
    val might = F.udf((h: String) => h == null || bc.value.mightContainString(h))
    val winners = batch
      .groupBy(F.md5(F.col(textCol)).as("text_hash"))
      .agg(F.min(F.col(idCol)).as("keep_id"))
    val histKeys = history.select(F.md5(F.col(textCol)).as("text_hash")).distinct()
    val definiteNew = winners.where(!might(F.col("text_hash")))
    val possible = winners.where(might(F.col("text_hash")))
      .join(histKeys, Seq("text_hash"), "anti")
    definiteNew.unionByName(possible).select(F.col("keep_id").as("id"))
  }

  /** Blocked fuzzy duplicate pairs (record linkage): candidate pairs form
    * only inside a normalized-prefix block, then exact Levenshtein keeps
    * pairs within `maxDist` edits. Blocking is what keeps this from going
    * quadratic at scale — the join shuffles on the block key, and the
    * O(block²) term is bounded by the block granularity the caller picks
    * (same contract as [[embeddingNearDupPairs]]'s block column).
    *
    * `maxBlock` is the structural skew guard (the mirror of
    * [[ngramJaccardPairs]]'s `maxDf`): a block with more than that many
    * members — every "https://…" URL sharing one 8-char prefix — would
    * alone contribute |block|² pairs, so oversized blocks are dropped via
    * a broadcast anti-join before pairing. A stop-prefix that hot carries
    * no linkage signal; callers that truly need those pairs should block
    * on a longer/likelier-unique key instead. */
  def fuzzyPairs(df: DataFrame, col: String, idCol: String,
      blockLen: Int = 8, maxDist: Int = 2, maxBlock: Long = 1000): DataFrame = {
    val b = df.select(F.col(idCol).as("id"), F.col(col).as("s"),
      F.substring(F.lower(F.trim(F.col(col))), 1, blockLen).as("blk"))
    val hot = b.groupBy("blk").agg(F.count(F.lit(1)).as("n"))
      .filter(F.col("n") > maxBlock).select("blk")
    val kept = b.join(F.broadcast(hot), Seq("blk"), "left_anti")
    kept.as("x").join(kept.as("y"),
        F.col("x.blk") === F.col("y.blk") && F.col("x.id") < F.col("y.id"))
      .withColumn("dist", F.levenshtein(F.col("x.s"), F.col("y.s")))
      .where(F.col("dist") <= maxDist)
      .select(F.col("x.id").as("a"), F.col("y.id").as("b"), F.col("dist"))
  }

  /** Exact n-gram Jaccard pairs via an inverted shingle index:
    * explode(shingles) → self-join on shingle → count common shingles per
    * pair → jaccard = common / (|A|+|B|-common). Returns pairs (a < b) with
    * jaccard >= threshold over the df-filtered shingle sets.
    *
    * `maxDf` drops shingles appearing in more than that many documents
    * before pairing — without it, one stop-phrase shingle shared by k docs
    * alone contributes k² join rows, which is what turns an inverted index
    * quadratic on real corpora. Jaccard is then computed consistently on the
    * filtered sets (the oracle applies the identical filter). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDf: Long = 1000): DataFrame = {
    val exploded = shingled(df, textCol, idCol, n)
    // hot-shingle blocklist: tiny after map-side combine → broadcast anti-join,
    // so the big exploded relation is never shuffled for the df filter
    val hot = exploded.groupBy("shingle").agg(F.count(F.lit(1)).as("df"))
      .filter(F.col("df") > maxDf).select("shingle")
    val kept = exploded.join(F.broadcast(hot), Seq("shingle"), "left_anti")
    // filtered-set size per doc: one shuffle on id
    val withN = kept.withColumn("n_sh",
      F.count(F.lit(1)).over(Window.partitionBy("id")))
    // one shuffle on shingle; pairs generated in-expression from each
    // shingle's (bounded, ≤ maxDf) doc list — replaces the self-join that
    // would shuffle the exploded relation twice more
    val perShingle = withN.groupBy("shingle")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("id"), F.col("n_sh")))).as("docs"))
    val pairs = perShingle
      .filter(F.size(F.col("docs")) >= 2) // singleton shingles pair with nothing
      .select(F.explode(pairCombos(F.col("docs"))).as("p"))
      .select(F.col("p.a"), F.col("p.b"), F.col("p.na"), F.col("p.nb"))
    pairs.groupBy("a", "b", "na", "nb")
      .agg(F.count(F.lit(1)).as("common"))
      .withColumn("jaccard",
        F.col("common").cast(DoubleType) / (F.col("na") + F.col("nb") - F.col("common")))
      .filter(F.col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** All ordered pairs (i<j) from a sorted (id, n_sh) struct array:
    * [(a, b, na, nb)] — native kernel, see expressions.PairCombos. */
  private def pairCombos(docs: Column): Column =
    graft.expressions.PairCombos(docs)

  /** Exact duplicated-span detection (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — public methodology,
    * token-window variant): every position whose n-token window's text
    * occurs at ≥2 positions corpus-wide (across documents or repeated
    * within one) is flagged, with the corpus-wide occurrence count.
    * This is the position-level complement of [[TextAnalysis]]'s winnowing
    * sketch: spans, not fingerprints, so a caller can excise the
    * duplicated regions rather than drop whole documents.
    *
    * Scale shape: explode to one row per token position (linear), count
    * occurrences per window hash (map-side-combinable single shuffle),
    * join flagged hashes back (reuses the count's exchange). There is NO
    * quadratic term — unlike pair generation, hot boilerplate windows are
    * the TARGET here and cost stays linear in their occurrence count, so
    * no df cap is needed or taken. Windows are compared by xxhash64 of
    * the window text (never surfaced in the output; a 64-bit collision
    * would need ~2^32 distinct windows). */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 10): DataFrame = {
    val grams = df
      .select(F.col(idCol).as("id"), tokens(F.col(textCol)).as("toks"))
      .where(F.size(F.col("toks")) >= n)
      .select(F.col("id"), F.posexplode(
        graft.expressions.WordShingles.all(F.col("toks"), n)).as(Seq("pos", "gram")))
      .select(F.col("id"), F.col("pos"), F.xxhash64(F.col("gram")).as("gh"))
    val hot = grams.groupBy("gh").agg(F.count(F.lit(1)).as("occ"))
      .where(F.col("occ") > 1)
    grams.join(hot, Seq("gh")).select("id", "pos", "occ")
  }

  /** Per-document rollup of [[duplicateSpans]]: how many of the document's
    * n-token windows are duplicated, and where the first one starts —
    * the triage view a curation pipeline filters on. */
  def duplicateSpanSummary(df: DataFrame, textCol: String, idCol: String,
      n: Int = 10): DataFrame =
    duplicateSpans(df, textCol, idCol, n)
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_dup_windows"), F.min("pos").as("first_dup_pos"))

  /** Excise duplicated spans, keeping ONE copy corpus-wide — the removal
    * step of Lee et al. 2021's ExactSubstr dedup (the paper deletes the
    * repeated substring from all but one occurrence rather than dropping
    * documents). The canonical occurrence of a duplicated n-token window
    * is its (id, pos)-minimum; every token covered by a NON-canonical
    * duplicated occurrence is removed, and the surviving tokens are
    * re-joined in order. The output text is therefore the normalized
    * token stream (lowercased, single-spaced) — the form the rest of the
    * dedup layer already operates on.
    *
    * Scale shape: [[duplicateSpans]]' linear explode + one
    * map-side-combined count per window hash, a min-struct to pick
    * canonicals (same exchange), and a doc-local coverage anti-join whose
    * span side is bounded by the duplication volume, not the corpus. The
    * rebuild sorts each doc's kept tokens inside one aggregation — no
    * corpus-wide sort.
    *
    * Returns (id, clean_text, n_removed). Documents with no duplicated
    * coverage pass through with n_removed = 0. */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 10): DataFrame = {
    val toks = df.select(F.col(idCol).as("id"), tokens(F.col(textCol)).as("toks"))
    val grams = toks
      .where(F.size(F.col("toks")) >= n)
      .select(F.col("id"), F.posexplode(
        graft.expressions.WordShingles.all(F.col("toks"), n)).as(Seq("pos", "gram")))
      .select(F.col("id"), F.col("pos"), F.xxhash64(F.col("gram")).as("gh"))
    val hot = grams.groupBy("gh").agg(
      F.count(F.lit(1)).as("occ"),
      F.min(F.struct(F.col("id"), F.col("pos"))).as("canon"))
      .where(F.col("occ") > 1)
    val spans = grams.join(hot, Seq("gh"))
      .where(!(F.col("id") === F.col("canon.id") && F.col("pos") === F.col("canon.pos")))
      .select(F.col("id"), F.col("pos").as("start"), (F.col("pos") + n - 1).as("end"))
    // merge overlapping/adjacent spans per doc BEFORE the coverage
    // anti-join: raw spans overlap heavily (every duplicated window of a
    // long duplicated run is its own span), so the tokens×spans anti-join
    // on a pathologically duplicated doc would cost tokens×windows — after
    // merging, spans are disjoint runs (a fully-duplicated doc collapses
    // to ONE span) and the probe is linear in doc length. One window pass
    // over the duplication-bounded span relation; the covered-token union
    // is unchanged, so the output is bit-identical.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("start")
    val merged = spans
      .withColumn("prev_max_end",
        F.max("end").over(w.rowsBetween(Long.MinValue, -1)))
      .withColumn("grp", F.sum(
        F.when(F.col("prev_max_end").isNull ||
          F.col("start") > F.col("prev_max_end") + 1, 1).otherwise(0)).over(w))
      .groupBy("id", "grp")
      .agg(F.min("start").as("start"), F.max("end").as("end"))
    val tokenRows = toks.select(F.col("id"),
      F.posexplode(F.col("toks")).as(Seq("tpos", "tok")))
    val kept = tokenRows.join(merged,
        tokenRows("id") === merged("id") &&
          F.col("tpos") >= F.col("start") && F.col("tpos") <= F.col("end"),
        "left_anti")
      .groupBy("id").agg(
        F.concat_ws(" ", F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("tpos"), F.col("tok")))),
          s => s.getField("tok"))).as("clean_text"),
        F.count(F.lit(1)).as("n_kept"))
    toks.select(F.col("id"), F.size(F.col("toks")).as("n_toks"))
      .join(kept, Seq("id"), "left")
      .select(F.col("id"),
        F.coalesce(F.col("clean_text"), F.lit("")).as("clean_text"),
        (F.col("n_toks") - F.coalesce(F.col("n_kept"), F.lit(0L))).cast("long")
          .as("n_removed"))
  }

  /** MinHash signature: k minimums of seeded xxhash64 over the shingle set.
    * Pure expression work — one codegen'd pass over the shingle set
    * ([[graft.expressions.MinHashSigExpr]]); slot values are bit-identical
    * to the former per-slot `array_min(transform(...))` HOF form (which
    * evaluated interpreted, k passes per row). NULL text → NULL signature. */
  def minhashSignature(text: Column, k: Int = 32, n: Int = 3): Column =
    graft.expressions.HashKernels.minhashSig(shingles(text, n), k)

  /** LSH banding of a minhash signature: `bands` hashes, each over
    * `k/bands` consecutive signature slots. */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    F.array((0 until bands).map { bnd =>
      F.xxhash64(F.lit(bnd) +: (0 until r).map(i => F.element_at(sig, bnd * r + i + 1)): _*)
    }: _*)
  }

  /** Persistable LSH bucket index over a corpus: one (id, band, bh) row
    * per band per document with ≥1 shingle. The k-hash signature pass is
    * the expensive part of MinHash dedup — build this once per corpus
    * version, persist it as parquet, and every incoming batch probes it
    * ([[incrementalNearDupPairs]]) without touching history text except
    * for the few candidate docs. */
  def minhashBandIndex(df: DataFrame, textCol: String, idCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3): DataFrame = {
    val r = k / bands
    val sig = df
      .select(F.col(idCol).as("id"), tokens(F.col(textCol)).as("toks"))
      .select(F.col("id"), shinglesFromTokens(F.col("toks"), n).as("sh"))
      .where(F.size(F.col("sh")) > 0)
      .select(F.col("id"),
        graft.expressions.HashKernels.minhashSig(F.col("sh"), k).as("sig"))
    val bandCols = (0 until bands).map { bnd =>
      F.struct(F.lit(bnd).as("band"),
        F.xxhash64((0 until r).map(i =>
          F.element_at(F.col("sig"), bnd * r + i + 1)): _*).as("bh")).as(s"b$bnd")
    }
    // stamp the sketch parameters into the bh column's metadata: it
    // survives a parquet round-trip, so a probe with mismatched k/bands/n
    // fails loudly instead of silently matching zero buckets
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("minhash_k", k).putLong("minhash_bands", bands)
      .putLong("shingle_n", n).build()
    sig.select(F.col("id"), F.explode(F.array(bandCols: _*)).as("bb"))
      .select(F.col("id"), F.col("bb.band").as("band"),
        F.col("bb.bh").as("bh", meta))
  }

  private def requireIndexParams(index: DataFrame, k: Int, bands: Int, n: Int): Unit = {
    val m = index.schema.find(_.name == "bh").map(_.metadata)
      .filter(_.contains("minhash_k"))
    require(m.nonEmpty,
      "band index carries no minhash_k/minhash_bands/shingle_n metadata on its `bh` " +
        "column — an unstamped index cannot prove its sketch parameters, and a " +
        "mismatched probe silently matches zero buckets. Rebuild it with " +
        "minhashBandIndex (parquet round-trips preserve the stamp), or re-stamp the " +
        "column via withMetadata before probing")
    m.foreach { md =>
      val (ik, ib, in) = (md.getLong("minhash_k"), md.getLong("minhash_bands"),
        md.getLong("shingle_n"))
      require(ik == k && ib == bands && in == n,
        s"band index was built with (k=$ik, bands=$ib, n=$in) but probed with " +
          s"(k=$k, bands=$bands, n=$n) — mismatched sketches share no buckets")
    }
  }

  /** Incremental near-dup detection: (batch_id, hist_id, jaccard) for
    * every batch document whose exact n-gram Jaccard against an INDEXED
    * history document clears `threshold` — the near-dup analog of
    * [[incrementalNew]]. Candidates come from shared (band, bh) buckets
    * (the persisted [[minhashBandIndex]]), so the cost is
    * O(batch + candidates), never O(history); history TEXT is read only
    * for the candidate docs (semi-joined before shingling). Same
    * recall ≈ 1-(1-t^r)^b contract as [[minhashLshPairs]]; precision
    * exact. */
  def incrementalNearDupPairs(index: DataFrame, history: DataFrame,
      batch: DataFrame, textCol: String, idCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    requireIndexParams(index, k, bands, n)
    val cand = minhashBandIndex(batch, textCol, idCol, k, bands, n)
      .join(index.select(F.col("id").as("hist_id"), F.col("band"), F.col("bh")),
        Seq("band", "bh"))
      .select(F.col("id").as("batch_id"), F.col("hist_id")).distinct()
    def sideShingles(src: DataFrame, ids: DataFrame, as: String): DataFrame =
      shingled(src.select(F.col(idCol).as("id"), F.col(textCol))
          .join(ids, Seq("id"), "left_semi"), textCol, "id", n)
        .withColumnRenamed("id", as)
    val bSh = sideShingles(batch, cand.select(F.col("batch_id").as("id")).distinct(), "batch_id")
    val hSh = sideShingles(history, cand.select(F.col("hist_id").as("id")).distinct(), "hist_id")
    val bSz = bSh.groupBy("batch_id").agg(F.count(F.lit(1)).as("nb"))
    val hSz = hSh.groupBy("hist_id").agg(F.count(F.lit(1)).as("nh"))
    // pair-keyed common count: route each batch shingle to its candidate
    // partners FIRST, then probe the history side on (hist_id, shingle). A
    // plain shingle-keyed join of all batch × history candidate shingles
    // blows up on a stop-shingle shared across many candidate docs (toward
    // |candidates|² intermediate rows); this shape is bounded by
    // Σ_pairs |shingles(batch doc)| — the advertised O(candidates) cost.
    // Shingles are distinct per doc, so the (hist_id, shingle) probe matches
    // each routed row at most once. Pairs without a shared shingle drop out
    // here exactly as they did under the old inner join to `common`.
    val common = bSh.join(cand, Seq("batch_id"))
      .join(hSh, Seq("hist_id", "shingle"))
      .groupBy("batch_id", "hist_id").agg(F.count(F.lit(1)).as("common"))
    common
      .join(bSz, Seq("batch_id")).join(hSz, Seq("hist_id"))
      .withColumn("jaccard", F.col("common").cast(DoubleType) /
        (F.col("nb") + F.col("nh") - F.col("common")))
      .filter(F.col("jaccard") >= threshold)
      .select(F.col("batch_id"), F.col("hist_id"), F.col("jaccard"))
  }

  /** MinHash+LSH near-dup candidate pairs, verified with exact Jaccard.
    *
    * Shape chosen for scale AND to keep Catalyst honest: the k signature
    * slots come from ONE codegen'd pass over each row's shingle set
    * ([[graft.expressions.MinHashSigExpr]]) — a pure projection, zero
    * shuffle (the former explode + k min-aggregates formulation paid a
    * corpus-wide shuffle on id just to build signatures; slot values are
    * bit-identical). Shingles are exploded into an inverted index only for
    * verification, and only for candidate documents. The naive all-array
    * HOF formulation (signature as a nested array expression) is worse
    * still: CollapseProject inlines it into every band consumer and
    * recomputes the shingle set hundreds of times per row — measured 250s
    * → ~5s on the sf0.1 corpus when first restructured.
    *
    * Candidates come only from shared LSH buckets; verification recounts
    * common shingles through the candidate-only inverted index.
    * Recall ≈ 1-(1-t^r)^b at similarity t; precision exact. */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3, threshold: Double = 0.5): DataFrame =
    minhashPairsImpl(minhashBandIndex(df, textCol, idCol, k, bands, n),
      df.select(F.col(idCol).as("id"), F.col(textCol)), textCol, n,
      threshold, keyCols = Nil)
      .select("a", "b", "jaccard")

  /** [[minhashLshPairs]] restricted WITHIN a partition column — "near-dups
    * within the same language/domain/license", the standard curation form.
    * The group key JOINS the band-bucket key, so two documents in
    * different groups can never even become a candidate — cheaper AND
    * cleaner than post-filtering global pairs (a cross-group bucket
    * collision skips signature-join fan-out and exact-Jaccard
    * verification entirely; on a corpus dominated by one boilerplate
    * pattern shared across languages, the global candidate set is mostly
    * cross-group noise). Rows with a NULL group are excluded. Same
    * recall/precision contract per group as the global operator.
    * Output: (group, a, b, jaccard) with a < b. */
  def minhashLshPairsGrouped(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, k: Int = 32, bands: Int = 8, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val g = F.col(groupCol).cast("string")
    val withG = df.where(g.isNotNull)
      .select(F.col(idCol).as("id"), g.as("td_grp"), F.col(textCol))
    val banded = minhashBandIndex(withG, textCol, "id", k, bands, n)
      .join(withG.select(F.col("id"), F.col("td_grp")), Seq("id"))
    minhashPairsImpl(banded, withG, textCol, n, threshold,
        keyCols = Seq("td_grp"))
      .select(F.col("td_grp").as("group"), F.col("a"), F.col("b"),
        F.col("jaccard"))
  }

  /** The body of [[minhashLshPairs]] and [[minhashLshPairsGrouped]]:
    * candidates from shared (band, bh, keyCols) buckets of `banded`,
    * verified by exact Jaccard over an inverted index of the candidate
    * `docs` (id, keyCols…, text) keyed by (shingle, keyCols) — a
    * shingle-only join would re-admit the cross-group fan-out. */
  private def minhashPairsImpl(banded: DataFrame, docs: DataFrame,
      textCol: String, n: Int, threshold: Double,
      keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(F.col)
    val cand = banded.as("x").join(banded.as("y"), Seq("band", "bh") ++ keyCols)
      .filter(F.col("x.id") < F.col("y.id"))
      .select(keys ++ Seq(F.col("x.id").as("a"), F.col("y.id").as("b")): _*)
      .distinct()
    val candIds = cand.select(F.col("a").as("id"))
      .union(cand.select(F.col("b"))).distinct()
    val candShingles = docs.join(candIds, Seq("id"))
      .select((F.col("id") +: keys) :+ tokens(F.col(textCol)).as("toks"): _*)
      .select((F.col("id") +: keys) :+
        shinglesFromTokens(F.col("toks"), n).as("sh"): _*)
      .select((F.col("id") +: keys) :+ F.explode(F.col("sh")).as("shingle"): _*)
    val sizes = candShingles.groupBy("id").agg(F.count(F.lit(1)).as("n_sh"))
    val sided = candShingles.join(sizes, Seq("id"))
    val common = sided.as("p").join(sided.as("q"), "shingle" +: keyCols)
      .filter(F.col("p.id") < F.col("q.id"))
      .select(F.col("p.id").as("a"), F.col("q.id").as("b"),
        F.col("p.n_sh").as("na"), F.col("q.n_sh").as("nb"))
      .groupBy("a", "b", "na", "nb").agg(F.count(F.lit(1)).as("common"))
    cand.join(common, Seq("a", "b"))
      .withColumn("jaccard",
        F.col("common").cast(DoubleType) / (F.col("na") + F.col("nb") - F.col("common")))
      .filter(F.col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over word tokens: per-token xxhash64 votes ±1 on each bit
    * position; the sign of each accumulated vote becomes the signature bit.
    * One codegen'd kernel ([[graft.expressions.SimHash64Expr]]); bit-parity
    * with the test-side HOF formulation is asserted in KernelParitySpec. */
  def simhash64(text: Column): Column =
    graft.expressions.HashKernels.simhash64(tokens(text))

  /** Engine-portable SimHash: a 60-bit signature whose per-token hash is
    * the md5-prefix long ([[Sketches.hexPrefix]] — the repo's portable
    * hash, statable verbatim in external SQL), so unlike [[simhash64]]
    * (xxhash64, engine-specific) the SIGNATURE ITSELF is oracle-checkable,
    * not just its clustering behavior. Same algorithm: each token
    * occurrence votes ±1 per bit position by its hash bit; the sign of the
    * accumulated vote becomes the signature bit (ties → 0); 60 bits
    * because the md5 prefix is 15 hex chars. NULL text answers 0L (the
    * [[graft.expressions.SimHash64Expr]] convention).
    *
    * Shape: one row-local codegen kernel ([[graft.expressions
    * .SimHash60Md5Expr]]) — zero shuffles at any scale, one md5 + one
    * primitive 60-bit vote loop per token. Replaces the HOF formulation
    * (r18; kept as a test oracle): its zip_with/transform lambda bodies ran
    * interpreted, a 60-wide boxed loop per token. Signature values are
    * BIT-IDENTICAL (KernelParitySpec) — the q_dedup_simhash oracle hashes
    * the signature itself. */
  def simhash60Md5(text: Column): Column =
    graft.expressions.HashKernels.simhash60Md5(tokens(text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** Embedding cosine near-dup pairs within a blocking key (e.g. a coarse
    * cluster/label): pairs only form inside blocks, keeping the join from
    * going quadratic globally. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // norms once per vector (not once per pair): cos = dot/(na*nb) with na/nb
    // precomputed keeps the per-pair work to a single dot product
    val v = df.select(F.col(blockCol).as("blk"), F.col(idCol).as("id"),
      F.col(vecCol).as("v"))
      .withColumn("nrm", F.sqrt(Similarity.dot(F.col("v"), F.col("v"))))
    v.as("x").join(v.as("y"), Seq("blk"))
      .filter(F.col("x.id") < F.col("y.id"))
      .withColumn("cos",
        Similarity.dot(F.col("x.v"), F.col("y.v")) / (F.col("x.nrm") * F.col("y.nrm")))
      .filter(F.col("cos") >= threshold)
      .select(F.col("x.id").as("a"), F.col("y.id").as("b"), F.col("cos"))
  }
}
