package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.DoubleType

/** BM25 term-based retrieval over a document corpus (Robertson & Zaragoza
  * 2009, "The Probabilistic Relevance Framework: BM25 and Beyond" — public
  * methodology; parameters k1=1.2, b=0.75 are the classic defaults).
  *
  * Training-data uses: retrieval-based decontamination (find the corpus
  * documents that match an eval question before n-gram overlap is even
  * computed), targeted quality audits ("show me the docs about X"), and
  * candidate mining for focused dedup sweeps.
  *
  * Shape for 100 TB:
  *   - the postings list (id, term, tf) is the only corpus-sized relation;
  *     build it once per corpus version and persist it partitioned by a
  *     term hash — a query then prunes to its own terms' partitions;
  *   - query terms are a handful of literals: the postings filter is an
  *     `IN` pushed to the scan, document frequencies for those terms are a
  *     k-row aggregate, and the per-doc score is one map-side expression +
  *     one groupBy(id) — no corpus-wide join, no collect;
  *   - corpus statistics (N, avgdl) are two driver-side scalars, computed
  *     once at build from exact integer sums (deterministic regardless of
  *     partition order).
  *
  * Every floating-point reduction uses a FIXED fold order (sorted term
  * scores folded sequentially), so a score is bit-reproducible across
  * engines — the q_bm25 gate hash-matches DuckDB on the identical formula.
  */
object Retrieval {

  /** (id, term, tf): whitespace-token term frequencies per document — the
    * postings relation everything else derives from. Tokenization matches
    * [[Dedup.tokens]] (lower, trim, split on whitespace). */
  def termFrequencies(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(F.col(idCol).as("id"),
        F.explode(Dedup.tokens(F.col(textCol))).as("term"))
      .where(F.length(F.col("term")) > 0)
      .groupBy("id", "term").agg(F.count(F.lit(1)).as("tf"))

  /** A built BM25 index: the postings relation, per-document lengths, and
    * the two corpus scalars. Contract: `docLen` holds one row per id and
    * equals `postings.groupBy(id).sum(tf)`. `postings`/`docLen` are lazy
    * plans — persist them with [[saveBm25]] (parquet, partitioned by a
    * term hash) to reuse across query batches without re-tokenizing the
    * corpus. A loaded index carries `termBuckets`, and [[scoreQuery]] then
    * adds the bucket predicate so the postings scan PRUNES to the query
    * terms' partitions — at 100 TB a query touches |terms| directories,
    * not the corpus. */
  final case class Bm25Index(postings: DataFrame, docLen: DataFrame,
      nDocs: Long, avgDl: Double, termBuckets: Option[Int] = None,
      totalTokens: Long = -1L)

  /** Driver-side twin of the `pmod(xxhash64(term), buckets)` partition
    * expression [[saveBm25]] writes — same seed-42 XxHash64 Catalyst
    * kernel, evaluated on the literal, so routing is bit-consistent with
    * the stored layout. */
  private def termBucket(term: String, buckets: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(term)), 42L)
      .eval(null).asInstanceOf[Long]
    ((h % buckets) + buckets) % buckets
  }

  /** Persist an index partitioned by term hash. Postings land under
    * `buckets` partition directories keyed `term_bucket`; docLen is a flat
    * parquet; `meta.json` stamps the corpus scalars and the bucket count
    * through the path's Hadoop FS (remote stores keep their stamp — same
    * contract as [[Ivf.save]]). N and avgdl are NOT recomputed at load, so
    * a loaded index scores bit-identically to the index it was saved
    * from. The doclen files are re-derived from the written postings, so
    * `index.docLen` must equal `postings.groupBy(id).sum(tf)` (the
    * [[Bm25Index]] contract) for the saved index to match `index`. */
  def saveBm25(index: Bm25Index, path: String, termBuckets: Int = 64): Unit = {
    require(termBuckets > 0, s"termBuckets must be positive, got $termBuckets")
    index.postings
      .withColumn("term_bucket",
        F.pmod(F.xxhash64(F.col("term")), F.lit(termBuckets.toLong)))
      .write.mode("overwrite").partitionBy("term_bucket")
      .parquet(s"$path/postings")
    // doclen derives from the postings JUST WRITTEN instead of from
    // index.docLen's lazy plan: everywhere this module constructs an index
    // (build/load/append), docLen ≡ postings.groupBy(id).sum(tf) — identical
    // values (sum of longs, order-invariant) — and re-deriving it from the
    // staged files turns the doclen write from a SECOND full tokenization
    // pass over the corpus into a scan of the (much smaller) postings
    // parquet (r18 optimization round, guide §2.4 remove repeated passes)
    index.postings.sparkSession.read.parquet(s"$path/postings")
      .groupBy("id").agg(F.sum("tf").as("dl"))
      .write.mode("overwrite").parquet(s"$path/doclen")
    val spark = index.postings.sparkSession
    val metaPath = new org.apache.hadoop.fs.Path(path, "meta.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    writeMeta(fs, metaPath, index.nDocs, index.avgDl, termBuckets,
      index.totalTokens)
  }

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem,
      metaPath: org.apache.hadoop.fs.Path, nDocs: Long, avgDl: Double,
      termBuckets: Int, totalTokens: Long): Unit = {
    val out = fs.create(metaPath, true)
    try out.write(
      (s"""{"n_docs":$nDocs,"avg_dl":$avgDl,"term_buckets":$termBuckets,""" +
        s""""total_tokens":$totalTokens}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load a persisted index. `meta.json` is REQUIRED — an index without
    * its stamp cannot prove its corpus scalars, and recomputing N/avgdl
    * from the postings would silently diverge from the build-time values
    * the saved scores used. Fails loudly instead. */
  def loadBm25(spark: SparkSession, path: String): Bm25Index = {
    val metaPath = new org.apache.hadoop.fs.Path(path, "meta.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(metaPath),
      s"$path/meta.json is missing — not a saveBm25 index (the stamp carries " +
        "n_docs/avg_dl/term_buckets; without it a load cannot reproduce the " +
        "build-time scores). Re-save the index with saveBm25")
    val meta = {
      val in = fs.open(metaPath)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    def field(name: String): String =
      s""""$name":([-0-9.eE]+)""".r.findFirstMatchIn(meta)
        .getOrElse(throw new IllegalArgumentException(
          s"$path/meta.json lacks field '$name': $meta"))
        .group(1)
    Bm25Index(
      postings = spark.read.parquet(s"$path/postings"),
      docLen = spark.read.parquet(s"$path/doclen"),
      nDocs = field("n_docs").toLong,
      avgDl = field("avg_dl").toDouble,
      termBuckets = Some(field("term_buckets").toDouble.toInt),
      totalTokens =
        s""""total_tokens":([-0-9]+)""".r.findFirstMatchIn(meta)
          .map(_.group(1).toLong).getOrElse(-1L))
  }

  /** Build the index: one tokenization pass; N and avgdl come from exact
    * long sums (sum of longs is partition-order-invariant), so the derived
    * double is deterministic. */
  def buildBm25(df: DataFrame, textCol: String, idCol: String): Bm25Index = {
    val postings = termFrequencies(df, textCol, idCol)
    // dl per doc = Σ_term tf = the doc's NON-EMPTY token count — so the
    // relation is ONE row-local projection (size of the empty-pruned token
    // array), not a second explode + (id, term) + (id) aggregation chain
    // over the corpus (r18; scoreQuery joins docLen against the
    // term-filtered postings, so before this every in-memory score paid a
    // full extra tokenize+shuffle pass just for dl). Identical values:
    // sum of per-term counts = total count, longs. Identical row set: a
    // doc appears iff it has ≥1 non-empty token (dl > 0 also drops NULL
    // text, where size() yields null/-1). The oracle-checked scores are
    // bit-unchanged (376/376).
    val docLen = df.select(F.col(idCol).as("id"),
        F.size(F.array_remove(Dedup.tokens(F.col(textCol)), ""))
          .cast("long").as("dl"))
      .where(F.col("dl") > 0)
    // the distinct-id count rides the same job: a repeated id would count
    // its doc twice in N and fan out scoreQuery's docLen join
    val row = docLen.agg(F.count(F.lit(1)).as("n"), F.sum("dl").as("toks"),
      F.count_distinct(F.col("id")).as("ids")).head()
    val n = row.getLong(0)
    require(row.getLong(2) == n,
      s"buildBm25 input repeats ids in column $idCol: ${n - row.getLong(2)} " +
        "indexed rows share an id with another row or have a NULL id")
    val toks = if (n == 0) 0L else row.getLong(1)
    val avgDl = if (n == 0) 0.0 else toks.toDouble / n
    Bm25Index(postings, docLen, n, avgDl, totalTokens = toks)
  }

  /** Incremental index maintenance: append a batch of NEW documents to a
    * persisted index without re-tokenizing the existing corpus — the
    * shape index upkeep takes at 100 TB, where a corpus refresh adds a
    * few percent and a from-scratch rebuild would re-read everything.
    *
    *   - only the delta is tokenized; its postings land in the SAME
    *     term-hash partition directories (dynamic-partition append), so a
    *     query's partition pruning sees old and new postings alike;
    *   - the corpus scalars restamp from exact long arithmetic
    *     (`total_tokens + Δtokens`, `n_docs + Δdocs`), which is the very
    *     sum a from-scratch build computes — a loaded appended index
    *     scores BIT-IDENTICALLY to an index built on the union corpus
    *     (gate q_bm25_incremental shares q_bm25's oracle verbatim);
    *   - ids in the delta must be new; pass `checkDisjoint = true` to
    *     spend one semi-join count proving it (ids already indexed would
    *     double-count their doc lengths in avgdl).
    *
    * Not atomic: postings/doclen append first, the meta stamp rewrites
    * last, so a crash mid-append leaves orphan postings that the stale
    * stamp's scalars don't cover — re-build or re-save after a failed
    * append (same recovery contract as a failed store transaction, but
    * without the `.staging` rename because dynamic-partition appends
    * scatter across existing directories). */
  def appendBm25(spark: SparkSession, path: String, df: DataFrame,
      textCol: String, idCol: String, checkDisjoint: Boolean = false): Unit = {
    val old = loadBm25(spark, path)
    require(old.totalTokens >= 0L,
      s"$path/meta.json lacks total_tokens — re-save the index with " +
        "saveBm25 before appending (exact restamp needs the long sum, " +
        "not avgdl*n rounding)")
    if (checkDisjoint) {
      val clash = old.docLen.join(
        df.select(F.col(idCol).as("id")).distinct(), Seq("id"), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        "appendBm25 delta contains ids already in the index")
    }
    // ONE tokenization pass over the delta: the scalar restamp, the
    // postings append and the doclen append each consumed the lazy
    // termFrequencies plan before r18 — three regex-tokenize passes over
    // the delta for one append. The delta is the small side by contract
    // (a refresh adds a few percent of the corpus), so materializing its
    // postings once is the guide-§8 iterate-on-small-rows trade.
    val delta = termFrequencies(df, textCol, idCol).localCheckpoint()
    val deltaLen = delta.groupBy("id").agg(F.sum("tf").as("dl"))
    val row = deltaLen.agg(
      F.count(F.lit(1)).as("n"), F.sum("dl").as("toks")).head()
    val dN = row.getLong(0)
    if (dN > 0) {
      val buckets = old.termBuckets.getOrElse(64)
      delta
        .withColumn("term_bucket",
          F.pmod(F.xxhash64(F.col("term")), F.lit(buckets.toLong)))
        .write.mode("append").partitionBy("term_bucket")
        .parquet(s"$path/postings")
      deltaLen.write.mode("append").parquet(s"$path/doclen")
      val n = old.nDocs + dN
      val toks = old.totalTokens + row.getLong(1)
      val metaPath = new org.apache.hadoop.fs.Path(path, "meta.json")
      writeMeta(metaPath.getFileSystem(spark.sessionState.newHadoopConf()),
        metaPath, n, toks.toDouble / n, buckets, toks)
    }
  }

  /** (id, n_terms, score) for every document matching ≥1 query term.
    *
    * idf   = ln(1 + (N - df + 0.5) / (df + 0.5))   (guarded, never negative)
    * tfc   = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    * score = Σ idf·tfc over matched terms, folded in sorted order so the
    *         double is identical across engines and partitionings.
    */
  def scoreQuery(index: Bm25Index, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    val q = terms.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
    scoreTerms(index, q, k1, b, queryTerms = None)
  }

  /** Score a BATCH of queries in one pass — the shape retrieval-based
    * decontamination takes at scale (thousands of eval questions against
    * the corpus at once, instead of one scan per query).
    *
    * `queries` is (qidCol, termsCol: array<string>). The union of query
    * terms is collected driver-side — O(Σ|terms|) metadata, the same class
    * as IVF centroids — to build the literal IN (and, on a loaded index,
    * the partition-pruning bucket list) exactly as [[scoreQuery]] does;
    * the postings then join the BROADCAST exploded (qid, term) relation,
    * so the corpus-sized side shuffles once on term and fans out only to
    * the queries that contain the term. Scores fold sorted per (qid, id):
    * bit-identical to calling [[scoreQuery]] per query, and to the DuckDB
    * oracle.
    *
    * Returns (qid, id, n_terms, score) for every (query, document) pair
    * sharing ≥1 term. */
  def scoreQueryBatch(index: Bm25Index, queries: DataFrame, qidCol: String,
      termsCol: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = queries.select(F.col(qidCol).as("qid"),
        F.explode(F.array_distinct(F.transform(F.col(termsCol),
          t => F.lower(F.trim(t))))).as("term"))
      .where(F.length(F.col("term")) > 0).distinct()
    val termList = qt.select("term").distinct().collect().map(_.getString(0)).toSeq
    require(termList.nonEmpty, "query batch has no non-empty terms")
    scoreTerms(index, termList, k1, b, queryTerms = Some(qt))
  }

  /** The shared body of [[scoreQuery]] and [[scoreQueryBatch]]: prune the
    * postings to `terms` (bucket partition filter first on a loaded
    * index), count df per term, and fold the sorted idf·tfc terms per
    * `id` — or, given the (qid, term) relation `queryTerms`, join it
    * broadcast on term and fold per (qid, id). */
  private def scoreTerms(index: Bm25Index, terms: Seq[String], k1: Double,
      b: Double, queryTerms: Option[DataFrame]): DataFrame = {
    // on a loaded (partitioned) index, the bucket predicate is a partition
    // filter: the scan prunes to the terms' directories before any IO
    val pruned = index.termBuckets match {
      case Some(bk) => index.postings.where(
        F.col("term_bucket").isin(terms.map(termBucket(_, bk)).distinct: _*))
      case None => index.postings
    }
    val matched = pruned.where(F.col("term").isin(terms: _*))
      .select("id", "term", "tf")
    val docFreq = matched.groupBy("term").agg(F.count(F.lit(1)).as("df"))
    // graft.expressions.MathKernels.ln, not F.log: Spark's log codegens to
    // StrictMath.log (fdlibm), 1 ulp off the platform libm on some
    // arguments — which breaks hash parity with engines using libm ln
    val idf = graft.expressions.MathKernels.ln(
      (F.lit(1.0) + (F.lit(index.nDocs.toDouble) - F.col("df") + F.lit(0.5)) /
        (F.col("df") + F.lit(0.5))).cast(DoubleType))
    val tfc = (F.col("tf") * F.lit(k1 + 1.0)) /
      (F.col("tf") + F.lit(k1) *
        (F.lit(1.0 - b) + (F.lit(b) * F.col("dl")) / F.lit(index.avgDl)))
    val withDf = matched.join(F.broadcast(docFreq), Seq("term"))
    val keys = queryTerms.fold(Seq("id"))(_ => Seq("qid", "id"))
    queryTerms.fold(withDf)(qt => withDf.join(F.broadcast(qt), Seq("term")))
      .join(index.docLen, Seq("id"))
      .withColumn("ts", (idf * tfc).cast(DoubleType))
      .groupBy(keys.head, keys.tail: _*)
      .agg(F.count(F.lit(1)).as("n_terms"),
        F.aggregate(F.array_sort(F.collect_list(F.col("ts"))),
          F.lit(0.0), (acc, x) => acc + x).as("score"))
  }

  /** BM25 hard-negative mining — the standard negative-construction step
    * for embedding/reranker training data (in-batch negatives are easy;
    * lexically-close BM25 hits that are NOT the labeled positive are the
    * hard ones — e.g. the DPR recipe, Karpukhin et al. 2020 §3.2). For
    * every (query, positive) row of `pairs`, returns the `k` top-scoring
    * documents excluding the positive, ranked.
    *
    * One corpus pass for the whole pair batch ([[scoreQueryBatch]]);
    * positives broadcast; the per-query top-k is the same bounded window
    * every retrieval path here uses. Output: (qid, pos_id, rank, neg_id,
    * score). */
  def hardNegatives(index: Bm25Index, pairs: DataFrame, qidCol: String,
      termsCol: String, posIdCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = scoreQueryBatch(index, pairs, qidCol, termsCol, k1, b)
    val pos = pairs.select(F.col(qidCol).as("qid"), F.col(posIdCol).as("pos_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid", "pos_id")
      .orderBy(F.col("score").desc, F.col("id").asc)
    scored.join(F.broadcast(pos), Seq("qid"))
      .where(F.col("id") =!= F.col("pos_id"))
      .withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
      .select(F.col("qid"), F.col("pos_id"), F.col("rank"),
        F.col("id").as("neg_id"), F.col("score"))
  }

  /** Top-k retrieval: highest BM25 score first, id as the tiebreaker.
    * Plans as a distributed top-k (per-partition limit before the merge). */
  def topK(index: Bm25Index, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    scoreQuery(index, terms, k1, b)
      .orderBy(F.col("score").desc, F.col("id").asc).limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N ranked
    * retrieval lists — the standard hybrid-retrieval combiner (BM25 +
    * dense-embedding lists fused without score calibration, since only
    * RANKS enter the formula):
    *
    *   rrf(d) = Σ_i 1 / (kRrf + rank_i(d)),   rank = 1-based ordinal by
    *   (score desc, id asc); a document absent from list i contributes 0.
    *
    * Each input is (idCol, scoreCol). Output: (id, rank_0..rank_{n-1},
    * rrf) — absent ranks are NULL. Deterministic bit-for-bit: ranks are
    * exact integers, each term 1.0/(kRrf+rank) is one correctly-rounded
    * IEEE division, and the sum folds in fixed list order — which is what
    * makes the q_retrieval_rrf gate a full value-hash oracle.
    *
    * Shape for 100 TB: ranking each list goes through
    * [[graft.operators.ScalableRank]] (range-repartition + per-partition
    * windows + a broadcast offsets join — no single-reducer global
    * window), and the fusion is a series of full-outer hash joins on id.
    * In practice the inputs are top-k candidate lists (bounded), so the
    * joins are small; the distributed rank keeps corpus-wide lists safe
    * too. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, scoreCol: String,
      kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val ranked = lists.zipWithIndex.map { case (df, i) =>
      graft.operators.ScalableRank.withRank(
          df.select(F.col(idCol).as("id"), F.col(scoreCol).as("score")),
          "score", as = s"rank_$i", method = "ordinal",
          descending = true, tiebreakers = Seq("id"))
        .select(F.col("id"), F.col(s"rank_$i"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val rrf = lists.indices
      .map(i => F.coalesce(
        F.lit(1.0) / (F.lit(kRrf.toDouble) + F.col(s"rank_$i")), F.lit(0.0)))
      .reduce(_ + _)
    joined.withColumn("rrf", rrf.cast(DoubleType))
  }

  /** Top-k TF-IDF keywords per document — the lightweight per-document
    * term salience read (tag clouds, boilerplate spotting, dataset-card
    * vocabulary summaries) next to the corpus-level BM25 machinery.
    * tfidf = tf · ln(N / df) with exact integer tf/df/N and the libm ln
    * kernel, so every score replays; ranks ride the map-side
    * WindowGroupLimit path ([[graft.operators.SeriesOps.topKPerGroup]]),
    * ties pinned by term ascending. N counts documents with non-NULL
    * text (tokenless documents count — the denominator is the corpus).
    * Output: (id, term, tf, tfidf, rk) with rk in 1..k. */
  def tfidfKeywords(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n = df.where(F.col(textCol).isNotNull).count()
    require(n > 0, "tfidfKeywords over an empty corpus")
    val tf = termFrequencies(
      df.where(F.col(textCol).isNotNull), textCol, idCol)
    val dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).as("td_df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf", F.col("tf").cast(DoubleType) *
        graft.expressions.MathKernels.ln(
          F.lit(n.toDouble) / F.col("td_df").cast(DoubleType)))
    graft.operators.SeriesOps.topKPerGroup(scored, Seq("id"), "tfidf", k,
        descending = true, tiebreakers = Seq("term"))
      .select(F.col("id"), F.col("term"), F.col("tf"), F.col("tfidf"),
        F.col("rk"))
  }

  /** Top-N bigram collocations by pointwise mutual information — phrase
    * mining over the corpus (Church & Hanks 1990): PMI =
    * ln(p(ab) / (p(a)·p(b))) with p(ab) = c_ab/B over bigram positions
    * and p(·) = c/T over token positions, stated as ONE ln of exact
    * integer ratios: ln(((c_ab·T)·T) / ((B·c_a)·c_b)). Rare pairs below
    * `minCount` are dropped (PMI's classic low-frequency pathology);
    * the final top-N is a TakeOrdered slice (PMI desc, bigram asc), not
    * a global sort. Tokens are the [[Dedup.tokens]] convention with
    * empties removed BEFORE pairing, so bigrams never span an empty
    * token. Output: (bigram, n_pair, n_left, n_right, pmi). */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long = 5L,
      topN: Int = 100): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val toks = df.where(F.col(textCol).isNotNull)
      // stage the filtered token array: the bigram lambda reads it per
      // element (the element_at/CSE hazard — see Dsir.features)
      .select(F.filter(Dedup.tokens(F.col(textCol)), t => t =!= "")
        .as("td_toks"))
    val pairsCol = F.when(F.size(F.col("td_toks")) >= 2,
      F.transform(
        F.sequence(F.lit(1), F.size(F.col("td_toks")) - 1),
        i => F.struct(
          F.element_at(F.col("td_toks"), i).as("a"),
          F.element_at(F.col("td_toks"), i + 1).as("b"))))
      .otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    val uni = toks.select(F.explode(F.col("td_toks")).as("t"))
      .groupBy(F.col("t")).agg(F.count(F.lit(1)).as("c"))
    val bi = toks.select(F.explode(pairsCol).as("p"))
      .select(F.col("p.a").as("a"), F.col("p.b").as("b"))
      .groupBy(F.col("a"), F.col("b")).agg(F.count(F.lit(1)).as("cp"))
    val tTot = uni.agg(F.sum(F.col("c")).cast("long")).head().getLong(0)
    val bTot = bi.agg(F.sum(F.col("cp")).cast("long")).head().getLong(0)
    require(bTot > 0, "pmiCollocations needs at least one bigram")
    val tD = F.lit(tTot.toDouble); val bD = F.lit(bTot.toDouble)
    bi.where(F.col("cp") >= minCount)
      .join(uni.select(F.col("t").as("a"), F.col("c").as("ca")), "a")
      .join(uni.select(F.col("t").as("b"), F.col("c").as("cb")), "b")
      .select(F.concat(F.col("a"), F.lit(" "), F.col("b")).as("bigram"),
        F.col("cp").as("n_pair"), F.col("ca").as("n_left"),
        F.col("cb").as("n_right"),
        graft.expressions.MathKernels.ln(
          ((F.col("cp").cast(DoubleType) * tD) * tD) /
            ((bD * F.col("ca").cast(DoubleType)) *
              F.col("cb").cast(DoubleType))).as("pmi"))
      .orderBy(F.col("pmi").desc, F.col("bigram").asc)
      .limit(topN)
  }

  /** Ranking-quality evaluation per query — NDCG@k, reciprocal rank, and
    * average precision over a (query, position, graded relevance)
    * relation: the scorecard for any retrieval list this module emits
    * (BM25, RRF fusion, ANN rerank) against labeled judgments. Input
    * contract: one row per (query, position), positions 1..k within each
    * query (k ≤ `maxK` — ranked lists, a bounded relation by
    * construction).
    *
    * Exact-replay shape: the log2 discounts 1/log₂(i+1) are DRIVER-SIDE
    * literals (one libm evaluation per position, embedded identically in
    * the oracle — no engine-log parity risk), gains (2^rel − 1) are exact
    * integer shifts, and every per-query reduction is a pinned
    * ascending-position fold: DCG = Σ gain_i·disc_{pos_i}, IDCG the same
    * over relevance sorted descending, RR = 1/(first relevant position)
    * (0.0 when none — the standard MRR convention), AP = (Σ_{rel>0}
    * prefix-precision)/n_rel (0.0 when n_rel = 0). The prefix counts are
    * O(k²) slice scans per query — k is the cutoff, not the corpus.
    * Output: (query, n, n_rel, dcg, idcg, ndcg, rr, ap) ascending by
    * query; ndcg NULL when idcg = 0. */
  def rankEval(df: DataFrame, queryCol: String, posCol: String,
      relCol: String, maxK: Int = 100): DataFrame = {
    require(maxK >= 1 && maxK <= 1000, s"maxK in [1,1000], got $maxK")
    val discounts = (1 to maxK).map(i =>
      1.0d / (java.lang.Math.log(i + 1.0d) / java.lang.Math.log(2.0d)))
    val disc = F.array(discounts.map(F.lit): _*)
    val q = F.col(queryCol).cast("string")
    val p = F.col(posCol).cast("long")
    val r = F.col(relCol).cast("long")
    val clean = df.where(q.isNotNull && p.isNotNull && r.isNotNull)
      .select(q.as("td_q"), p.as("td_p"), r.as("td_r"))
    val packed = clean.groupBy(F.col("td_q"))
      .agg(F.count(F.lit(1)).as("td_n"),
        F.sum(F.when(F.col("td_r") > 0L, 1L).otherwise(0L)).as("td_nrel"),
        F.sort_array(F.collect_list(F.struct(
          F.col("td_p"), F.col("td_r")))).as("td_l"))
    val l = F.col("td_l")
    // 2^rel − 1: powers of two are exactly representable, so libm pow
    // with an integer exponent is exact on any engine (rel ≤ 52 domain)
    def gain(rel: org.apache.spark.sql.Column) =
      F.pow(F.lit(2.0d), rel.cast("double")) - F.lit(1.0d)
    val dcg = F.aggregate(l, F.lit(0.0d), (acc, e) =>
      acc + gain(e.getField("td_r")) *
        F.element_at(disc, e.getField("td_p").cast("int")))
    val relsDesc = F.reverse(F.array_sort(
      F.transform(l, e => e.getField("td_r"))))
    val idcg = F.aggregate(F.sequence(F.lit(1), F.size(l)), F.lit(0.0d),
      (acc, i) => acc + gain(F.element_at(relsDesc, i)) *
        F.element_at(disc, i))
    val firstRel = F.array_min(F.transform(
      F.filter(l, e => e.getField("td_r") > 0L), e => e.getField("td_p")))
    val rr = F.coalesce(F.lit(1.0d) / firstRel.cast("double"), F.lit(0.0d))
    val apSum = F.aggregate(F.sequence(F.lit(1), F.size(l)), F.lit(0.0d),
      (acc, i) => acc + F.when(F.element_at(l, i).getField("td_r") > 0L,
        F.size(F.filter(F.slice(l, F.lit(1), i),
            e => e.getField("td_r") > 0L)).cast("double") /
          F.element_at(l, i).getField("td_p").cast("double"))
        .otherwise(F.lit(0.0d)))
    packed.select(F.col("td_q").as("query"), F.col("td_n").as("n"),
        F.col("td_nrel").as("n_rel"), dcg.as("dcg"), idcg.as("idcg"),
        F.when(idcg > 0.0d, dcg / idcg).as("ndcg"), rr.as("rr"),
        F.when(F.col("td_nrel") > 0L,
            apSum / F.col("td_nrel").cast("double"))
          .otherwise(F.lit(0.0d)).as("ap"))
      .orderBy(F.col("query").asc)
  }

  /** The [[rankEval]] discount literals as SQL text — the oracle embeds
    * the SAME driver-side doubles (Scala's Double.toString round-trips,
    * so the parsed value is bit-identical). */
  def discountSqlList(maxK: Int): String =
    (1 to maxK).map(i =>
      (1.0d / (java.lang.Math.log(i + 1.0d) / java.lang.Math.log(2.0d)))
        .toString).mkString("[", ", ", "]")
}
