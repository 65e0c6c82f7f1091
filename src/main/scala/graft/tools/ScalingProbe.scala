package graft.tools

import org.apache.spark.sql.{DataFrame, functions => F}

/** Scaling experiment (NOT part of the driver contract): times the heavy
  * pipeline operators at 1×, 10× and 100× the sf0.1 documents table to
  * verify the measured growth matches the designed complexity. The larger
  * corpora are synthetic self-unions with shifted ids and salted text —
  * used only for this internal measurement, never as gate inputs.
  *
  * Run: `sbt "runMain graft.tools.ScalingProbe"` (results → PERF.md).
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.td.session(s"local[$cpus]", cpus.toInt)

    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")

    /** n-fold self-union; ids shifted and every word prefixed with a
      * per-copy tag, so copies share NO shingles with each other — the
      * duplicate/near-dup structure of the original corpus repeats n
      * times (output pairs scale linearly in n). A trailing-salt variant
      * was rejected: it made all n copies of a doc mutual near-dups, so
      * the OUTPUT grew quadratically and swamped the runtime measurement. */
    def scaled(n: Int): DataFrame =
      (0 until n).map { i =>
        base.select(
          (F.col("doc_id") + F.lit(i.toLong * 10000000L)).as("doc_id"),
          (if (i == 0) F.col("text")
           else F.regexp_replace(F.col("text"), "(^| )", s"$$1c$i")).as("text"))
      }.reduce(_ union _)

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    // big scale per op: the signature-explode dedups spill the 32-hash
    // shingle relation to local disk — x30 (150k docs) is the largest leg
    // that fits this container's /tmp; the single-pass/single-shuffle ops
    // run the full x100 (500k docs)
    val opFilter = args.toSet
    val ops0: Seq[(String, Int, DataFrame => Long)] = Seq(
      ("dedup_exact", 100, d => graft.pipeline.Dedup.exact(d, "text", "doc_id").count()),
      ("dedup_minhash", 30, d =>
        graft.pipeline.Dedup.minhashLshPairs(d, "text", "doc_id", 32, 8, 3, 0.8).count()),
      ("dedup_minhash_grp", 30, { d =>
        // group key joins the band-bucket key: per-group candidates only
        graft.pipeline.Dedup.minhashLshPairsGrouped(
          d.withColumn("grp", (F.col("doc_id") % 5).cast("string")),
          "text", "doc_id", "grp", 32, 8, 3, 0.8).count()
      }),
      ("dedup_jaccard", 30, d =>
        graft.pipeline.Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 0.5).count()),
      ("topgram", 100, d =>
        graft.pipeline.QualityFilters.topNgramFraction(d, "doc_id", "text", 2).count()),
      ("gopher", 100, { d =>
        graft.pipeline.QualityFilters.withGopherSignals(d, "text", Seq("doc_id"))
          .filter(F.col("passes_gopher")).count()
      }),
      ("clusters", 100, { d =>
        // chain edges within blocks of 100 (the q_dedup_clusters shape);
        // copies' id-shift keeps edges intra-copy → edge count linear in n
        val ids = d.select("doc_id")
        val edges = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        graft.pipeline.Clustering.connectedComponents(edges, "src", "dst").count()
      }),
      ("decontaminate", 100, { d =>
        val evals = base.where(F.col("doc_id") < 20)
        graft.pipeline.Decontaminate
          .overlapFlags(d, "text", "doc_id", evals, "text", 3)
          .where(F.col("contaminated")).count()
      }),
      ("datamix", 100, { d =>
        graft.pipeline.DataMix.sampleByWeights(
          d.withColumn("lang", F.lit("en")), "doc_id", "lang",
          Map("en" -> 0.5), 0.75).count()
      }),
      ("incremental", 100, { d =>
        // history = even ids, batch = odd ids (both scale with the corpus)
        graft.pipeline.Dedup.incrementalNew(
          d.where(F.col("doc_id") % 2 === 0), d.where(F.col("doc_id") % 2 === 1),
          "text", "doc_id").count()
      }),
      ("packing", 100, { d =>
        graft.pipeline.Packing.packByBudget(
          d.withColumn("n", F.length(F.col("text"))), "doc_id", "n", 4096L)
          .count()
      }),
      ("quality_score", 100, { d =>
        graft.pipeline.QualityFilters.withQualityScore(d, "text", Seq("doc_id"))
          .where(F.col("passes_quality")).count()
      }),
      ("incremental_near", 30, { d =>
        // history = even ids (indexed), batch = odd ids probing it
        val hist = d.where(F.col("doc_id") % 2 === 0)
        val index = graft.pipeline.Dedup.minhashBandIndex(hist, "text", "doc_id")
        graft.pipeline.Dedup.incrementalNearDupPairs(index, hist,
          d.where(F.col("doc_id") % 2 === 1), "text", "doc_id",
          threshold = 0.8).count()
      }),
      ("fuzzy", 30, { d =>
        // record-linkage shape: short keys, prefix blocks, maxBlock guard
        // active. The key is COPY-INVARIANT — a fixed-width copy tag plus
        // the first 20 chars of the de-tagged text, blocked on tag+8 — so
        // each synthetic copy reproduces exactly the x1 block structure:
        // block sizes stay constant and only the block count grows. (A
        // first attempt keyed on the raw tagged text measured 122x at x30
        // — the per-word salt ate prefix chars, coarsening blocks as n
        // grew, a probe artifact rather than an operator cost.)
        val copy = F.lpad((F.col("doc_id") / 10000000L).cast("long").cast("string"), 4, "0")
        val stripped = F.regexp_replace(F.col("text"), "c[0-9]+", "")
        graft.pipeline.Dedup.fuzzyPairs(
          d.select(F.col("doc_id"),
            F.concat(copy, F.substring(stripped, 1, 20)).as("k")),
          "k", "doc_id", blockLen = 12, maxDist = 2).count()
      }),
      ("incremental_bloom", 100, { d =>
        // same split as the exact incremental probe, through the filter
        val hist = d.where(F.col("doc_id") % 2 === 0)
        val bf = graft.pipeline.Dedup.buildBloomIndex(hist, "text")
        graft.pipeline.Dedup.incrementalNewBloom(bf, hist,
          d.where(F.col("doc_id") % 2 === 1), "text", "doc_id").count()
      }),
      ("unigram_lm", 100, { d =>
        graft.pipeline.QualityFilters.unigramLogProb(d, "doc_id", "text",
          vocabSize = 100000).where(F.col("avg_nll") > 0).count()
      }),
      ("bm25", 100, { d =>
        // build + one 3-term query batch: postings aggregation dominates,
        // both linear passes; the query side is constant-size
        val idx = graft.pipeline.Retrieval.buildBm25(d, "text", "doc_id")
        graft.pipeline.Retrieval.scoreQuery(
          idx, Seq("spark", "customer", "vector"), k1 = 1.5, b = 0.75).count()
      }),
      ("dsir", 100, { d =>
        // target = a fixed-size slice of the original corpus; raw scales.
        // Distributions stay <=65536 rows at every scale (the broadcast
        // side is bounded by design, not by the data).
        val target = base.where(F.col("doc_id") < 500)
        graft.pipeline.Dsir.importanceWeights(d, target, "text", "doc_id")
          .count()
      }),
      ("chunking", 100, { d =>
        graft.pipeline.Packing.chunkDocuments(d, "doc_id", "text",
          size = 256, overlap = 32).count()
      }),
      ("normalize", 100, { d =>
        d.select(graft.expressions.TextKernels.unicodeNormalize(
          F.col("text")).as("n")).where(F.length(F.col("n")) > 0).count()
      }),
      ("excision", 30, { d =>
        // Lee et al. removal step: linear explode + one counted shuffle +
        // doc-local coverage anti-join over MERGED spans (r8 guard — raw
        // overlapping spans made a fully-duplicated doc cost tokens×windows)
        graft.pipeline.Dedup.removeDuplicateSpans(d, "text", "doc_id")
          .where(F.col("n_removed") > 0).count()
      }),
      ("domain_cap", 100, { d =>
        // registered-domain extract + keyed row_number cap: one shuffle on
        // the domain key; 1000 synthetic domains keep per-key sorts bounded
        val urls = d.select(F.col("doc_id"),
          F.concat(F.lit("https://www.site"), (F.col("doc_id") % 1000).cast("string"),
            F.lit(".com/p/"), F.col("doc_id").cast("string")).as("url"))
        graft.pipeline.Domains.capPerDomain(urls, "url", "doc_id", 5).count()
      }),
      ("vocab_coverage", 100, { d =>
        // explode + keyed count + range-partitioned cumulative sum — the
        // distinct-token relation grows with the salted copies, probing the
        // cumsum machinery, not just the count shuffle
        graft.pipeline.Vocab.byCoverage(d, "text", 0.95).count()
      }),
      ("bpe_apply", 100, { d =>
        // merges learned once on the x1 vocabulary (O(k) metadata, fixed);
        // the probed cost is the row-local broadcast-rank application
        val merges = graft.pipeline.Tokenize.learnBpeMerges(base, "text", 20)
        graft.pipeline.Tokenize.withBpeTokens(d, "text", merges)
          .where(F.col("n_tokens") > 0).count()
      }),
      ("curriculum", 100, { d =>
        // exact cutpoints = one range shuffle (ScalableRank) + row-local
        // phase assignment against the broadcast cut list
        graft.pipeline.DataMix.curriculumPhases(
          d.withColumn("score", F.length(F.col("text"))), "score", 4,
          tiebreakers = Seq("doc_id")).where(F.col("phase") === 4).count()
      }),
      ("novelty", 100, { d =>
        // inverted shingle index + count join-back + per-doc agg — the
        // copies share no shingles, so the frequency relation scales
        // linearly with the corpus
        graft.pipeline.TextAnalysis.ngramNovelty(d, "doc_id", "text", 3)
          .where(F.col("novelty") < 1.0).count()
      }),
      ("hh_twopass", 100, { d =>
        // per-partition MG sketches (no vocab shuffle) + candidate verify
        graft.pipeline.Vocab.heavyHittersTwoPass(d, "text", 0.001).count()
      }),
      ("kn_lm", 30, { d =>
        graft.pipeline.QualityFilters.knBigramLogProb(d, "doc_id", "text")
          .where(F.col("avg_nll_kn") > 0).count()
      }),
      ("winsorize", 100, { d =>
        graft.operators.Quantiles.winsorize(
          d.withColumn("n", F.length(F.col("text"))), "n",
          0.05, 0.95, tiebreakers = Seq("doc_id")).count()
      }),
      ("version_diff", 100, { d =>
        // CDC between two derived snapshots: the co-partitioning join
        val s0 = d.withColumn("n", F.length(F.col("text"))).select("doc_id", "n")
        graft.store.VersionDiff.diff(
          s0.where(F.col("doc_id") % 7 =!= 0),
          s0.where(F.col("doc_id") % 5 =!= 0)
            .withColumn("n", F.when(F.col("doc_id") % 3 === 0,
              F.col("n") * 2).otherwise(F.col("n"))),
          Seq("doc_id")).count()
      }),
      ("version_history", 100, { d =>
        // three snapshots through the keyed lag/run-sum unroll
        val s0 = d.withColumn("n", F.length(F.col("text"))).select("doc_id", "n")
        val s2 = s0.where(F.col("doc_id") % 5 =!= 0)
          .withColumn("n", F.when(F.col("doc_id") % 3 === 0,
            F.col("n") * 2).otherwise(F.col("n")))
        val s3 = s0.where(F.col("doc_id") % 4 =!= 0)
        graft.store.VersionDiff.history(Seq(s0, s2, s3), Seq("doc_id")).count()
      }),
      ("quantile_sketch", 100, { d =>
        // one-pass mergeable grid sketch per 20-way group: two keyed aggs,
        // k·(bins+2) output cells, no window, no sort
        graft.pipeline.Report.quantileSketch(
          d.withColumn("g", (F.col("doc_id") % 20).cast("string"))
            .withColumn("n", F.length(F.col("text"))),
          "n", 0.0, 4096.0, 256, groupCol = Some("g")).count()
      }),
      ("kmv_sketch", 100, { d =>
        // bottom-k distinct sketch per 20-way group: one distinct
        // shuffle + one keyed-window top-k over the distinct set; the
        // assembled output is k entries per group regardless of n
        graft.pipeline.Sketches.kmvSketch(
          d.withColumn("g", (F.col("doc_id") % 20).cast("string")),
          "text", 256, groupCol = Some("g")).count()
      }),
      ("cms_sketch", 100, { d =>
        // depth×width count-min build: the depth-explode collapses
        // map-side (partial agg to ≤ depth·width cells per partition),
        // then one keyed agg + dense-array assembly of depth rows
        graft.pipeline.Sketches.cmsSketch(d, "text", depth = 4,
          width = 1024).count()
      }),
      ("quality_lr", 100, { d =>
        // 3 GD iterations × one map-side-combined fixed-point agg each —
        // the count shape; driver holds only the weight vector
        val feat = d.select(
          (F.length(F.col("text")).cast("double") / 1000.0d).as("x1"),
          ((F.col("doc_id") % 7).cast("double") / 7.0d).as("x2"),
          F.when(F.col("doc_id") % 3 === 0, 1.0d).otherwise(0.0d).as("y"))
        val w = graft.pipeline.QualityModel.trainLogistic(
          feat, Seq("x1", "x2"), "y", iters = 3)
        graft.pipeline.QualityModel.scoreLogistic(feat, Seq("x1", "x2"),
          w.toSeq).where(F.col("score") > 0.5d).count()
      }),
      ("auc", 100, { d =>
        // one range-shuffle rank + one keyed count join + one agg
        graft.pipeline.QualityModel.aucOf(
          d.select(F.length(F.col("text")).cast("double").as("s"),
            F.when(F.col("doc_id") % 3 === 0, 1).otherwise(0).as("y")),
          "s", "y").count()
      }),
      ("profile", 100, { d =>
        // one aggregation job; distinct counts ride the expand
        graft.pipeline.Report.profile(d).count()
      }),
      ("bloom_sketch", 100, { d =>
        // Bloom build + whole-corpus probe: the k-hash explode collapses
        // map-side (partial bit_or to ≤ ceil(m/32) words per partition),
        // the filter broadcasts onto the probes — both passes linear,
        // no shuffle grows with n
        val sk = graft.pipeline.Sketches.bloomSketch(d, "text", 65536, 3)
        graft.pipeline.Sketches.bloomProbe(sk,
          d.select(F.col("text").as("probe")), "probe")
          .where(F.col("member")).count()
      }),
      ("kmv_setops", 100, { d =>
        // two bottom-k sketches + set algebra over their ≤ 2k entries:
        // the estimate stage is constant-size regardless of n
        val a = graft.pipeline.Sketches.kmvSketch(
          d.where(F.col("doc_id") % 2 === 0), "text", 256)
        val b = graft.pipeline.Sketches.kmvSketch(
          d.where(F.col("doc_id") % 2 === 1), "text", 256)
        graft.pipeline.Sketches.kmvSetOps(a, b).count()
      }),
      ("skew_stats", 100, { d =>
        // one map-side-combined count shuffle; everything downstream is
        // bounded by topK — the diagnosis costs one pass at any scale
        graft.operators.SkewDiag.skewStats(
          d.withColumn("k", (F.col("doc_id") % 1000).cast("string")),
          "k", 16).count()
      }),
      ("equidepth_hist", 100, { d =>
        // ScalableRank range shuffle + one keyed agg: no single-task
        // sort, bins assembled from bounded per-bucket extrema
        graft.operators.Quantiles.equiDepthHistogram(
          d.withColumn("n", F.length(F.col("text"))), "n", 32,
          tiebreakers = Seq("doc_id")).count()
      }),
      ("weighted_sample", 100, { d =>
        // priority sampling per 20-way group: row-local priorities +
        // one keyed window; output bounded at k per group
        graft.pipeline.Sketches.weightedSample(
          d.withColumn("g", (F.col("doc_id") % 20).cast("string"))
            .withColumn("n", F.length(F.col("text"))),
          "doc_id", "n", 100, groupCol = Some("g")).count()
      }),
      ("embedding_sketch", 100, { d =>
        // fixed-point centroid sketch per 10-way label over synthesized
        // 64-dim vectors (hash-derived — the measured cost is the scan ×
        // dim map-side partial sums, no explode, one shuffle of ≤10 rows)
        val emb = d.select(F.col("doc_id"),
          F.transform(F.sequence(F.lit(1), F.lit(64)),
            i => (F.hash(F.col("doc_id"), i).cast("double") /
              F.lit(2.147483647e9)).cast("float")).as("embedding"),
          (F.col("doc_id") % 10).cast("int").as("label"))
        graft.pipeline.Report.embeddingSketch(emb, "embedding", 64,
          groupCol = Some("label")).count()
      }),
      ("group_quantiles_skew", 100, { d =>
        // one pathologically hot group (~70% of all rows) + 9 cold groups:
        // the hot group must route through the global range-shuffle
        // fallback (threshold exceeded from x1 up) while cold groups stay
        // on parallel keyed windows — the skew case the per-group window
        // alone cannot survive
        val g = F.when(F.col("doc_id") % 10 < 7, F.lit("hot"))
          .otherwise((F.col("doc_id") % 10).cast("string"))
        graft.operators.Quantiles.exactQuantilesByGroup(
          d.withColumn("g", g).withColumn("n", F.length(F.col("text"))),
          "g", "n", Seq(0.5, 0.9, 0.99), tiebreakers = Seq("doc_id"),
          hotGroupThreshold = 200000L).count()
      }),
      ("group_quantiles_manyhot", 100, { d =>
        // EVERY one of 40 groups exceeds the hot threshold simultaneously
        // — the shape that would have built a 40-way union of per-group
        // subplans; all 40 must ride the ONE composite-key rank pass
        // (withRankByGroup) and stay sub-linear together
        graft.operators.Quantiles.exactQuantilesByGroup(
          d.withColumn("g", (F.col("doc_id") % 40).cast("string"))
            .withColumn("n", F.length(F.col("text"))),
          "g", "n", Seq(0.5, 0.99), tiebreakers = Seq("doc_id"),
          hotGroupThreshold = 100L).count()
      }),
      ("corpus_overlap", 100, { d =>
        graft.pipeline.Report.corpusOverlap(
          d.where(F.col("doc_id") % 2 === 0),
          d.where(F.col("doc_id") % 2 === 1), "text", 3).count()
      }),
      ("median_mad", 100, { d =>
        // two exact-quantile range shuffles (median, then MAD)
        graft.operators.Quantiles.medianMad(
          d.withColumn("n", F.length(F.col("text"))).select("doc_id", "n"),
          "n", tiebreakers = Seq("doc_id")).count()
      }),
      ("interleave", 100, { d =>
        // one global range shuffle + broadcast per-group offsets
        graft.pipeline.DataMix.interleave(
          d.withColumn("src", (F.col("doc_id") % 5).cast("string")),
          "src", Map("0" -> 3.0, "1" -> 2.0, "2" -> 1.0, "3" -> 1.0, "4" -> 1.0),
          tiebreakers = Seq("doc_id")).count()
      }),
      ("pct_rank", 100, { d =>
        graft.operators.ScalableRank.percentileRank(
          d.withColumn("n", F.length(F.col("text"))).select("doc_id", "n"), "n")
          .where(F.col("pct_rank") > 0.99).count()
      }),
      ("histogram_group", 100, { d =>
        graft.pipeline.Report.histogramByGroup(
          d.withColumn("g", (F.col("doc_id") % 20).cast("string"))
            .withColumn("n", F.length(F.col("text"))),
          "g", "n", bins = 20).count()
      }),
      ("pagerank", 100, { d =>
        // chain edges within blocks of 100, symmetrized (the graph gate's
        // shape): 3 damped iterations, each one rank-join + fixed-point
        // agg — edge count linear in n, iteration count fixed
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        graft.pipeline.GraphRank.pagerank(ed, "src", "dst", iters = 3).count()
      }),
      ("hits", 30, { d =>
        // directed chain-block graph, 2 HITS iterations (4 fixed-point
        // passes + 4 norm scalars); edges linear in n
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        graft.pipeline.GraphRank.hits(e0, "src", "dst", iters = 2).count()
      }),
      ("triangles", 100, { d =>
        // complete graph per 10-doc block: 45 edges / 120 triangles per
        // block, so edges AND triangles grow linearly with n while the
        // oriented join's per-node candidate sets stay constant
        val ids = d.select(F.col("doc_id"),
          (F.col("doc_id") / 10L).cast("long").as("blk"))
        val e = ids.as("x").join(ids.as("y"), "blk")
          .where(F.col("x.doc_id") < F.col("y.doc_id"))
          .select(F.col("x.doc_id").as("src"), F.col("y.doc_id").as("dst"))
        graft.pipeline.GraphRank.triangles(e, "src", "dst").count()
      }),
      ("closeness", 100, { d =>
        // chain blocks again: the 2-hop pair relation is ≤ 2 pairs per
        // node regardless of n — layers grow linearly, rounds fixed
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        graft.pipeline.GraphRank.closenessTruncated(e0, "src", "dst",
          maxHops = 2).count()
      }),
      ("linkpred", 100, { d =>
        // chain blocks (path graphs): non-edge candidate pairs (i, i+2)
        // grow linearly with n while every intermediate has degree ≤ 2
        // — pair generation, the only quadratic-in-degree term, stays
        // bounded by construction (the hub cap enforces this on real
        // graphs)
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        graft.pipeline.GraphRank.linkPrediction(e0, "src", "dst",
          k = 100).count()
      }),
      ("ppr", 100, { d =>
        // pagerank's shape + a broadcast seed flag: 3 damped iterations
        // with the teleport restricted to every 100th node
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        val seeds = ids.where(F.col("doc_id") % 100 === 0)
          .select(F.col("doc_id").as("node"))
        graft.pipeline.GraphRank.pagerankPersonalized(ed, "src", "dst",
          seeds, "node", iters = 3).count()
      }),
      ("assortativity", 100, { d =>
        // degree join ×2 + one fixed-point corr agg over edges: linear
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        val deg = ed.groupBy(F.col("src"))
          .agg(F.count(F.lit(1)).cast("double").as("du"))
        val dd2 = ed.join(deg, "src")
          .join(deg.select(F.col("src").as("dst"), F.col("du").as("dv")), "dst")
        graft.pipeline.Report.mergeCorrStamps(
          graft.pipeline.Report.corrStamp(dd2, "du", "dv")).count()
      }),
      ("lpa", 100, { d =>
        // label propagation over the chain-block graph: two keyed aggs
        // per round, single-consumer iterates, barrier-free
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        graft.pipeline.GraphRank.labelPropagation(ed, "src", "dst",
          iters = 2).count()
      }),
      ("modularity", 100, { d =>
        // conductance's shape: two label joins + one keyed agg; the Q
        // fold rides the bounded per-community rows
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        val labels = ids.select(F.col("doc_id").as("node"),
          (F.col("doc_id") % 50).cast("string").as("community"))
        graft.pipeline.GraphRank.modularity(ed, "src", "dst", labels).count()
      }),
      ("lpa_converged", 100, { d =>
        // lpa's rounds + one persist+count action per round (the
        // convergence signal); the extra cost per round is one cached
        // node-sized count
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        val (labels, _) = graft.pipeline.GraphRank.labelPropagationConverged(
          ed, "src", "dst", maxIters = 2, earlyStop = false)
        labels.count()
      }),
      ("kcore", 100, { d =>
        // 2 peeling rounds at k=2 over the chain-block graph: one keyed
        // count + two semi-joins per round, iterates cached (3 consumers)
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        graft.pipeline.GraphRank.kCore(ed, "src", "dst", k = 2, iters = 2)
          .count()
      }),
      ("reach_hll", 100, { d =>
        // HyperBall: 2 rounds of edge join + hll_union_agg; per-node
        // state is one register set no matter how large the ball —
        // the scale path whose exact twin (kHopReach) is quadratic
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        graft.pipeline.GraphRank.kHopReachApprox(ed, "src", "dst", k = 2)
          .count()
      }),
      ("pagerank_conv", 100, { d =>
        // pagerank's 2 rounds + one cached join+agg action per round
        // (the exact L1 signal)
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val ed = e0.union(e0.select(F.col("dst").as("src"), F.col("src").as("dst")))
        val (r, _) = graft.pipeline.GraphRank.pagerankConverged(
          ed, "src", "dst", maxIters = 2, earlyStop = false)
        r.count()
      }),
      ("hits_conv", 30, { d =>
        // hits' 2 pass pairs + one node-sized 3-join L1 agg per round;
        // iterates stay with the ContextCleaner (the hits convention)
        val ids = d.select("doc_id")
        val e0 = ids.as("a").join(ids.as("b"),
            F.col("b.doc_id") === F.col("a.doc_id") + 1 &&
              F.col("a.doc_id") % 100 =!= 99)
          .select(F.col("a.doc_id").as("src"), F.col("b.doc_id").as("dst"))
        val (hs, _) = graft.pipeline.GraphRank.hitsConverged(
          e0, "src", "dst", maxIters = 2, earlyStop = false)
        hs.count()
      }),
      ("tail_index", 100, { d =>
        // one descending range-shuffle rank + a bounded k+1 head fold
        graft.operators.SkewDiag.tailIndex(
          d.withColumn("v", F.length(F.col("text")).cast("double")), "v",
          k = 100, tiebreakers = Seq("doc_id")).count()
      }),
      ("corpus_card", 100, { d =>
        // staged regex counters once + ONE composite-key rank pass +
        // one keyed agg; 20 slices constant, rows grow
        graft.pipeline.Report.corpusCard(
          d.withColumn("lang", (F.col("doc_id") % 20).cast("string")),
          "lang", "text", "doc_id").count()
      }),
      ("chi_squared", 100, { d =>
        // one cell-count shuffle; the 7×13 grid is bounded metadata
        graft.pipeline.Report.chiSquared(
          d.withColumn("a", (F.col("doc_id") % 7).cast("string"))
            .withColumn("b", (F.col("doc_id") % 13).cast("string")),
          "a", "b").count()
      }),
      ("benford", 100, { d =>
        // row-local libm digit + a 9-key count: linear, zero joins of data
        graft.dq.Dq.benford(
          d.withColumn("v", F.length(F.col("text")).cast("double")), "v")
          .count()
      }),
      ("tfidf", 100, { d =>
        // postings build + df join + map-side window limit: linear
        graft.pipeline.Retrieval.tfidfKeywords(d, "text", "doc_id", 5)
          .count()
      }),
      ("pmi", 100, { d =>
        // unigram + bigram counts (two map-side-combined shuffles) +
        // a TakeOrdered top slice: linear in total tokens
        graft.pipeline.Retrieval.pmiCollocations(d, "text",
          minCount = 5L, topN = 100).count()
      }),
      ("quality_cv", 100, { d =>
        // 3 folds × 2 GD iterations (six map-side-combined aggs) + three
        // holdout AUC range shuffles over n/3 rows each
        val feats = d.select(F.col("doc_id"),
          (F.length(F.col("text")).cast("double") / 1000.0d).as("x1"),
          (F.col("doc_id") % 2).cast("double").as("y"))
        graft.pipeline.QualityModel.crossValidate(
          feats, Seq("x1"), "y", "doc_id", k = 3, iters = 2).count()
      }),
      ("readability", 100, { d =>
        // three regex counters + row-local arithmetic: zero shuffles
        graft.pipeline.TextAnalysis.readability(d, "doc_id", "text")
          .where(F.col("fkgl") > 12.0).count()
      }),
      ("curation_e2e", 30, { d =>
        // the full composed path, every filter rooted at the raw scan and
        // intersected (the q_curation_e2e shape — the chained version
        // compounded branch recomputation: 216x at 30x)
        val dd = d.withColumn("lang", F.lit("en"))
          .withColumn("source", (F.col("doc_id") % 20).cast("string"))
        val keep = graft.pipeline.Dedup.exact(dd, "text", "doc_id")
          .select(F.col("keep_id").as("doc_id"))
        val contaminated = graft.pipeline.Decontaminate
          .overlapFlags(dd, "text", "doc_id",
            base.where(F.col("doc_id") < 20), "text", 3)
          .where(F.col("contaminated")).select(F.col("id").as("doc_id"))
        val curated = graft.pipeline.QualityFilters.withQualityScore(
            dd.join(keep, Seq("doc_id"), "left_semi")
              .join(contaminated, Seq("doc_id"), "left_anti"),
            "text", keep = Seq("doc_id", "lang", "source"))
          .where(F.col("passes_quality"))
        graft.pipeline.DataMix.splitByKey(curated, "source", 0.1, 0.1).count()
      }))

    // event-shaped ops scale over a self-unioned events table with
    // shifted user ids (each copy is a disjoint user population, so
    // per-user work stays constant and only the population grows)
    val evBase = graft.queries.Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select("user_id", "ts", "event_type", "value")
    def scaledEv(n: Int): DataFrame =
      (0 until n).map { i =>
        evBase.select((F.col("user_id") + F.lit(i.toLong * 1000000L)).as("user_id"),
          F.col("ts"), F.col("event_type"), F.col("value"))
      }.reduce(_ union _)
    val evOps: Seq[(String, Int, DataFrame => Long)] = Seq(
      ("funnel", 100, { e =>
        graft.operators.Funnel.funnel(e, "user_id", "ts", "event_type",
          Seq("signup", "view", "click", "purchase")).count()
      }),
      ("cohort", 100, { e =>
        graft.operators.Funnel.cohortRetention(e, "user_id", "ts").count()
      }),
      ("rfm", 100, { e =>
        // one keyed agg + three composite range-shuffle rank passes
        // over the (smaller) per-user relation
        graft.operators.Funnel.rfm(e, "user_id", "ts", "value").count()
      }),
      ("sessionize", 100, { e =>
        // keyed window (users sort in parallel) + keyed rollup
        graft.operators.Funnel.sessionize(e, "user_id", "ts", 1800L,
          tiebreaker = "value").count()
      }),
      ("assoc_rules", 100, { e =>
        // distinct (user, type) + per-basket a<b self-join: candidates
        // bounded by per-user type-set size (constant per copy)
        graft.operators.Funnel.associationRules(e, "user_id",
          "event_type", minBoth = 5L).count()
      }),
      ("ewma_daily", 100, { e =>
        // one day-keyed count shuffle; the EWMA fold runs on the
        // bounded day grid (constant as rows grow)
        graft.pipeline.Report.ewmaDaily(e, "ts").count()
      }),
      ("markov", 100, { e =>
        // keyed lag window + k² cell counts; the power iteration runs
        // on bounded driver metadata
        graft.operators.Funnel.markovStationary(e, "user_id", "ts",
          "event_type", tiebreaker = "value", iters = 5).count()
      }),
      ("ab_ztest", 100, { e =>
        // per-user conversion agg + a 2-variant count: linear
        val conv = e.where(F.col("user_id").isNotNull)
          .groupBy(F.col("user_id"))
          .agg(F.max(F.when(F.col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("conv"))
          .select(F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
            .as("variant"), F.col("conv"))
        graft.pipeline.Report.twoProportionZ(conv, "variant", "conv").count()
      }),
      ("welch", 100, { e =>
        // one keyed fixed-point moments pass + a bounded 2-struct fold
        val rev = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("user_id"))
          .agg((F.sum(F.floor(F.col("value").cast("double") *
              F.lit(1048576.0d) + F.lit(0.5d)).cast("long")).cast("double") /
            F.lit(1048576.0d)).as("revenue"))
          .select(F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
            .as("variant"), F.col("revenue"))
        graft.pipeline.Report.welchT(rev, "variant", "revenue").count()
      }),
      ("cuped", 100, { e =>
        // the welch shape with a 6-sum pass: one keyed fixed-point
        // moments pass (y, x, y², x², xy), pooled θ + adjusted moments
        // all from the same two variant rows — no second corpus pass
        val day = F.unix_date(F.to_date(F.col("ts"))).cast("long")
        val fpv = F.floor(F.col("value").cast("double") *
          F.lit(1048576.0d) + F.lit(0.5d)).cast("long")
        val per = e.where(F.col("user_id").isNotNull &&
            F.col("value").isNotNull && F.col("ts").isNotNull)
          .groupBy(F.col("user_id"))
          .agg(
            (F.coalesce(F.sum(F.when(day % 2 =!= 0L, fpv)), F.lit(0L))
              .cast("double") / F.lit(1048576.0d)).as("metric"),
            (F.coalesce(F.sum(F.when(day % 2 === 0L, fpv)), F.lit(0L))
              .cast("double") / F.lit(1048576.0d)).as("covariate"))
          .select(F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
            .as("variant"), F.col("metric"), F.col("covariate"))
        graft.pipeline.Report.cupedT(per, "variant", "metric", "covariate")
          .count()
      }),
      ("mantel_haenszel", 100, { e =>
        // one (stratum, variant)-keyed integer-cell pass, bounded
        // per-stratum folds, one global long-sum agg
        val ev = e.where(F.col("user_id").isNotNull &&
            F.col("value").isNotNull && F.col("event_type").isNotNull)
          .select(F.col("event_type").as("stratum"),
            F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
              .as("variant"),
            (F.col("value") > 34.0d).as("conv"))
        graft.pipeline.Report.mantelHaenszel(ev, "stratum", "variant",
          "conv").count()
      }),
      ("cliffs_delta", 100, { e =>
        // mannwhitney's single ranked pass without the tie fold
        val rev = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("user_id"))
          .agg(F.sum(F.floor(F.col("value").cast("double") *
            F.lit(1048576.0d) + F.lit(0.5d)).cast("long")).as("revenue"))
          .select(F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
            .as("variant"), F.col("revenue"))
        graft.pipeline.Report.cliffsDelta(rev, "variant", "revenue").count()
      }),
      ("seasonal_grouped", 100, { e =>
        // one (group, day)-keyed count shuffle; moments on the bounded grid
        graft.pipeline.Report.seasonalDailyByGroup(e, "event_type", "ts")
          .count()
      }),
      ("cusum_grouped", 100, { e =>
        // one (group, day)-keyed count shuffle; per-group clamped prefix
        // folds on the bounded slices×days grid
        graft.pipeline.Report.cusumDailyByGroup(e, "event_type", "ts",
          slack = 2.0).count()
      }),
      ("tclose", 100, { e =>
        // two keyed aggs (cells + per-value marginals broadcast back),
        // bounded per-class folds — linear, one corpus shuffle
        graft.pipeline.Privacy.tCloseness(
          e.withColumn("cohort", (F.col("user_id") % 10).cast("string")),
          Seq("event_type"), "cohort", threshold = 0.1).count()
      }),
      ("tclose_ordered", 100, { e =>
        // same cell shuffle as tclose; the EMD fold walks the BOUNDED
        // sorted value grid per class (grid size constant as rows grow)
        graft.pipeline.Privacy.tClosenessOrdered(
          e.withColumn("cohort", F.col("user_id") % 10),
          Seq("event_type"), "cohort", threshold = 0.1).count()
      }),
      ("ks_twosample", 100, { e =>
        // one value-keyed count agg + the two-phase range prefix — the
        // ScalableRank shuffle shape, linear in distinct values
        val rev = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("user_id"))
          .agg(F.sum(F.floor(F.col("value").cast("double") *
            F.lit(1048576.0d) + F.lit(0.5d)).cast("long")).as("revenue"))
          .select(F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
            .as("variant"), F.col("revenue"))
        graft.pipeline.Report.ksTwoSample(rev, "variant", "revenue").count()
      }),
      ("ks_sliced", 100, { e =>
        // composite two-phase prefix: slices in contiguous partition
        // runs, per-(partition, slice) offsets stitch the cumsum
        val rev = e.where(F.col("user_id").isNotNull &&
            F.col("event_type").isNotNull)
          .groupBy(F.col("event_type"), F.col("user_id"))
          .agg(F.count(F.lit(1)).cast("double").as("n_events"))
          .select(F.col("event_type"),
            F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
              .as("variant"), F.col("n_events"))
        graft.pipeline.Report.ksTwoSampleByGroup(rev, "event_type",
          "variant", "n_events").count()
      }),
      ("cliffs_sliced", 100, { e =>
        // ONE composite (slice, value) range-shuffle rank for all slices
        // + keyed aggs — the ByGroup rank machinery (welch_sliced shares
        // the keyed-moments shape already probed by `welch`)
        val eng = e.where(F.col("user_id").isNotNull &&
            F.col("event_type").isNotNull)
          .groupBy(F.col("event_type"), F.col("user_id"))
          .agg(F.count(F.lit(1)).cast("double").as("n_events"))
          .select(F.col("event_type"),
            F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
              .as("variant"), F.col("n_events"))
        graft.pipeline.Report.cliffsDeltaByGroup(eng, "event_type",
          "variant", "n_events").count()
      }),
      ("zscore_state", 100, { e =>
        // keyed online moments: one groupByKey exchange, 3 longs/key
        import e.sparkSession.implicits._
        val ds = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .select(F.col("user_id").cast("string"),
            F.unix_micros(F.col("ts")).as("seq"),
            F.col("value").cast("double"))
          .as[(String, Long, Double)]
        graft.streaming.Streams.statefulMoments(ds).count()
      }),
      ("mannwhitney", 100, { e =>
        // per-user fixed-point totals + ONE range-shuffle rank + a
        // per-value count join (the AUC machinery); the finishing
        // algebra is a 2-struct fold
        val rev = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("user_id"))
          .agg(F.sum(F.floor(F.col("value").cast("double") *
            F.lit(1048576.0d) + F.lit(0.5d)).cast("long")).as("revenue"))
          .select(F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")
            .as("variant"), F.col("revenue"))
        graft.pipeline.Report.mannWhitneyU(rev, "variant", "revenue").count()
      }),
      ("kruskal", 100, { e =>
        // mannwhitney's single ranked pass, k=3 bounded group fold
        val rev = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("user_id"))
          .agg(F.sum(F.floor(F.col("value").cast("double") *
            F.lit(1048576.0d) + F.lit(0.5d)).cast("long")).as("revenue"))
          .select(F.when(F.col("user_id") % 3 === 0, "A")
            .when(F.col("user_id") % 3 === 1, "B").otherwise("C")
            .as("variant"), F.col("revenue"))
        graft.pipeline.Report.kruskalWallis(rev, "variant", "revenue").count()
      }),
      ("spearman", 100, { e =>
        // two range-shuffle midrank passes + the corr-stamp agg: the
        // heaviest rank-family shape (everything else is one pass)
        graft.pipeline.Report.spearmanCorr(e, "value", "user_id").count()
      }),
      ("anova", 100, { e =>
        // ONE keyed fixed-point moments pass over k=3 cohorts; the
        // finishing T fold is bounded by k — the welch shape widened
        val rev = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("user_id"))
          .agg((F.sum(F.floor(F.col("value").cast("double") *
              F.lit(1048576.0d) + F.lit(0.5d)).cast("long")).cast("double") /
            F.lit(1048576.0d)).as("revenue"))
          .select(F.when(F.col("user_id") % 3 === 0, "A")
            .when(F.col("user_id") % 3 === 1, "B").otherwise("C")
            .as("variant"), F.col("revenue"))
        graft.pipeline.Report.anovaF(rev, "variant", "revenue").count()
      }),
      ("survival", 100, { e =>
        // per-user keyed agg (linear, one shuffle) → the bounded
        // duration grid; folds are grid-sized, constant as users grow
        val per = e.where(F.col("user_id").isNotNull && F.col("ts").isNotNull)
          .groupBy(F.col("user_id"))
          .agg((F.unix_date(F.max(F.to_date(F.col("ts")))).cast("long") -
            F.unix_date(F.min(F.to_date(F.col("ts")))).cast("long"))
            .as("duration"),
            F.max(F.when(F.col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("event"))
        graft.pipeline.Survival.kaplanMeier(per, "duration", "event").count() +
          graft.pipeline.Survival.logRank(
            per.withColumn("cohort",
              F.when(F.col("user_id") % 2 === 0, "A").otherwise("B")),
            "duration", "event", "cohort").count()
      }),
      ("mannkendall", 100, { e =>
        // corpus → daily grid (linear keyed agg); the quadratic pair
        // join runs on the BOUNDED grid (30 days/group — constant)
        val daily = e.where(F.col("event_type").isNotNull &&
            F.col("ts").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("event_type").as("etype"),
            F.unix_date(F.to_date(F.col("ts"))).cast("long").as("day_num"))
          .agg(F.sum(F.floor(F.col("value").cast("double") *
            F.lit(1048576.0d) + F.lit(0.5d)).cast("long"))
            .cast("double").as("rev"))
        graft.pipeline.Trend.mannKendall(daily, "etype", "day_num", "rev")
          .count() +
          graft.pipeline.Trend.theilSen(daily, "etype", "day_num", "rev")
            .count() +
          // the parametric face shares the grid: one keyed 6-sum pass
          graft.pipeline.Trend.olsByGroup(daily, "etype", "day_num", "rev")
            .count()
      }),
      ("holtwinters", 100, { e =>
        // the holt/acf grid shape + the rotating-list fold: corpus →
        // bounded daily grid in one keyed agg, recursion grid-sized
        val daily = e.where(F.col("event_type").isNotNull &&
            F.col("ts").isNotNull)
          .groupBy(F.col("event_type").as("etype"),
            F.unix_date(F.to_date(F.col("ts"))).cast("long").as("day_num"))
          .agg(F.count(F.lit(1)).cast("double").as("cnt"))
        graft.pipeline.Trend.holtWinters(daily, "etype", "day_num",
          "cnt", alpha = 0.4d, beta = 0.2d, gamma = 0.3d, period = 7,
          horizon = 7).count()
      }),
      ("isotonic", 100, { e =>
        // one linear binning agg; the O(bins^3) minimax runs on the
        // bounded grid — constant as rows grow
        val src = e.where(F.col("user_id").isNotNull &&
            F.col("event_type").isNotNull)
          .select(((F.col("user_id") % 97L).cast("double") / F.lit(97.0d))
              .as("score"),
            F.when(F.col("event_type") === "purchase", 1).otherwise(0)
              .as("label"))
        graft.pipeline.QualityModel.isotonicCalibration(
          src, "score", "label", bins = 20).count()
      }),
      ("mahalanobis", 100, { e =>
        // one keyed per-user agg (linear) + a 1-row broadcast + a
        // row-local distance projection + distributed top-k
        val per = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("user_id"))
          .agg(F.count(F.lit(1)).cast("double").as("n_events"),
            (F.sum(F.floor(F.col("value").cast("double") *
                F.lit(1048576.0d) + F.lit(0.5d)).cast("long")).cast("double") /
              F.lit(1048576.0d)).as("revenue"))
        graft.pipeline.Report.mahalanobisOutliers2(per, "user_id",
          "n_events", "revenue", k = 20).count()
      }),
      ("rankeval", 100, { e =>
        // linear keyed agg → per-query windowed top-k (queries
        // partition; WindowGroupLimit prunes map-side) → k-bounded folds
        import org.apache.spark.sql.expressions.Window
        val perUser = e.where(F.col("event_type").isNotNull &&
            F.col("user_id").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("event_type").as("q"), F.col("user_id"))
          .agg(F.sum(F.floor(F.col("value").cast("double") *
            F.lit(1048576.0d) + F.lit(0.5d)).cast("long")).as("rev"))
        val w = Window.partitionBy(F.col("q"))
          .orderBy(F.col("rev").desc, F.col("user_id").asc)
        val top = perUser
          .withColumn("pos", F.row_number().over(w).cast("long"))
          .where(F.col("pos") <= 10L)
          .select(F.col("q"), F.col("pos"), (F.col("user_id") % 3L).as("rel"))
        graft.pipeline.Retrieval.rankEval(top, "q", "pos", "rel", 10).count()
      }),
      ("acf", 100, { e =>
        // linear daily agg + group-partitioned lag windows on the grid
        val daily = e.where(F.col("event_type").isNotNull &&
            F.col("ts").isNotNull && F.col("value").isNotNull)
          .groupBy(F.col("event_type").as("etype"),
            F.unix_date(F.to_date(F.col("ts"))).cast("long").as("day_num"))
          .agg(F.sum(F.floor(F.col("value").cast("double") *
            F.lit(64.0d) + F.lit(0.5d)).cast("long")).as("rev"))
        graft.pipeline.Trend.acf(daily, "etype", "day_num", "rev", 5).count()
      }),
      ("cusum", 100, { e =>
        // one day-keyed count shuffle; the clamped prefix folds run on
        // the bounded day grid (constant as rows grow)
        graft.pipeline.Report.cusumDaily(e, "ts", slack = 2.0).count()
      }),
      ("ewma_state", 100, { e =>
        // keyed online EWMA (batch face of the streaming op): one
        // groupByKey exchange, per-key fold, state 2 numbers/key
        // (seq from the timestamp — the scaled relation carries no id)
        import e.sparkSession.implicits._
        val ds = e.where(F.col("user_id").isNotNull && F.col("value").isNotNull)
          .select(F.col("user_id").cast("string"),
            F.unix_micros(F.col("ts")).as("seq"),
            F.col("value").cast("double"))
          .as[(String, Long, Double)]
        graft.streaming.Streams.statefulEwma(ds, alpha = 0.25).count()
      }),
      ("resample", 100, { e =>
        graft.operators.SeriesOps.resample(
          e.withColumn("v", F.floor(F.col("value")).cast("long")), "ts", "v",
          21600L, Seq("event_type"), locf = true).count()
      }))

    // embedding-side ops scale over a self-unioned embeddings table
    // (queries stay the constant-size base slice)
    val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")
    def scaledEmb(n: Int): DataFrame =
      (0 until n).map { i =>
        embBase.select((F.col("vec_id") + F.lit(i.toLong * 1000000L)).as("vec_id"),
          F.col("embedding"))
      }.reduce(_ union _)
    val embQ = embBase.where(F.col("vec_id") < 5)
    val embOps: Seq[(String, Int, DataFrame => Long)] = Seq(
      ("ann_sq8", 100, { e =>
        // range training (one agg) + asymmetric scan: both linear passes
        val p = graft.pipeline.Quantize.trainSq8(e, "embedding")
        graft.pipeline.Quantize.sq8TopK(e, embQ,
          "vec_id", "embedding", "vec_id", 10, p).count()
      }),
      ("ann_filtered", 100, { e =>
        // IVF probe with a 10% metadata pre-filter: the semi-join runs
        // on the probed lists only; candidate work DROPS vs unfiltered
        val idx = graft.pipeline.Ivf.build(e, "vec_id", "embedding",
          k = 16, iters = 1)
        graft.pipeline.Ivf.topKFiltered(idx, embQ, "vec_id", "embedding",
          k = 10, allowed = e.where(F.col("vec_id") % 10 === 0),
          allowedIdCol = "vec_id", nprobe = 4).count()
      }),
      ("jl_project", 100, { e =>
        // row-local codegen projection: zero shuffles, linear
        graft.pipeline.Similarity.randomProjection(e, "embedding", "proj",
          64, 16).where(F.element_at(F.col("proj"), 1) > 0).count()
      }),
      ("pca", 100, { e =>
        // 1 means pass + 2 power-iteration aggs (each n·d work, one
        // map-side-combined shuffle of d decimal sums) + the scoring scan
        val m = graft.pipeline.Pca.fit(e, "embedding", 64, iters = 2)
        graft.pipeline.Pca.score(e, "vec_id", "embedding", m)
          .where(F.col("score") > 0.0).count()
      }),
      ("pca_topk", 100, { e0 =>
        // fitK k=3 (1 means pass + 3×2 power-iteration aggs with 0-2
        // staged prior projections) + the row-local residual scan. The
        // synthetic input round-trips through parquet first: a row-based
        // (union/ExistingRDD) input fuses its whole consume chain into
        // the 64-decimal-sum agg's doAggregateWithoutKey and blows the
        // JVM's 64 KB method limit (interpreted fallback — a probe-input
        // artifact; the columnar parquet path, which is how a real
        // corpus arrives, compiles clean on both the old and staged
        // formulations). The linear write is included in the timing.
        val tmp = java.nio.file.Files.createTempDirectory("graft-pcak").toString
        e0.write.mode("overwrite").parquet(tmp)
        val ss = e0.sparkSession
        val e = ss.read.parquet(tmp)
        val ms = graft.pipeline.Pca.fitK(e, "embedding", 64, k = 3, iters = 2)
        // action = parquet write, the gate's shape: a count-agg fused
        // directly over the 64-residual projection inlines the whole
        // chain into doAggregateWithoutKey and crosses the 64 KB codegen
        // method limit (interpreted fallback whose Janino attempt alone
        // costs ~60 s) — the write path lets the projection split
        // per-expression and compile
        val out = java.nio.file.Files.createTempDirectory("graft-pcao").toString
        graft.pipeline.Pca.reconstructionError(e, "vec_id", "embedding", ms)
          .write.mode("overwrite").parquet(out)
        ss.read.parquet(out).count()
      }),
      ("ann_ivfpq", 100, { e =>
        // IVF build + PQ train + encode + routed ADC search — the encode
        // pass dominates and is linear; search reads nprobe/k of the codes
        val idx = graft.pipeline.Ivf.build(e, "vec_id", "embedding", k = 16, iters = 1)
        val cb = graft.pipeline.Quantize.trainPq(e, "vec_id", "embedding",
          m = 16, ks = 64, iters = 1)
        val enc = graft.pipeline.Quantize.encodePqWithCells(idx, cb)
        graft.pipeline.Quantize.ivfPqTopK(idx, enc, embQ,
          "vec_id", "embedding", 10, 4, cb).count()
      }),
      ("ann_ivfpq_filt", 100, { e =>
        // filtered IVF-PQ probe: the 10% allowed-id semi-join lands on
        // the probed code lists pre-ADC — candidate work DROPS vs the
        // unfiltered probe (build+encode dominate, both linear)
        val idx = graft.pipeline.Ivf.build(e, "vec_id", "embedding", k = 16, iters = 1)
        val cb = graft.pipeline.Quantize.trainPq(e, "vec_id", "embedding",
          m = 16, ks = 64, iters = 1)
        val enc = graft.pipeline.Quantize.encodePqWithCells(idx, cb)
        graft.pipeline.Quantize.ivfPqTopKFiltered(idx, enc, embQ,
          "vec_id", "embedding", 10, 4, cb,
          allowed = e.where(F.col("vec_id") % 10 === 0),
          allowedIdCol = "vec_id").count()
      }),
      ("semantic_grp", 30, { e =>
        // within-group SemDeDup: the (cluster, group) key confines pair
        // work to same-copy cells — self-unioned copies are IDENTICAL
        // vectors, so the UNGROUPED face would pair every copy with
        // every other (quadratic output); the grouped face's per-cell
        // fan-out stays bounded by the base cluster size. AutoK keeps
        // Σ|cell|² ~ linear as copies grow
        graft.pipeline.SemDedup.pairsGrouped(
          e.withColumn("grp", F.floor(F.col("vec_id") / 1000000L)),
          "vec_id", "embedding", "grp", threshold = 0.99).count()
      }))

    println(f"${"op"}%-14s ${"x1(5k)"}%10s ${"x10(50k)"}%10s ${"xBIG"}%10s  growth10 growthBIG")
    for ((ops, scale) <- Seq((ops0, scaled _), (evOps, scaledEv _),
        (embOps, scaledEmb _)); (name, big, op) <- ops
        if opFilter.isEmpty || opFilter(name)) {
      // warm-up at x1, then measure
      op(scale(1))
      val (t1, _) = time(op(scale(1)))
      val (t10, _) = time(op(scale(10)))
      val (tBig, nBig) = time(op(scale(big)))
      println(f"$name%-14s $t1%9.2fs $t10%9.2fs $tBig%9.2fs  ${t10 / t1}%7.1fx ${tBig / t1}%8.1fx   (big=x$big rows=$nBig)")
    }
    spark.stop()
  }
}
