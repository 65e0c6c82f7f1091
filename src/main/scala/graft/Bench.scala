package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = td.session(s"local[$cpus]", cpus.toInt)
    // warm-up: JVM/codegen/parquet-footer costs shouldn't land on the first
    // measured query
    try {
      spark.range(1000000L).selectExpr("id % 10 as k", "id")
        .groupBy("k").count().count()
      SparkEntry.queries.get(Sentinel).foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => }
    // Fixed sorted run order + median of n repeats: round 2 measured a 3.2×
    // swing on an unchanged query because the unordered-Map iteration let
    // run-order/JIT/GC interference land differently between rounds.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    // adjudication aid: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just those
    // gates (isolated quiet re-measure of a flagged regression without
    // the full run's JVM churn). The contract line still prints, but a
    // filtered run is for local forensics — never the driver artifact.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failed = scala.collection.mutable.ArrayBuffer[String]()

    // Contamination sentinel: a fixed cheap query timed once up front and
    // re-timed every ~20 gates. Machine-level interference (another process
    // stealing the cores, as in rounds 4-6 where unchanged queries "regressed"
    // 2-10× on the driver but reproduced clean locally) inflates the re-runs
    // of an UNCHANGED query; a code regression cannot — so sentinel drift
    // >1.5× from its first warm value marks the whole run contaminated, and
    // the contract line says so instead of letting inflated numbers read as
    // regressions.
    val sentinelFn = SparkEntry.queries.get(Sentinel)
    def timeSentinel(): Option[Double] = sentinelFn.flatMap { fn =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
    }
    val sentinelFirst = timeSentinel()
    val sentinelReruns = scala.collection.mutable.ArrayBuffer[Double]()

    val results: Seq[(String, QTime)] = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % SentinelEvery == 0) timeSentinel().foreach(sentinelReruns += _)
      val times = (0 until repeats).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable =>
          if (!failed.contains(name)) failed += name
          None
        }
      }
      val qt =
        if (times.isEmpty) QTime(0.0, 0.0)
        else QTime(times.sorted.apply(times.size / 2), times.min)
      name -> qt
    }
    val sentinelWorst = (sentinelFirst.toSeq ++ sentinelReruns).maxOption
    val interference = (for (f <- sentinelFirst; w <- sentinelWorst)
      yield f > 0 && w / f > SentinelDriftFactor).getOrElse(false)

    // The driver captures only the tail of the process output; a JSON line
    // listing every gate query overflows that buffer and fails to parse
    // (round 1). Report per-query times for a headline subset only and keep
    // the line short; "value" is still the total across ALL gate queries.
    val headline = Seq(
      "q_agg_pricing", "q_join_three_way", "q_join_left", "q_rank_scalable",
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram_jaccard",
      "q_ann_bruteforce", "q_ann_ivf", "q_text_stats", "q_stream_window",
      "q_filter_project", "q_events_json", "q_unique_first",
      "q_concat_vertical", "q_fill_forward",
      "q_dedup_clusters", "q_fuzzy_pairs", "q_decontaminate", "q_data_mix",
      "q_dedup_semantic", "q_dedup_incremental", "q_tpch_q18",
      "q_pack_sequences", "q_dedup_keep_best", "q_stream_enrich",
      "q_quality_unigram_lm",
      // r18: additions-only extension (keeps round-over-round comparability
      // of the 27 originals) so the driver can confirm the r17/r18
      // optimization families per-query — the old span contained none of
      // PQ/PCA/sketch/midrank/store/BM25/contrastive
      "q_ann_ivfpq", "q_pca_topk", "q_stream_freq", "q_corr_spearman",
      "q_quality_lr", "q_dedup_minhash_exact", "q_bm25_incremental",
      "q_version_history", "q_contrastive_pairs")
    val byName = results.toMap
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def span(pick: QTime => Double) = headline
      .flatMap(h => byName.get(h).map(t => s"\"" + h + "\":" + fmt(pick(t))))
      .mkString("{", ",", "}")
    val total = results.map(_._2.median).sum
    val totalMin = results.map(_._2.min).sum
    // local profiling aid: full per-query dump to a file (never stdout,
    // which carries only the contract lines below)
    sys.env.get("SPARK_GRAFT_BENCH_DUMP").foreach { path =>
      val full = results.sortBy(-_._2.median)
        .map { case (k, t) => f""""$k":[${t.median}%.3f,${t.min}%.3f]""" }
        .mkString("{", ",\n ", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), full)
    }
    def names(qs: Iterable[String]) = qs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = names(failed)
    // Burst-adjudicating tripwire: any query whose min exceeds the prior
    // round's is a SUSPECT, re-timed ONCE at the very END of the run (the
    // quietest tail moment — all gates done, sentinel history known). A
    // contamination burst during the main loop can inflate all three
    // repeats of one alphabetical neighborhood while the 20-gate sentinel
    // stays flat (round 11: q_text_stats read 13× slow on untouched code);
    // a code regression reproduces at the tail, a burst does not — so
    // `regressions` lists only END-OF-RUN-CONFIRMED entries and `suspects`
    // records the evidence [prev, now, retime] either way.
    val regressions = adjudicatedRegressions(
      byName.view.mapValues(_.min).toMap,
      q => {
        val t0 = System.nanoTime()
        try { SparkEntry.queries(q)(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      })
    val sentinel = (for (f <- sentinelFirst; w <- sentinelWorst) yield
      s"""{"first":${fmt(f)},"worst":${fmt(w)}}""")
    val sentinelJson = sentinel.map(s => s""""sentinel":$s,""").getOrElse("")
    val totals = s""""metric":"total","value":${fmt(total)},"total_min":${fmt(totalMin)}"""
    println(s"""{$totals,"unit":"sec","n_queries":${results.size},"n_repeats":$repeats,"failed":$failedJson,"interference":$interference,$sentinelJson"queries":${span(_.median)},"queries_min":${span(_.min)},$regressions"sf":"$sfDir"}""")
    // compact summary as the LAST stdout line: the detailed line above no
    // longer fits in a 2,000-character tail of the output, so this one
    // carries the failure count and only the first few failed names
    println(s"""{$totals,"n_queries":${results.size},"n_repeats":$repeats,"n_failed":${failed.size},"failed":${names(failed.take(5))},"interference":$interference,"sentinel":${sentinel.getOrElse("null")}}""")
    spark.stop()
  }

  private final case class QTime(median: Double, min: Double)

  /** The contamination-sentinel query: cheap (≈0.1 s warm), single-shuffle,
    * and code-stable across rounds. Also the warm-up query. */
  private val Sentinel = "q_agg_shortcut_minmax"
  private val SentinelEvery = 20
  private val SentinelDriftFactor = 1.5

  /** A query is suspect when it is both >1.5× and >0.25 s slower than the
    * prior round's min — the absolute floor keeps sub-second jitter out. */
  private[graft] def exceedsPrior(prev: Double, now: Double): Boolean =
    now > prev * 1.5 && now - prev > 0.25

  /** Compare this run's per-query MINIMA against the prior round's, then
    * ADJUDICATE each suspect with one end-of-run retime (`retime` returns
    * the quiet-tail seconds, None on failure → the suspicion stands).
    * Minima, not medians: one-sided CPU contention inflates the median of
    * 3 (rounds 4-6 produced driver-side median "regressions" of 2-10× on
    * unchanged queries) but rarely all three repeats — and when a burst DOES
    * catch all three (round 11), the tail retime refutes it in-artifact
    * instead of costing a manual re-measure. Emits
    * `"regressions_vs":"file","sentinel_prev":s,
    * "suspects":{"q":[prev,now,retime]},
    * "regressions":{confirmed only: [prev,retime]},` — empty objects when
    * clean, empty string when no prior file.
    *
    * `sentinel_prev` (the prior file's first-sentinel seconds, when
    * recorded) is the cross-ROUND ambient anchor: a uniformly slow
    * machine inflates every query AND the sentinel by the same factor —
    * the one contamination shape neither the in-run drift check nor the
    * tail retime can see (both run inside the slow state). Confirmed
    * entries stay raw — same-machine round-over-round comparison is the
    * driver's contract — but the artifact now carries the evidence to
    * adjudicate a cross-machine or whole-run-ambient skew at a glance
    * (this round: a local replay read sentinel 0.795 vs the r11 driver's
    * 0.322 with a flat ~1.45× median ratio across all headline queries —
    * machine state, not code). */
  private[graft] def adjudicatedRegressions(now: Map[String, Double],
      retime: String => Option[Double],
      prior: Option[PriorBench] = prevRoundMinima()): String = {
    prior match {
      case None => ""
      case Some(PriorBench(file, prev, sentinelPrev)) =>
        def f3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        val suspects = prev.toSeq.sortBy(_._1).flatMap { case (q, pv) =>
          now.get(q).filter(nv => exceedsPrior(pv, nv)).map { nv =>
            val rt = retime(q).getOrElse(nv)
            (q, pv, nv, rt)
          }
        }
        val suspectsJson = suspects
          .map { case (q, pv, nv, rt) => s""""$q":[${f3(pv)},${f3(nv)},${f3(rt)}]""" }
          .mkString("{", ",", "}")
        val confirmed = suspects.filter { case (_, pv, _, rt) => exceedsPrior(pv, rt) }
          .map { case (q, pv, _, rt) => s""""$q":[${f3(pv)},${f3(rt)}]""" }
          .mkString("{", ",", "}")
        val sentinelPrevJson =
          sentinelPrev.map(s => s""""sentinel_prev":${f3(s)},""").getOrElse("")
        s""""regressions_vs":"$file",$sentinelPrevJson"suspects":$suspectsJson,"regressions":$confirmed,"""
    }
  }

  private[graft] final case class PriorBench(file: String,
      minima: Map[String, Double], sentinelFirst: Option[Double])

  /** The prior round's per-query minima: the newest `BENCH_r*.json` in the
    * working directory (the driver's record of the previous round; override
    * with SPARK_GRAFT_BENCH_PREV), reading its `queries_min` span when
    * present and falling back to `queries` (medians) for pre-r7 files — an
    * upper bound on the prior cost, so the fallback only under-flags. */
  private def prevRoundMinima(): Option[PriorBench] = {
    val prevFile = sys.env.get("SPARK_GRAFT_BENCH_PREV")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        // numeric round order, not lexicographic: r10 must beat r9
        Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .map(_.getName).filter(_.matches("BENCH_r\\d+\\.json"))
          .maxByOption(n => n.replaceAll("\\D", "").toInt)
          .map(java.nio.file.Paths.get(_))
      }
    prevFile.filter(java.nio.file.Files.exists(_)).flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      // the driver file wraps the contract line inside a "tail" string;
      // recover the per-query map from the LAST span of the preferred tag
      def lastSpan(tagName: String): Option[String] = {
        val plain = "\"" + tagName + "\":{"
        val escaped = "\\\"" + tagName + "\\\":{"
        val start = math.max(text.lastIndexOf(plain), text.lastIndexOf(escaped))
        if (start < 0) None
        else Some(text.substring(start, math.min(text.length,
          text.indexOf("}", start).max(start) + 1)))
      }
      lastSpan("queries_min").orElse(lastSpan("queries")).map { span =>
        val m = java.util.regex.Pattern.compile("\"(q_\\w+)\\\\?\":([0-9.]+)").matcher(span)
        val prev = scala.collection.mutable.Map[String, Double]()
        while (m.find()) prev(m.group(1)) = m.group(2).toDouble
        // the prior run's FIRST sentinel value — the cross-round ambient
        // anchor (present from r7 files on)
        val sm = java.util.regex.Pattern
          .compile("\"sentinel\\\\?\":\\{\\\\?\"first\\\\?\":([0-9.]+)")
          .matcher(text)
        var sent: Option[Double] = None
        while (sm.find()) sent = Some(sm.group(1).toDouble)
        PriorBench(p.getFileName.toString, prev.toMap, sent)
      }
    }
  }
}
