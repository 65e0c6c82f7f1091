package graft.tools

import org.apache.spark.sql.{DataFrame, functions => F}

/** Local profiling aid for the optimization rounds: times named phases of
  * the expensive gates in isolation (noop-style count actions) so plan
  * changes can be attributed to the right stage. Never part of the driver
  * contract; output is human-oriented.
  */
object OptProfile {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[prof] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.td.session(s"local[$cpus]", cpus.toInt)
    // warm-up
    spark.range(1000000L).selectExpr("id % 10 as k", "id").groupBy("k").count().count()

    val which = if (args.nonEmpty) args(0) else "ivfpq"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    which match {
      case "ivfpq" =>
        for (rep <- 1 to 2) {
          println(s"--- rep $rep ---")
          val idx = time("ivf.build k=8 iters=2") {
            graft.pipeline.Ivf.build(emb, "vec_id", "embedding", k = 8, iters = 2)
          }
          val cb = time("trainPq m=16 ks=128 iters=2") {
            graft.pipeline.Quantize.trainPq(emb, "vec_id", "embedding", m = 16, ks = 128, iters = 2)
          }
          val enc = graft.pipeline.Quantize.encodePqWithCells(idx, cb)
          time("encodePqWithCells count") { enc.count() }
          val res = graft.pipeline.Quantize.ivfPqTopK(idx, enc,
            emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
            k = 10, nprobe = 3, cb).orderBy("query_id", "rank")
          time("ivfPqTopK count") { res.count() }
        }
      case "pq_exact" =>
        for (rep <- 1 to 2) {
          println(s"--- rep $rep ---")
          val n = time("count corpus") { emb.count().toInt }
          val cb = time("trainPq m=1 ks=N iters=0") {
            graft.pipeline.Quantize.trainPq(emb, "vec_id", "embedding", m = 1, ks = n, iters = 0)
          }
          val enc = graft.pipeline.Quantize.encodePq(emb, "vec_id", "embedding", cb)
          time("encodePq count") { enc.count() }
          val res = graft.pipeline.Quantize.pqTopK(enc, emb.filter(F.col("vec_id") < 5),
            "vec_id", "embedding", k = 10, cb).orderBy("query_id", "rank")
          time("pqTopK count") { res.count() }
        }
      case "trainpq" =>
        import org.apache.spark.sql.types._
        val (m, ks, iters) = (16, 128, 2)
        val dim = time("dim head") { emb.select(F.size(F.col("embedding"))).head().getInt(0) }
        val dsub = dim / m
        val seeds = time("seeds collect") {
          emb.orderBy("vec_id").limit(ks)
            .select(F.col("embedding").cast(ArrayType(DoubleType))).collect()
            .map(_.getSeq[Double](0).toArray)
        }
        var centroids: Array[Array[Array[Double]]] =
          Array.tabulate(m, ks)((s, c) => seeds(c).slice(s * dsub, (s + 1) * dsub))
        for (it <- 0 until iters + 2) {
          val means = time(s"means job iter$it") {
            emb
              .select(graft.expressions.PqKernels.assign(
                  F.col("embedding").cast(ArrayType(DoubleType)), centroids).as("codes"),
                F.posexplode(F.col("embedding").cast(ArrayType(DoubleType))).as(Seq("i", "x")))
              .select(
                (F.col("i") / dsub).cast(IntegerType).as("sub"),
                (F.col("i") % dsub).as("dim"),
                F.col("x"), F.col("codes"))
              .withColumn("code", F.element_at(F.col("codes"), F.col("sub") + 1))
              .groupBy("sub", "code", "dim")
              .agg(F.avg("x").as("mean"))
              .collect()
          }
          println(s"[prof] means rows ${means.length}")
        }
        // hypothesis splits
        for (it <- 0 until 2) {
          time(s"explode+avg only iter$it") {
            emb.select(
                F.posexplode(F.col("embedding").cast(ArrayType(DoubleType))).as(Seq("i", "x")))
              .select((F.col("i") / dsub).cast(IntegerType).as("sub"),
                (F.col("i") % dsub).as("dim"), F.col("x"))
              .groupBy("sub", "dim").agg(F.avg("x")).collect()
          }
          time(s"kernel-below-generate iter$it") {
            emb
              .select(graft.expressions.PqKernels.assign(
                  F.col("embedding").cast(ArrayType(DoubleType)), centroids).as("codes"),
                F.col("embedding").cast(ArrayType(DoubleType)).as("v"))
              .select(F.col("codes"), F.posexplode(F.col("v")).as(Seq("i", "x")))
              .select(
                (F.col("i") / dsub).cast(IntegerType).as("sub"),
                (F.col("i") % dsub).as("dim"),
                F.col("x"), F.col("codes"))
              .withColumn("code", F.element_at(F.col("codes"), F.col("sub") + 1))
              .groupBy("sub", "code", "dim")
              .agg(F.avg("x").as("mean"))
              .collect()
          }
          time(s"kernel only count iter$it") {
            emb.select(graft.expressions.PqKernels.assign(
                F.col("embedding").cast(ArrayType(DoubleType)), centroids).as("codes"))
              .selectExpr("sum(size(codes))").collect()
          }
        }
      case "pca" =>
        import org.apache.spark.sql.types._
        val dim = 64
        for (rep <- 1 to 2) {
          println(s"--- rep $rep ---")
          val (n, means) = time("colMeans") {
            graft.pipeline.Pca.colMeans(emb, "embedding", dim)
          }
          val m = time("fit iters=3 (incl colMeans)") {
            graft.pipeline.Pca.fit(emb, "embedding", dim, iters = 3)
          }
          // identical-plan repeat: same literals → codegen cache hit
          time("fit iters=3 again (same literals)") {
            graft.pipeline.Pca.fit(emb, "embedding", dim, iters = 3)
          }
          println(s"[prof] n=$n lambda=${m.lambda}")
          // one iteration job: same DataFrame head()'d twice — planning
          // amortized on the 2nd call, execution isolated
          val base = emb.where(F.col("embedding").isNotNull)
            .select(F.col("embedding").as("td_e"))
          val v = Array.fill(dim)(1.0d / math.sqrt(dim.toDouble))
          val cd = (1 to dim).foldLeft(F.lit(0.0d).cast("double")) { (acc, i) =>
            acc + (F.element_at(F.col("td_e"), i).cast("double") -
              F.lit(means(i - 1))) * F.lit(v(i - 1))
          }
          val staged = base.select(F.col("td_e"), cd.as("td_s"))
          val terms = (1 to dim).map { i =>
            F.sum(F.floor((F.element_at(F.col("td_e"), i).cast("double") -
              F.lit(means(i - 1))) * F.col("td_s") *
              F.lit(graft.pipeline.QualityModel.GradScale) + F.lit(0.5d))
              .cast("decimal(38,0)")).as(s"g$i")
          }
          val agg = staged.agg(terms.head, terms.tail: _*)
          time("iter job head 1st (plan+exec)") { agg.head() }
          time("iter job head 2nd (exec only)") { agg.head() }
          time("iter job head 3rd (exec only)") { agg.head() }
          // variant A: 8 decimal terms instead of 64
          val agg8 = staged.agg(terms.head, terms.tail.take(7): _*)
          time("8-term decimal 1st") { agg8.head() }
          time("8-term decimal 2nd") { agg8.head() }
          // variant B: 64 plain double sums (no floor/decimal)
          val termsD = (1 to dim).map { i =>
            F.sum((F.element_at(F.col("td_e"), i).cast("double") -
              F.lit(means(i - 1))) * F.col("td_s")).as(s"g$i")
          }
          val aggD = staged.agg(termsD.head, termsD.tail: _*)
          time("64-term double 1st") { aggD.head() }
          time("64-term double 2nd") { aggD.head() }
          // variant C: 64 decimal terms over a trivial column (no td_s)
          val termsC = (1 to dim).map { i =>
            F.sum(F.floor(F.element_at(F.col("td_e"), i).cast("double") *
              F.lit(graft.pipeline.QualityModel.GradScale) + F.lit(0.5d))
              .cast("decimal(38,0)")).as(s"g$i")
          }
          val aggC = staged.agg(termsC.head, termsC.tail: _*)
          time("64-term decimal no-dot 1st") { aggC.head() }
          time("64-term decimal no-dot 2nd") { aggC.head() }
          val cnt = emb.agg(F.count(F.lit(1)))
          time("count agg 1st") { cnt.head() }
          time("count agg 2nd") { cnt.head() }
          val rng = spark.range(100000L).agg(F.sum("id"))
          time("range sum 1st") { rng.head() }
          time("range sum 2nd") { rng.head() }
          time("iter job collect 1st (plan+exec)") { agg.collect() }
          time("iter job collect 2nd (exec only)") { agg.collect() }
          time("iter job collect 3rd (exec only)") { agg.collect() }
          println("[prof] post-exec WSCG: " +
            agg.queryExecution.executedPlan.toString.contains("WholeStageCodegen"))
          val ep = agg.queryExecution.executedPlan.toString
          println("[prof] agg plan has WholeStageCodegen: " +
            ep.contains("WholeStageCodegen") + "; head:\n" +
            ep.linesIterator.take(8).mkString("\n"))
          // raise maxFields and re-time
          spark.conf.set("spark.sql.codegen.maxFields", "400")
          val agg2 = staged.agg(terms.head, terms.tail: _*)
          time("64-term maxFields=400 1st") { agg2.head() }
          time("64-term maxFields=400 2nd") { agg2.head() }
          println("[prof] maxFields agg plan WSCG: " +
            agg2.queryExecution.executedPlan.toString.contains("WholeStageCodegen"))
          spark.conf.set("spark.sql.codegen.maxFields", "100")
        }
      case "streamfreq" =>
        import graft.pipeline.Sketches
        val ev = graft.queries.Tables.load(spark, sfDir, "events")
        for (rep <- 1 to 2) {
          println(s"--- rep $rep ---")
          val (tmp, schema) = time("stage") {
            graft.streaming.StreamStage.stage(spark, s"$sfDir/events", ev)
          }
          val stream = graft.streaming.Streams.readParquetStream(spark, tmp, schema)
          val cells = graft.streaming.Streams.windowedCms(
            stream, "ts", "user_id", "1 hour", "1 hour", depth = 4, width = 256)
          val sink = time("runToMemory (streaming agg)") {
            graft.streaming.StreamStage.runToMemory(cells, "prof_sf_", "complete")
          }
          val winCells = sink.select(
            F.unix_timestamp(F.col("window.start")).as("hour_epoch"),
            F.col("r"), F.col("b"), F.col("n"))
          println(s"[prof] sink rows ${time("sink count") { winCells.count() }}")
          val merged = Sketches.mergeCmsSketches(Sketches.cellsToCms(
            winCells, depth = 4, width = 256, groupCols = Seq("hour_epoch")))
          val top = ev.groupBy("user_id").agg(F.count(F.lit(1)).as("exact"))
            .orderBy(F.col("exact").desc, F.col("user_id").asc).limit(10)
          val out = Sketches.cmsEstimate(merged, top, "user_id").orderBy("user_id")
          time("post (merge+estimate)") { out.count() }
          val perHour = Sketches.cellsToCms(
            winCells, depth = 4, width = 256, groupCols = Seq("hour_epoch"))
          time("cellsToCms alone") { perHour.count() }
          time("merge alone") { Sketches.mergeCmsSketches(perHour).count() }
          time("top10 alone") {
            ev.groupBy("user_id").agg(F.count(F.lit(1)).as("exact"))
              .orderBy(F.col("exact").desc, F.col("user_id").asc).limit(10).count()
          }
        }
      case "spearman" =>
        import graft.operators.ScalableRank
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        for (rep <- 1 to 2) {
          println(s"--- rep $rep ---")
          val clean = li.where(F.col("l_quantity").isNotNull &&
              F.col("l_extendedprice").isNotNull)
            .select(F.col("l_quantity").cast("double").as("td_x"),
              F.col("l_extendedprice").cast("double").as("td_y"))
          time("clean count") { clean.count() }
          val r1 = ScalableRank.withMinRankAndTies(clean, "td_x", "td_rk", "td_c")
            .withColumn("td_mx",
              (F.lit(2L) * F.col("td_rk") + F.col("td_c") - 1L).cast("double") /
                F.lit(2.0d))
            .drop("td_rk", "td_c")
          time("midrank1 count") { r1.count() }
          val r2 = ScalableRank.withMinRankAndTies(r1, "td_y", "td_rk", "td_c")
            .withColumn("td_my",
              (F.lit(2L) * F.col("td_rk") + F.col("td_c") - 1L).cast("double") /
                F.lit(2.0d))
            .drop("td_rk", "td_c")
          time("midrank2 count") { r2.count() }
          val out = graft.pipeline.Report.spearmanCorr(li, "l_quantity", "l_extendedprice")
          time("full spearman") { out.count() }
        }
      case "streambloom" =>
        // phase split for the streaming sketch gates (VERDICT r17 #5):
        // machinery floor (empty AvailableNow cycle) vs streaming agg vs
        // batch post path
        import graft.pipeline.Sketches
        val ev = graft.queries.Tables.load(spark, sfDir, "events")
        for (rep <- 1 to 2) {
          println(s"--- rep $rep ---")
          val (tmp, schema) = time("stage (cached after rep1)") {
            graft.streaming.StreamStage.stage(spark, s"$sfDir/events", ev)
          }
          time("EMPTY micro-batch cycle (machinery floor)") {
            graft.streaming.StreamStage.runToMemory(
              graft.streaming.Streams.readParquetStream(spark, tmp, schema)
                .where(F.lit(false))
                .groupBy("event_type").agg(F.count(F.lit(1))),
              "prof_empty_", "complete").count()
          }
          val cells = graft.streaming.Streams.windowedBloom(
            graft.streaming.Streams.readParquetStream(spark, tmp, schema),
            "ts", "user_id", "1 hour", "1 hour", 2048, 3)
          val sink = time("windowedBloom streaming agg") {
            graft.streaming.StreamStage.runToMemory(cells, "prof_sb_", "complete")
          }
          val winCells = sink.select(
            F.unix_timestamp(F.col("window.start")).as("hour_epoch"),
            F.col("td_w"), F.col("td_bits"))
          val merged = Sketches.mergeBloomSketches(Sketches.cellsToBloom(
            winCells, 2048, 3, groupCols = Seq("hour_epoch")))
          val present = ev.where(F.col("user_id").isNotNull)
            .select(F.col("user_id").cast("string").as("probe")).distinct()
          val absent = spark.range(50).select(
            F.concat(F.lit("ghost:"), F.col("id").cast("string")).as("probe"))
          val out = Sketches.bloomProbe(merged,
            present.unionByName(absent), "probe").orderBy("probe")
          time("post (cellsToBloom+merge+probe)") { out.count() }
          time("probe side alone (distinct users)") { present.count() }
          // state-partition sensitivity: same agg at 2/8/32 partitions
          for (p <- Seq(2, 8, 32)) {
            val c2 = graft.streaming.Streams.windowedBloom(
              graft.streaming.Streams.readParquetStream(spark, tmp, schema),
              "ts", "user_id", "1 hour", "1 hour", 2048, 3)
            time(s"windowedBloom agg statePartitions=$p") {
              graft.streaming.StreamStage.runToMemory(
                c2, s"prof_sb${p}_", "complete", statePartitions = p).count()
            }
            val cms = graft.streaming.Streams.windowedCms(
              graft.streaming.Streams.readParquetStream(spark, tmp, schema),
              "ts", "user_id", "1 hour", "1 hour", depth = 4, width = 256)
            time(s"windowedCms agg statePartitions=$p") {
              graft.streaming.StreamStage.runToMemory(
                cms, s"prof_sc${p}_", "complete", statePartitions = p).count()
            }
          }
        }
      case "gate" =>
        // time any declared gate end to end, 2 reps
        val name = args(1)
        val fn = graft.SparkEntry.queries(name)
        for (rep <- 1 to 2)
          time(s"$name rep$rep") { fn(spark, sfDir).count() }
      case "jobs" =>
        // deterministic structural profile: Spark job/stage/task counts for
        // one warm run of each named gate (comma-separated). Counts don't
        // jitter like wall-clock on a busy box, so they're the A/B evidence
        // for pass-elimination changes (r18).
        val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val stages = new java.util.concurrent.atomic.AtomicInteger
        val tasks = new java.util.concurrent.atomic.AtomicInteger
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs.incrementAndGet()
            override def onStageCompleted(
                s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              stages.incrementAndGet()
              tasks.addAndGet(s.stageInfo.numTasks)
            }
          })
        names.foreach { name =>
          val fn = graft.SparkEntry.queries(name)
          fn(spark, sfDir).count() // warm (stages parquet, jit)
          Thread.sleep(300)
          jobs.set(0); stages.set(0); tasks.set(0)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(500) // let listener events drain
          println(f"[jobs] $name%-34s jobs=${jobs.get}%4d stages=${stages.get}%4d tasks=${tasks.get}%6d  $dt%7.3f s")
        }
      case _ => sys.error(s"unknown profile: $which")
    }
    spark.stop()
  }
}
