package graft

import java.nio.file.Files

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamStage, Streams}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import TestSession.sf

  test("memory-sink hygiene: repeated gate runs hold one sink table, same result") {
    // the bench loop invokes each streaming gate 3×+ per JVM — sink tables
    // must be REPLACED per run (fixed per-prefix name), not accumulated
    // (the old UUID-per-run names leaked one table of rows per invocation)
    def run() = SparkEntry.queries("q_stream_window")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val first = run()
    val second = run()
    val third = run()
    assert(first.nonEmpty && first == second && second == third)
    val sinks = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("q_stream_window_"))
    assert(sinks.toSeq == Seq("q_stream_window__sink"),
      s"expected exactly one sink table, got: ${sinks.mkString(", ")}")
  }

  // Watermarks demand TIMESTAMP (ltz) — the testdata's parquet ts arrives
  // as TIMESTAMP_NTZ; the session tz is UTC so the cast is value-identity.
  private def eventsBatch = graft.queries.Tables.load(spark, sf, "events")
    .withColumn("ts", F.col("ts").cast(org.apache.spark.sql.types.TimestampType))

  test("windowed distribution monitor: streamed bins merge with a batch sketch") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft-stream-dist")
    val batch = eventsBatch
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val dist = Streams.windowedDistribution(
      stream, "ts", "value", "1 hour", "1 hour", 0.0, 512.0, 64)
    val got = StreamStage.runToMemory(dist, "dist_bins", "complete")
      .select(F.unix_timestamp(F.col("window.start")).as("h"), F.col("bin"), F.col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = batch.where(F.col("value").isNotNull)
      .groupBy(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).as("h"),
        graft.pipeline.Report.gridBin(F.col("value").cast("double"), 0.0, 512.0, 64)
          .as("bin"))
      .agg(F.count(F.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expect && got.nonEmpty)
    // the streamed window rows ARE sketches: pivot one window into a
    // stamped counts array and merge it with a batch sketch of the same
    // window's rows — identical counts prove stream/batch interoperability
    val firstHour = got.keys.map(_._1).min
    val winBins = got.collect { case ((h, b), n) if h == firstHour => (b, n) }.toMap
    val counts = (0L to 65L).map(b => winBins.getOrElse(b, 0L))
    val streamedSketch = spark.createDataFrame(
      java.util.List.of(Row(counts, 0.0, 512.0, 64, "linear")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("counts",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, false)),
        org.apache.spark.sql.types.StructField("lo",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("hi",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("bins",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("scale",
          org.apache.spark.sql.types.StringType))))
    val batchSketch = graft.pipeline.Report.quantileSketch(
      batch.where(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) === firstHour),
      "value", 0.0, 512.0, 64)
    val merged = graft.pipeline.Report.mergeQuantileSketches(
        streamedSketch.unionByName(
          batchSketch.select("counts", "lo", "hi", "bins", "scale")))
      .head()
    assert(merged.getSeq[Long](0) == counts.map(_ * 2), "stream+batch merge drifted")
  }

  test("windowed distinct: streamed per-hour HLL == batch, windows union to corpus") {
    val dir = Files.createTempDirectory("graft-stream-wdist")
    val batch = eventsBatch
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val wd = Streams.windowedDistinct(stream, "ts", "user_id", "1 hour", "1 hour")
    val sink = StreamStage.runToMemory(wd, "wdist_hll", "complete")
    // per-hour estimates equal the batch HLL over the same hour slices
    // EXACTLY (same DataSketches algebra, order-insensitive updates)
    val got = sink
      .select(F.unix_timestamp(F.col("window.start")).as("h"), F.col("estimate"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = graft.pipeline.Report.distinctSketch(
        batch.where(F.col("user_id").isNotNull).withColumn("h",
          F.unix_timestamp(F.date_trunc("hour", F.col("ts")))), "h", "user_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expect && got.nonEmpty)
    // ...and the per-window binary sketches union to the whole-corpus
    // estimate with no rescan — live windows join batch history
    val unioned = graft.pipeline.Report.mergeDistinctSketches(
      sink.select("sketch"))
    val whole = batch
      .agg(F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))"))
      .head().getLong(0)
    assert(unioned == whole, s"union $unioned vs whole $whole")
  }

  test("windowed KMV: streamed == batch per hour, windows merge to corpus") {
    val dir = Files.createTempDirectory("graft-stream-wkmv")
    val batch = eventsBatch
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val wk = Streams.windowedKmv(stream, "ts", "user_id", "1 hour",
      "1 hour", k = 8)
    val sink = StreamStage.runToMemory(wk, "wkmv", "complete")
    // determinism: every streamed window's entry list equals the batch
    // bottom-8 of that hour's rows BIT-exactly
    val got = sink
      .select(F.unix_timestamp(F.col("window.start")).as("h"),
        F.col("entries"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e =>
          (e.getString(0), e.getString(1))))
      .toMap
    val hourly = batch.withColumn("h",
      F.unix_timestamp(F.date_trunc("hour", F.col("ts"))))
    val expect = graft.pipeline.Sketches.kmvSketch(
        hourly, "user_id", 8, groupCol = Some("h"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e =>
          (e.getString(0), e.getString(1))))
      .toMap
    assert(got == expect && got.nonEmpty)
    // mergeability through time: the union of the window sketches is the
    // whole-corpus sketch (any global bottom-k hash ranks in the top-k
    // of its own window)
    val merged = graft.pipeline.Sketches.mergeKmvSketches(
      sink.select("entries", "k"))
    val whole = graft.pipeline.Sketches.kmvSketch(batch, "user_id", 8)
    assert(merged.collect().toSeq == whole.collect().toSeq)
  }

  test("windowed Bloom: streamed words == batch per hour, windows OR to corpus") {
    val dir = Files.createTempDirectory("graft-stream-wbloom")
    val batch = eventsBatch
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val (m, k) = (1024, 3)
    val wb = Streams.windowedBloom(stream, "ts", "user_id", "1 hour",
      "1 hour", m, k)
    val sink = StreamStage.runToMemory(wb, "wbloom", "complete")
    // per-hour determinism: the streamed sparse words assemble into the
    // exact batch filter of that hour's rows
    val hCol = F.unix_timestamp(F.col("window.start")).as("h")
    val streamedPerHour = graft.pipeline.Sketches.cellsToBloom(
      sink.select(hCol, F.col("td_w"), F.col("td_bits")),
      m, k, groupCols = Seq("h"))
    val hourly = batch.withColumn("h",
      F.unix_timestamp(F.date_trunc("hour", F.col("ts"))))
    val batchPerHour = graft.pipeline.Sketches.bloomSketch(
      hourly, "user_id", m, k, groupCols = Seq("h"))
    assert(streamedPerHour.orderBy("h").collect().toSeq
      == batchPerHour.orderBy("h").collect().toSeq)
    assert(streamedPerHour.count() > 1)
    // OR across the windows == the whole-corpus filter, so probes read
    // the identical member bit from live state and batch history
    val merged = graft.pipeline.Sketches.mergeBloomSketches(
      streamedPerHour.drop("h"))
    val whole = graft.pipeline.Sketches.bloomSketch(batch, "user_id", m, k)
    assert(merged.collect().toSeq == whole.collect().toSeq)
  }

  test("windowed confusion: streamed P/R per hour equals batch prAtThreshold") {
    val dir = Files.createTempDirectory("graft-stream-wcm")
    val batch = eventsBatch
      .withColumn("td_score", F.col("value").cast("double") / 512.0d)
      .withColumn("td_label",
        F.when((F.col("user_id") % 2) === 0, 1).otherwise(0))
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val cm = Streams.windowedConfusion(stream, "ts", "td_score", "td_label",
      "1 hour", "1 hour", 0.4)
    val got = StreamStage.runToMemory(cm, "wcm", "complete")
      .select(F.unix_timestamp(F.col("window.start")).as("h"),
        F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn"),
        F.col("precision"), F.col("recall"), F.col("f1"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got.size > 1)
    got.keys.foreach { h =>
      val slice = batch.where(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) === h)
      val exp = graft.pipeline.QualityModel.prAtThreshold(
        slice, "td_score", "td_label", 0.4).collect().head.toSeq
      assert(got(h) == exp, s"hour $h")
    }
  }

  test("windowed calibration: streamed per-hour bins equal batch calibration") {
    val dir = Files.createTempDirectory("graft-stream-wcal")
    val batch = eventsBatch
      .withColumn("td_score", F.col("value").cast("double") / 512.0d)
      .withColumn("td_label",
        F.when((F.col("user_id") % 2) === 0, 1).otherwise(0))
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val cal = Streams.windowedCalibration(stream, "ts", "td_score",
      "td_label", "1 hour", "1 hour", bins = 10)
    val got = StreamStage.runToMemory(cal, "wcal", "complete")
      .select(F.unix_timestamp(F.col("window.start")).as("h"),
        F.col("bin"), F.col("n"), F.col("n_pos"),
        F.col("frac_pos"), F.col("mean_score"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => r.toSeq.tail).toSet).toMap
    assert(got.size > 1)
    got.keys.foreach { h =>
      val slice = batch.where(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) === h)
      val exp = graft.pipeline.QualityModel.calibration(
          slice, "td_score", "td_label", 10)
        .collect().map(_.toSeq).toSet
      assert(got(h) == exp, s"hour $h")
    }
  }

  test("windowed moments: streamed sketch rows merge with batch bit-exactly") {
    val dir = Files.createTempDirectory("graft-stream-wmom")
    val batch = eventsBatch
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val wm = Streams.windowedMoments(stream, "ts", "value", "1 hour", "1 hour")
    val sink = StreamStage.runToMemory(wm, "wmom", "complete")
    // the streamed window rows ARE batch-encoding sketch rows: merging
    // them all equals the whole-corpus batch sketch bit-exactly
    val mergedAll = graft.pipeline.Report.mergeMomentSketches(
      sink.drop("window")).head()
    val whole = graft.pipeline.Report.momentSketch(batch, "value").head()
    assert(mergedAll.toSeq == whole.toSeq,
      s"streamed-union vs batch: $mergedAll vs $whole")
  }

  test("windowed quantile sketch: multi-micro-batch windows roll up " +
    "bit-equal to the batch log sketch") {
    val dir = Files.createTempDirectory("graft-stream-wqs")
    val batch = eventsBatch
    // 8 files + maxFilesPerTrigger=1 force the cells out of MANY
    // micro-batches' window state, not single-batch co-presence
    batch.repartition(8).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema,
      maxFilesPerTrigger = 1)
    val cells = Streams.windowedQuantileSketch(
      stream, "ts", "value", "1 hour", "1 hour", 1.0, 1024.0, 64,
      scale = "log")
    val rows = StreamStage.runToMemory(cells, "wqs", "complete")
      .select(F.unix_timestamp(F.col("window.start")).as("h"),
        F.col("bin"), F.col("n"))
    val perWindow = graft.pipeline.Report.binsToSketch(rows,
      java.lang.Math.log(1.0), java.lang.Math.log(1024.0), 64,
      groupCols = Seq("h"), scale = "log")
    assert(perWindow.count() > 1, "expected multiple windows")
    val merged = graft.pipeline.Report.mergeQuantileSketches(perWindow)
      .head()
    val whole = graft.pipeline.Report.logQuantileSketch(
      batch, "value", 1.0, 1024.0, 64).head()
    assert(merged.getSeq[Long](0) == whole.getSeq[Long](0),
      "streamed-window rollup diverged from the batch sketch cells")
    assert(merged.toSeq.tail == whole.toSeq.tail, "stamp/n diverged")
    // the linear face shares the cell contract too
    val linCells = Streams.windowedQuantileSketch(
      Streams.readParquetStream(spark, dir.toString, schema),
      "ts", "value", "1 hour", "1 hour", 0.0, 512.0, 64)
    val sink2 = StreamStage.runToMemory(linCells, "wqs_lin", "complete")
    val linMerged = graft.pipeline.Report.mergeQuantileSketches(
      graft.pipeline.Report.binsToSketch(
        sink2
          .select(F.unix_timestamp(F.col("window.start")).as("h"),
            F.col("bin"), F.col("n")),
        0.0, 512.0, 64, groupCols = Seq("h"))).head()
    val linWhole = graft.pipeline.Report.quantileSketch(
      batch, "value", 0.0, 512.0, 64).head()
    assert(linMerged.getSeq[Long](0) == linWhole.getSeq[Long](0))
  }

  test("windowed streaming agg matches the batch computation") {
    val dir = Files.createTempDirectory("graft-stream-in")
    val batch = eventsBatch
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema

    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val agg = Streams.windowedAgg(stream, "ts", "value",
      "1 hour", "1 hour", "10 minutes", "event_type")
    val sink = StreamStage.runToMemory(agg, "win_counts", "append")

    val got = sink
      .select(F.col("window.start").as("ws"), F.col("event_type"), F.col("n"))
    val expected = batch
      .groupBy(F.window(F.col("ts"), "1 hour").as("window"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"))
      .select(F.col("window.start").as("ws"), F.col("event_type"), F.col("n"))
    // watermark may hold back the tail window in append mode; everything
    // emitted must match the batch result exactly
    val gotRows = got.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val expRows = expected.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(gotRows.nonEmpty)
    assert(gotRows.subsetOf(expRows))
  }

  test("stream-stream interval join across micro-batches equals the batch join") {
    // clicks and their views land in DIFFERENT micro-batches (many files,
    // maxFilesPerTrigger=1), so matches must come out of buffered join
    // state, not single-batch co-presence
    val dir = Files.createTempDirectory("graft-ssj-in")
    val batch = eventsBatch.limit(2000).cache()
    batch.repartition(8).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    def side(tpe: String, u: String, ts: String, id: String) =
      Streams.readParquetStream(spark, dir.toString, schema, maxFilesPerTrigger = 1)
        .where(F.col("event_type") === tpe)
        .select(F.col("user_id").as(u), F.col("ts").as(ts), F.col("event_id").as(id))
    val j = Streams.intervalJoin(
      side("click", "c_user", "c_ts", "click_id"),
      side("view", "v_user", "v_ts", "view_id"),
      F.col("c_user") === F.col("v_user"),
      "c_ts", "v_ts", before = "12 HOURS", after = "0 SECONDS",
      watermark = "60 days")
    val got = StreamStage.runToMemory(j.select("click_id", "view_id"), "ssj_out", "append").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = batch.where(F.col("event_type") === "click")
      .select(F.col("user_id").as("u"), F.col("ts").as("cts"), F.col("event_id").as("cid"))
      .join(batch.where(F.col("event_type") === "view")
          .select(F.col("user_id").as("u"), F.col("ts").as("vts"), F.col("event_id").as("vid")),
        Seq("u"))
      .where(F.col("vts") >= F.col("cts") - F.expr("INTERVAL 12 HOURS") &&
        F.col("vts") <= F.col("cts"))
      .select("cid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exp.nonEmpty)
    assert(got == exp, s"stream ${got.size} vs batch ${exp.size}")
  }

  test("outer stream-stream interval join: watermark-finalized null matches equal batch") {
    import spark.implicits._
    // Null-match emission is the subtle case: an unmatched row may only be
    // emitted once the watermark proves no future partner can arrive. A
    // far-future "pusher" row on each side (arriving in a LATER micro-batch
    // via mtime ordering) advances the watermark past every data row; the
    // pushers themselves are never finalized and are excluded from both
    // sides of the differential.
    val base = 1700000000000L
    def ts(h: Double) = new java.sql.Timestamp(base + (h * 3600000L).toLong)
    def writeDf(dir: java.nio.file.Path, df: org.apache.spark.sql.DataFrame,
        name: String, mtime: Long): Unit = {
      val stage = Files.createTempDirectory("graft-oij-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
      val dst = dir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    // clicks: users 1..6 at hours 1..6; views: users 1..3 five minutes
    // before their click (inside [c_ts−12h, c_ts]) + an unmatched user 7
    val clicks = (1 to 6).map(i => (i.toLong, ts(i), 100L + i))
      .toDF("c_user", "c_ts", "click_id")
    val views = ((1 to 3).map(i => (i.toLong, ts(i - 1.0 / 12), 200L + i)) :+
      (7L, ts(2), 207L)).toDF("v_user", "v_ts", "view_id")
    val clickPush = Seq((99L, ts(100), 999L)).toDF("c_user", "c_ts", "click_id")
    val viewPush = Seq((98L, ts(100), 998L)).toDF("v_user", "v_ts", "view_id")
    def results(joinType: String): Set[(Option[Long], Option[Long])] = {
      val cDir = Files.createTempDirectory(s"graft-oij-c-$joinType")
      val vDir = Files.createTempDirectory(s"graft-oij-v-$joinType")
      writeDf(cDir, clicks, "b0.parquet", 1700000000000L)
      writeDf(vDir, views, "b0.parquet", 1700000000000L)
      writeDf(cDir, clickPush, "b1.parquet", 1700000060000L)
      writeDf(vDir, viewPush, "b1.parquet", 1700000060000L)
      val j = Streams.intervalJoin(
        Streams.readParquetStream(spark, cDir.toString, clicks.schema, maxFilesPerTrigger = 1),
        Streams.readParquetStream(spark, vDir.toString, views.schema, maxFilesPerTrigger = 1),
        F.col("c_user") === F.col("v_user"),
        "c_ts", "v_ts", before = "12 HOURS", after = "0 SECONDS",
        watermark = "1 minute", joinType = joinType)
      val sink = StreamStage.runToMemory(j.select("click_id", "view_id"), s"oij_$joinType", "append")
      sink.collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          Option(r.get(1)).map(_.asInstanceOf[Long])))
        .filter(p => !p._1.contains(999L) && !p._2.contains(998L)).toSet
    }
    def batchExp(joinType: String): Set[(Option[Long], Option[Long])] =
      clicks.join(views,
          F.col("c_user") === F.col("v_user") &&
            F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 12 HOURS") &&
            F.col("v_ts") <= F.col("c_ts"), joinType)
        .select("click_id", "view_id").collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet
    val lo = results("left_outer")
    assert(lo == batchExp("left_outer"), s"left_outer: $lo")
    // matched 1..3 plus null-view rows for 4..6 — both shapes present
    assert(lo.count(_._2.isEmpty) == 3 && lo.count(_._2.nonEmpty) == 3)
    val fo = results("full_outer")
    assert(fo == batchExp("full_outer"), s"full_outer: $fo")
    // full outer additionally finalizes the unmatched view (user 7)
    assert(fo.contains((None, Some(207L))), s"full_outer missing null-left row: $fo")
  }

  test("streaming sessionization matches the batch session_window computation") {
    val dir = Files.createTempDirectory("graft-stream-sess")
    val batch = eventsBatch.select("user_id", "ts")
    batch.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema

    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val sess = Streams.sessionAgg(stream, "ts", "30 minutes", "1 hour", "user_id")
    val sink = StreamStage.runToMemory(sess, "sess_stream", "append")

    val expected = batch
      .groupBy(F.col("user_id"), F.session_window(F.col("ts"), "30 minutes"))
      .agg(F.count(F.lit(1)).as("n_events"), F.max("ts").as("last_ts"))
      .select(F.col("user_id"), F.col("session_window.start").as("session_start"),
        F.col("last_ts"), F.col("n_events"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val got = rows(sink)
    val exp = rows(expected)
    // append mode finalizes sessions as the watermark passes; everything
    // emitted must be a batch session, and nearly all sessions must emit
    // (only sessions ending within the final watermark delay are held back)
    assert(got.nonEmpty)
    assert(got.subsetOf(exp))
    assert(got.size >= (exp.size * 9) / 10, s"${got.size} of ${exp.size} emitted")
  }

  test("store table versions stream as micro-batches") {
    val store = new graft.store.TableStore(
      java.nio.file.Files.createTempDirectory("graft-stream-store").toString, spark)
    import spark.implicits._
    store.write("c", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    store.write("c", "t", Seq((3L, "c")).toDF("id", "v"))
    val stream = Streams.tableStream(store, "c", "t")
      .select("id", "v")
    val sink = StreamStage.runToMemory(stream, "store_stream", "append")
    // both committed versions' rows arrive through the stream
    assert(sink.count() == 3)
  }

  test("streaming decontamination flags equal the batch computation exactly") {
    val docs = graft.queries.Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    val evals = docs.where(F.col("doc_id") < 15)
    val dir = Files.createTempDirectory("graft-stream-decon")
    docs.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema,
      maxFilesPerTrigger = 1) // several micro-batches, not one
    val flags = Streams.decontaminateStream(stream, evals, "text", "doc_id", "text", n = 3)
    val sink = StreamStage.runToMemory(flags, "decon_stream", "append")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val got = rows(sink.select("id", "contaminated"))
    val exp = rows(graft.pipeline.Decontaminate
      .overlapFlags(docs, "text", "doc_id", evals, "text", n = 3))
    assert(got == exp)
    assert(got.exists(_._2) && got.exists(!_._2)) // both verdicts occur
  }

  test("stateful running totals via mapGroupsWithState") {
    import spark.implicits._
    val ds = Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDS()
    val out = Streams.runningTotals(ds).collect().map(s => s.key -> (s.events, s.valueSum)).toMap
    assert(out("a") == (2L, 4.0))
    assert(out("b") == (1L, 2.0))
  }

  test("stateful cusum: seq-ordered fold per key; multi-micro-batch " +
    "state equals the single-batch fold") {
    import spark.implicits._
    // batch mode, hand fold: mu=10, slack=1 — key a sees 15,20 (hi ramps),
    // key b sees 2,3 (lo ramps); rows given OUT of seq order on purpose
    val ds = Seq(("a", 2L, 20.0), ("a", 1L, 15.0),
      ("b", 1L, 2.0), ("b", 2L, 3.0)).toDS()
    val out = Streams.statefulCusum(ds, mu = 10.0, slack = 1.0,
        threshold = 10.0)
      .collect().map(u => u.key -> u).toMap
    def hi(vs: Seq[Double]) = vs.foldLeft(0.0)((acc, v) =>
      math.max(0.0, acc + (1.0 * (v - 10.0) - 1.0)))
    def lo(vs: Seq[Double]) = vs.foldLeft(0.0)((acc, v) =>
      math.max(0.0, acc + (-1.0 * (v - 10.0) - 1.0)))
    assert(out("a").n == 2L && out("a").cusumHi == hi(Seq(15.0, 20.0)) &&
      out("a").cusumLo == 0.0 && out("a").alarm, out.toString)
    // b's lo ramp: (10−2)−1 = 7, then 7 + (10−3)−1 = 13 > 10 → alarm
    assert(out("b").n == 2L && out("b").cusumHi == 0.0 &&
      out("b").cusumLo == lo(Seq(2.0, 3.0)) && out("b").alarm,
      out.toString)
    // state carries across micro-batches: two time-split parts replayed
    // as separate batches end at the same per-key totals as one batch
    val ev = eventsBatch.limit(3000)
      .where(F.col("user_id").isNotNull && F.col("value").isNotNull)
      .cache()
    val mid = ev.agg(F.percentile_approx(F.col("event_id"), F.lit(0.5),
      F.lit(100))).head().getLong(0)
    val (dir, schema) = graft.streaming.StreamStage.stageOrdered(spark,
      "cusum-ordered-" + mid, Seq(
        () => ev.where(F.col("event_id") <= mid),
        () => ev.where(F.col("event_id") > mid)))
    def toDs(df: org.apache.spark.sql.DataFrame) = df
      .select(F.col("user_id").cast("string"),
        F.col("event_id").cast("long"), F.col("value").cast("double"))
      .as[(String, Long, Double)]
    val stream = Streams.statefulCusum(
      toDs(Streams.readParquetStream(spark, dir, schema,
        maxFilesPerTrigger = 1)),
      mu = 50.0, slack = 5.0, threshold = 100.0)
    val sink = StreamStage.runToMemory(stream.toDF(), "scusum", "append")
    // LAST emission per key (max n) == the batch fold over all rows,
    // because part 1's event_ids all precede part 2's (stageOrdered)
    val streamed = sink.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    val batch = Streams.statefulCusum(toDs(ev),
        mu = 50.0, slack = 5.0, threshold = 100.0)
      .collect().map(u =>
        u.key -> ((u.key, u.n, u.cusumHi, u.cusumLo, u.alarm))).toMap
    assert(streamed.nonEmpty && streamed.size == batch.size)
    streamed.foreach { case (k, got) =>
      assert(got == batch(k), s"key $k: $got vs ${batch(k)}")
    }
  }

  test("stateful ewma: seeds at the first value, folds in seq order; " +
    "multi-micro-batch state equals the single-batch fold") {
    import spark.implicits._
    // rows given OUT of seq order: key a folds 10, 20, 2 → seed 10,
    // then 10·0.75+0.25·20 = 12.5 (dev 10), then 12.5·0.75+0.25·2 =
    // 9.875 with dev 2 − 12.5 = −10.5 (the last row's residual)
    val ds = Seq(("a", 3L, 2.0), ("a", 1L, 10.0), ("a", 2L, 20.0),
      ("b", 1L, 7.0)).toDS()
    val out = Streams.statefulEwma(ds, alpha = 0.25)
      .collect().map(u => u.key -> u).toMap
    assert(out("a").n == 3L && out("a").value == 2.0 &&
      out("a").baseline == 9.875 && out("a").deviation == -10.5,
      out.toString)
    // a key's very first row has no forecast: deviation 0, baseline = v
    assert(out("b").n == 1L && out("b").baseline == 7.0 &&
      out("b").deviation == 0.0, out.toString)
    // state carries across micro-batches: two time-split parts replayed
    // as separate batches end at the same per-key baseline as one batch
    val ev = eventsBatch.limit(3000)
      .where(F.col("user_id").isNotNull && F.col("value").isNotNull)
      .cache()
    val mid = ev.agg(F.percentile_approx(F.col("event_id"), F.lit(0.5),
      F.lit(100))).head().getLong(0)
    val (dir, schema) = graft.streaming.StreamStage.stageOrdered(spark,
      "ewma-ordered-" + mid, Seq(
        () => ev.where(F.col("event_id") <= mid),
        () => ev.where(F.col("event_id") > mid)))
    def toDs(df: org.apache.spark.sql.DataFrame) = df
      .select(F.col("user_id").cast("string"),
        F.col("event_id").cast("long"), F.col("value").cast("double"))
      .as[(String, Long, Double)]
    val stream = Streams.statefulEwma(
      toDs(Streams.readParquetStream(spark, dir, schema,
        maxFilesPerTrigger = 1)), alpha = 0.25)
    val streamed = StreamStage.runToMemory(stream.toDF(), "sewma", "append").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2)._3 }
    val batch = Streams.statefulEwma(toDs(ev), alpha = 0.25)
      .collect().map(u => u.key -> u.baseline).toMap
    assert(streamed.nonEmpty && streamed.size == batch.size)
    streamed.foreach { case (k, got) =>
      assert(got == batch(k), s"key $k: $got vs ${batch(k)}")
    }
  }

  test("stateful sprt: first-crossing latch survives later evidence " +
    "AND micro-batch splits") {
    import spark.implicits._
    // p0=.2/p1=.8: 2·ln4 == ln16 exactly (in doubles too), so the
    // SECOND success already crosses the upper bound; the ten failures
    // after would cross the LOWER bound — the verdict must NOT flip
    // (a sequential test stops at its first boundary)
    val rows = (1 to 3).map(i => ("g", i.toLong, true)) ++
      (4 to 13).map(i => ("g", i.toLong, false))
    val batch = Streams.statefulSprt(rows.toDS(), p0 = 0.2d, p1 = 0.8d)
      .collect().head
    assert(batch.decision == "accept_h1" && batch.decisionSeq == Some(2L))
    assert(batch.trials == 13L && batch.successes == 3L)
    // final llr reports the CURRENT evidence even after the latch
    val c1 = math.log(0.8 / 0.2); val c0 = math.log((1.0 - 0.8) / (1.0 - 0.2))
    assert(batch.llr == 3.0 * c1 + 10.0 * c0)
    // split across micro-batches at seq 5: latched in part 1, part 2's
    // failures keep counting but never flip it
    val (dir, schema) = graft.streaming.StreamStage.stageOrdered(spark,
      "sprt-latch", Seq(
        () => rows.filter(_._2 <= 5).toDF("key", "seq", "s"),
        () => rows.filter(_._2 > 5).toDF("key", "seq", "s")))
    val stream = Streams.statefulSprt(
      Streams.readParquetStream(spark, dir, schema, maxFilesPerTrigger = 1)
        .as[(String, Long, Boolean)], p0 = 0.2d, p1 = 0.8d)
    val last = StreamStage.runToMemory(stream.toDF(), "ssprt", "append").collect()
      .map(r => (r.getLong(1), r.getString(4), r.get(5)))
      .maxBy(_._1)
    assert(last._1 == 13L && last._2 == "accept_h1" && last._3 == 2L,
      last.toString)
  }

  test("stateful moments: exact fixed-point sums, z of the newest " +
    "reading; multi-micro-batch state equals the single-batch sums") {
    import spark.implicits._
    // key a sees 1,2,3 (given out of order): mean 2, pop-var 2/3,
    // z = (3 − 2)/std — every double restated in the operator's order
    val ds = Seq(("a", 3L, 3.0), ("a", 1L, 1.0), ("a", 2L, 2.0),
      ("b", 1L, 9.0), ("c", 1L, 5.0), ("c", 2L, 5.0)).toDS()
    val out = Streams.statefulMoments(ds)
      .collect().map(u => u.key -> u).toMap
    assert(out("a").n == 3L && out("a").value == 3.0)
    // fp sums exact: Σfp(v) = 6·2^20, Σfp(v²) = 14·2^20
    val m = ((6291456L.toDouble) / 1048576.0) / 3.0
    assert(out("a").mean == m, s"mean ${out("a").mean}")
    val ex2 = ((14680064L.toDouble) / 1048576.0) / 3.0
    val std = math.sqrt(math.max(0.0, ex2 - m * m))
    assert(out("a").std == std, s"std ${out("a").std}")
    assert(out("a").z.contains((3.0 - m) / std), out("a").toString)
    // first-ever reading: no history → z None
    assert(out("b").n == 1L && out("b").z.isEmpty)
    // constant history → std 0 → z None
    assert(out("c").n == 2L && out("c").std == 0.0 && out("c").z.isEmpty)
    // state carries across micro-batches: two time-split parts end at
    // the same per-key sums as one batch
    val ev = eventsBatch.limit(3000)
      .where(F.col("user_id").isNotNull && F.col("value").isNotNull)
      .cache()
    val mid = ev.agg(F.percentile_approx(F.col("event_id"), F.lit(0.5),
      F.lit(100))).head().getLong(0)
    val (dir, schema) = graft.streaming.StreamStage.stageOrdered(spark,
      "moments-ordered-" + mid, Seq(
        () => ev.where(F.col("event_id") <= mid),
        () => ev.where(F.col("event_id") > mid)))
    def toDs(df: org.apache.spark.sql.DataFrame) = df
      .select(F.col("user_id").cast("string"),
        F.col("event_id").cast("long"), F.col("value").cast("double"))
      .as[(String, Long, Double)]
    val stream = Streams.statefulMoments(
      toDs(Streams.readParquetStream(spark, dir, schema,
        maxFilesPerTrigger = 1)))
    val streamed = StreamStage.runToMemory(stream.toDF(), "smoments", "append").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3),
        r.getDouble(4)))
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    val batch = Streams.statefulMoments(toDs(ev))
      .collect().map(u => u.key -> ((u.key, u.n, u.mean, u.std))).toMap
    assert(streamed.nonEmpty && streamed.size == batch.size)
    streamed.foreach { case (k, got) =>
      assert(got == batch(k), s"key $k: $got vs ${batch(k)}")
    }
  }

  test("stateful moments: out-of-domain values RAISE instead of " +
    "silently clamping the squared fixed-point image") {
    import spark.implicits._
    // |v| > 2^21: floor(v²·2^20) exceeds Long — JVM toLong would clamp
    // at Long.MaxValue and emit a silently wrong σ/z; the contract is
    // the batch face's loud ANSI behavior on the same domain
    val bad = Seq(("k", 1L, 1.0), ("k", 2L, 3.0e6)).toDS()
    val ex = intercept[org.apache.spark.SparkException] {
      Streams.statefulMoments(bad).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("fixed-point domain")), ex.toString)
    // the domain edge itself is fine: |v| = 2^21 exactly still fits
    val edge = Seq(("k", 1L, 2097152.0), ("k", 2L, -2097152.0)).toDS()
    val out = Streams.statefulMoments(edge).collect().head
    assert(out.n == 2L && out.mean == 0.0)
  }

  test("stateful cusum TTL: expired ramps restart from zero") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    def writeRows(dir: java.nio.file.Path, rows: Seq[(String, Long, Double)],
        name: String, mtime: Long): Unit = {
      val stage = Files.createTempDirectory("graft-cu-stage")
      rows.toDF("key", "seq", "v").coalesce(1).write.mode("overwrite")
        .parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_")).head
      val dst = dir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    @annotation.nowarn("cat=deprecation")
    def runOnce(dir: String, out: String, ckpt: String): Unit = {
      val stream = Streams.readParquetStream(spark, dir, schema,
        maxFilesPerTrigger = 1).as[(String, Long, Double)]
      val cus = Streams.statefulCusum(stream, mu = 10.0, slack = 0.0,
        threshold = 100.0, stateTtlMs = Some(500L))
      val q = cus.toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      q.awaitTermination(); q.stop()
    }
    val dir = Files.createTempDirectory("graft-cu-ttl")
    val out = Files.createTempDirectory("graft-cu-ttl-out").toString
    val ck = Files.createTempDirectory("graft-cu-ttl-ck").toString
    writeRows(dir, Seq(("a", 1L, 15.0)), "b0.parquet", 1700000000000L)
    runOnce(dir.toString, out, ck)
    Thread.sleep(1200)
    // past the TTL: the ramp restarts from zero, not from 5.0
    writeRows(dir, Seq(("a", 2L, 17.0)), "b1.parquet", 1700000060000L)
    runOnce(dir.toString, out, ck)
    val got = spark.read.parquet(out).as[Streams.CusumUpdate].collect()
      .map(u => (u.n, u.cusumHi)).toSet
    assert(got == Set((1L, 5.0), (1L, 7.0)),
      s"expired ramps must restart from zero, got $got")
  }

  test("stateful ewma + moments TTL: expired state restarts (re-seed / " +
    "fresh sums)") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    def writeRows(dir: java.nio.file.Path, rows: Seq[(String, Long, Double)],
        name: String, mtime: Long): Unit = {
      val stage = Files.createTempDirectory("graft-ew-stage")
      rows.toDF("key", "seq", "v").coalesce(1).write.mode("overwrite")
        .parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_")).head
      java.nio.file.Files.copy(part.toPath, dir.resolve(name))
      assert(dir.resolve(name).toFile.setLastModified(mtime))
    }
    @annotation.nowarn("cat=deprecation")
    def runOnce(dir: String, outE: String, ckE: String,
        outM: String, ckM: String): Unit = {
      def stream = Streams.readParquetStream(spark, dir, schema,
        maxFilesPerTrigger = 1).as[(String, Long, Double)]
      val e = Streams.statefulEwma(stream, alpha = 0.25,
        stateTtlMs = Some(500L))
      val qe = e.toDF().writeStream.format("parquet")
        .option("path", outE).option("checkpointLocation", ckE)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      qe.awaitTermination(); qe.stop()
      val m = Streams.statefulMoments(stream, stateTtlMs = Some(500L))
      val qm = m.toDF().writeStream.format("parquet")
        .option("path", outM).option("checkpointLocation", ckM)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      qm.awaitTermination(); qm.stop()
    }
    val dir = Files.createTempDirectory("graft-ew-ttl")
    val outE = Files.createTempDirectory("graft-ew-ttl-oe").toString
    val ckE = Files.createTempDirectory("graft-ew-ttl-ce").toString
    val outM = Files.createTempDirectory("graft-ew-ttl-om").toString
    val ckM = Files.createTempDirectory("graft-ew-ttl-cm").toString
    writeRows(dir, Seq(("a", 1L, 8.0)), "b0.parquet", 1700000000000L)
    runOnce(dir.toString, outE, ckE, outM, ckM)
    Thread.sleep(1200)
    // past the TTL: the EWMA RE-SEEDS at the new value (n back to 1,
    // deviation 0 — no surviving forecast), the moment sums restart
    writeRows(dir, Seq(("a", 2L, 20.0)), "b1.parquet", 1700000060000L)
    runOnce(dir.toString, outE, ckE, outM, ckM)
    val ew = spark.read.parquet(outE).as[Streams.EwmaUpdate].collect()
      .map(u => (u.n, u.baseline, u.deviation)).toSet
    assert(ew == Set((1L, 8.0, 0.0), (1L, 20.0, 0.0)),
      s"expired EWMA must re-seed, got $ew")
    val mo = spark.read.parquet(outM).as[Streams.MomentsUpdate].collect()
      .map(u => (u.n, u.mean, u.z)).toSet
    assert(mo == Set((1L, 8.0, None), (1L, 20.0, None)),
      s"expired moments must restart, got $mo")
  }

  test("stateful sprt TTL: a latched decision expires with its state") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.BooleanType)))
    def writeRows(dir: java.nio.file.Path, rows: Seq[(String, Long, Boolean)],
        name: String, mtime: Long): Unit = {
      val stage = Files.createTempDirectory("graft-sp-stage")
      rows.toDF("key", "seq", "s").coalesce(1).write.mode("overwrite")
        .parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_")).head
      val dst = dir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    @annotation.nowarn("cat=deprecation")
    def runOnce(dir: String, out: String,
        ckpt: String): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = Streams.readParquetStream(spark, dir, schema,
        maxFilesPerTrigger = 1).as[(String, Long, Boolean)]
      val sprt = Streams.statefulSprt(stream, p0 = 0.2d, p1 = 0.8d,
        stateTtlMs = Some(500L))
      val q = sprt.toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      q.awaitTermination()
      q
    }
    val dir = Files.createTempDirectory("graft-sp-ttl")
    val out = Files.createTempDirectory("graft-sp-ttl-out").toString
    val ck = Files.createTempDirectory("graft-sp-ttl-ck").toString
    // 'a' latches accept_h1 at its second success; 'b' stays at continue
    writeRows(dir, Seq(("a", 1L, true), ("a", 2L, true), ("b", 1L, true)),
      "b0.parquet", 1700000000000L)
    runOnce(dir.toString, out, ck).stop()
    Thread.sleep(1200)
    // past the TTL: 'a' arrives again and starts a fresh test (its latched
    // verdict went with its state); 'b' is evicted
    writeRows(dir, Seq(("a", 3L, true)), "b1.parquet", 1700000060000L)
    val q = runOnce(dir.toString, out, ck)
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal)
    q.stop()
    assert(stateRows.contains(1L), s"state rows after eviction: $stateRows")
    val a = spark.read.parquet(out).as[Streams.SprtUpdate].collect()
      .filter(_.key == "a").map(u => (u.trials, u.decision, u.decisionSeq))
      .toSet
    assert(a == Set((2L, "accept_h1", Some(2L)), (1L, "continue", None)),
      s"an expired latch must restart the test, got $a")
  }

  test("streaming near-dup: rewrites flagged against the min-id canonical; differential vs batch band index") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "sleepy badgers watch from a mossy log near the winding river path today"
    val docs = Seq(
      (0L, base),
      (1L, base + " appended audit note"),        // near-dup of 0
      (2L, "completely different content about tax accounting rules and " +
        "quarterly depreciation schedules for industrial machinery assets"),
      (3L, base)                                   // exact copy of 0
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-stream-ndup")
    docs.write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Streams.readParquetStream(spark, dir.toString, schema)
    val verdicts = Streams.nearDupVerdicts(
      Streams.nearDupHits(stream, "text", "doc_id"), minEst = 0.5)
    val sink = StreamStage.runToMemory(verdicts, "ndup_verdicts", "complete")
    val got = sink.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    // doc 0 is the canonical: clean. Exact copy 3 matches it at est 1.0.
    assert(got(0L) == ((-1L, 0.0, false)))
    assert(got(3L) == ((0L, 1.0, true)))
    // the rewrite shares most signature slots with the canonical
    assert(got(1L)._1 == 0L && got(1L)._2 >= 0.5 && got(1L)._3)
    // unrelated doc lands in fresh buckets
    assert(got(2L) == ((-1L, 0.0, false)))

    // differential vs the batch band index: a doc has a streaming match
    // iff it shares >=1 (band, bh) bucket with a lower-id doc
    val index = graft.pipeline.Dedup.minhashBandIndex(docs, "text", "doc_id")
    val batchCand = index.as("x").join(index.as("y"), Seq("band", "bh"))
      .where(F.col("x.id") < F.col("y.id"))
      .select(F.col("y.id").as("id")).distinct()
      .as[Long].collect().toSet
    val streamCand = got.filter { case (_, (m, _, _)) => m >= 0 }.keySet
    assert(streamCand == batchCand)
  }

  // ---- streaming near-dup: batch-equivalence differential + state lifecycle ----

  /** Write `docs` as ONE parquet file named `name` in `dir` with an explicit
    * modification time — FileStreamSource orders files by mtime, so these
    * files become deterministic, ordered micro-batches. */
  private def writeDocFile(dir: java.nio.file.Path, docs: Seq[(Long, String)],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val stage = Files.createTempDirectory("graft-ndup-stage")
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
    val dst = dir.resolve(name)
    java.nio.file.Files.copy(part.toPath, dst)
    assert(dst.toFile.setLastModified(mtime))
  }

  private val docSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  /** Run nearDupHits over `dir` into a parquet sink once, blocking until
    * drained; restartable via the shared checkpoint. TTL runs use
    * single-batch Trigger.Once semantics: with ProcessingTimeTimeout,
    * FlatMapGroupsWithStateExec reports shouldRunAnotherBatch whenever
    * processing time advanced, so an AvailableNow drain would loop empty
    * batches forever (see the nearDupHits scaladoc) — one bounded batch
    * per restart is exactly the TTL lifecycle contract anyway. */
  @annotation.nowarn("cat=deprecation")
  private def runHitsOnce(dir: String, out: String, ckpt: String,
      ttlMs: Option[Long] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = Streams.readParquetStream(spark, dir, docSchema, maxFilesPerTrigger = 1)
    val hits = Streams.nearDupHits(stream, "text", "doc_id", stateTtlMs = ttlMs)
    val trigger =
      if (ttlMs.isDefined) org.apache.spark.sql.streaming.Trigger.Once()
      else org.apache.spark.sql.streaming.Trigger.AvailableNow()
    val q = hits.toDF().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(trigger).start()
    if (ttlMs.isDefined) q.awaitTermination() else q.processAllAvailable()
    q
  }

  /** 30-doc corpus with cross-batch near-dups: ids 10-19 are appended-suffix
    * rewrites of ids 0-9 (arriving several micro-batches later), ids 20-29
    * are unrelated. Ids are monotone in ingestion order — the replay
    * contract. */
  private def ndupCorpus: Seq[(Long, String)] = {
    val bases = (0 until 10).map { i =>
      i.toLong -> (s"document number $i about topic ${"abcdefghij" (i)} with a " +
        s"long enough body of text to shingle cleanly across many tokens " +
        s"including details ${i * 7} and ${i * 13} plus shared boilerplate clause")
    }
    val rewrites = bases.map { case (id, t) => (id + 10) -> (t + " trailing audit note") }
    val others = (20 until 30).map { i =>
      i.toLong -> (s"entirely distinct subject matter ${i * 31} covering " +
        s"unrelated themes of ${"qrstuvwxyz" (i - 20)} metallurgy logistics " +
        s"astronomy and recipe number ${i * 17} with no overlap at all here")
    }
    bases ++ rewrites ++ others
  }

  test("streaming near-dup over many micro-batches equals the batch replay bit-exactly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ndup-diff")
    val corpus = ndupCorpus
    corpus.sortBy(_._1).grouped(3).zipWithIndex.foreach { case (g, i) =>
      writeDocFile(dir, g, f"batch-$i%05d.parquet", 1700000000000L + i * 60000L)
    }
    val stream = Streams.readParquetStream(spark, dir.toString, docSchema, maxFilesPerTrigger = 1)
    val verdicts = Streams.nearDupVerdicts(
      Streams.nearDupHits(stream, "text", "doc_id"), minEst = 0.5)
    val sink = StreamStage.runToMemory(verdicts, "ndup_diff", "complete")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val got = rows(sink)
    val exp = rows(Streams.nearDupVerdicts(
      Streams.nearDupHitsReplay(corpus.toDF("doc_id", "text"), "text", "doc_id")
        .as[Streams.BandHit], minEst = 0.5))
    assert(got == exp)
    // and the corpus actually exercises cross-batch matches: every rewrite
    // (ids 10-19) arrived batches after its source yet flagged against it
    (10L until 20L).foreach { id =>
      val v = got.find(_._1 == id).get
      assert(v._2 == id - 10 && v._4, s"doc $id: $v")
    }
  }

  test("history-seeded streaming near-dup flags arrivals against ALL history (initial state)") {
    import spark.implicits._
    val corpus = ndupCorpus
    val hist = corpus.filter(_._1 < 10)      // the sources, never streamed
    val streamed = corpus.filter(_._1 >= 10) // rewrites 10-19 + unrelated 20-29
    val dir = Files.createTempDirectory("graft-ndup-seed")
    streamed.sortBy(_._1).grouped(4).zipWithIndex.foreach { case (g, i) =>
      writeDocFile(dir, g, f"b-$i%05d.parquet", 1700000000000L + i * 60000L)
    }
    val stream = Streams.readParquetStream(spark, dir.toString, docSchema, maxFilesPerTrigger = 1)
    val verdicts = Streams.nearDupVerdicts(
      Streams.nearDupHitsSeeded(stream, hist.toDF("doc_id", "text"),
        "text", "doc_id"), minEst = 0.5)
    val sink = StreamStage.runToMemory(verdicts, "ndup_seeded", "complete")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val got = rows(sink)
    // must equal the replay over history ∪ stream, restricted to the
    // streamed ids — i.e. the stream behaves as if it had ingested all of
    // history first
    val exp = rows(Streams.nearDupVerdicts(
      Streams.nearDupHitsReplay(corpus.toDF("doc_id", "text"), "text", "doc_id")
        .as[Streams.BandHit], minEst = 0.5)
      .where(F.col("id") >= 10))
    assert(got == exp)
    // every rewrite is flagged against its never-streamed history source
    (10L until 20L).foreach { id =>
      val v = got.find(_._1 == id).get
      assert(v._2 == id - 10 && v._4, s"doc $id: $v")
    }
  }

  test("streaming near-dup survives checkpoint restart with verdicts unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ndup-ckpt-in")
    val out = Files.createTempDirectory("graft-ndup-ckpt-out").toString
    val ckpt = Files.createTempDirectory("graft-ndup-ckpt").toString
    val corpus = ndupCorpus
    val files = corpus.sortBy(_._1).grouped(3).toSeq.zipWithIndex
    val (firstHalf, secondHalf) = files.splitAt(files.size / 2)
    firstHalf.foreach { case (g, i) =>
      writeDocFile(dir, g, f"batch-$i%05d.parquet", 1700000000000L + i * 60000L)
    }
    runHitsOnce(dir.toString, out, ckpt).stop() // run 1: first half, then killed
    secondHalf.foreach { case (g, i) =>
      writeDocFile(dir, g, f"batch-$i%05d.parquet", 1700000000000L + i * 60000L)
    }
    runHitsOnce(dir.toString, out, ckpt).stop() // run 2: restored state resumes
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val got = rows(Streams.nearDupVerdicts(
      spark.read.parquet(out).as[Streams.BandHit], minEst = 0.5))
    val exp = rows(Streams.nearDupVerdicts(
      Streams.nearDupHitsReplay(corpus.toDF("doc_id", "text"), "text", "doc_id")
        .as[Streams.BandHit], minEst = 0.5))
    assert(got == exp)
  }

  test("streaming near-dup TTL evicts idle buckets and expires stale canonicals") {
    import spark.implicits._
    val textX = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega words"
    val textY = "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty more"
    val ttl = Some(500L)

    // Scenario 1 — eviction: doc 0 (X) in run 1; after the TTL, run 2 sees
    // only unrelated doc 11 (Y). Doc 0's idle buckets are timed out and
    // REMOVED, so the state store holds only Y's buckets afterwards.
    val dir1 = Files.createTempDirectory("graft-ndup-ttl1")
    val out1 = Files.createTempDirectory("graft-ndup-ttl1-out").toString
    val ck1 = Files.createTempDirectory("graft-ndup-ttl1-ck").toString
    writeDocFile(dir1, Seq(0L -> textX), "b0.parquet", 1700000000000L)
    runHitsOnce(dir1.toString, out1, ck1, ttl).stop()
    Thread.sleep(1200)
    writeDocFile(dir1, Seq(11L -> textY), "b1.parquet", 1700000060000L)
    val q1 = runHitsOnce(dir1.toString, out1, ck1, ttl)
    val stateRows = q1.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal)
    q1.stop()
    // 8 bands per doc: only Y's 8 buckets remain (X's were evicted);
    // without eviction there would be 16
    assert(stateRows.contains(8L), s"state rows after TTL eviction: $stateRows")

    // Scenario 2 — stale canonical: an exact copy arriving after the TTL
    // re-seeds the bucket instead of matching the expired canonical…
    val dir2 = Files.createTempDirectory("graft-ndup-ttl2")
    val out2 = Files.createTempDirectory("graft-ndup-ttl2-out").toString
    val ck2 = Files.createTempDirectory("graft-ndup-ttl2-ck").toString
    writeDocFile(dir2, Seq(0L -> textX), "b0.parquet", 1700000000000L)
    runHitsOnce(dir2.toString, out2, ck2, ttl).stop()
    Thread.sleep(1200)
    writeDocFile(dir2, Seq(10L -> textX), "b1.parquet", 1700000060000L)
    runHitsOnce(dir2.toString, out2, ck2, ttl).stop()
    val hits2 = spark.read.parquet(out2).where(F.col("id") === 10L).collect()
    assert(hits2.nonEmpty && hits2.forall(_.getLong(1) == -1L),
      s"expired canonical must re-seed, got ${hits2.mkString(",")}")

    // …while within the TTL window (generous TTL, same gap) the copy still
    // matches the canonical at est 1.0 — TTL ≠ semantics change in-window.
    val dir3 = Files.createTempDirectory("graft-ndup-ttl3")
    val out3 = Files.createTempDirectory("graft-ndup-ttl3-out").toString
    val ck3 = Files.createTempDirectory("graft-ndup-ttl3-ck").toString
    writeDocFile(dir3, Seq(0L -> textX), "b0.parquet", 1700000000000L)
    runHitsOnce(dir3.toString, out3, ck3, Some(3600000L)).stop()
    Thread.sleep(600)
    writeDocFile(dir3, Seq(10L -> textX), "b1.parquet", 1700000060000L)
    runHitsOnce(dir3.toString, out3, ck3, Some(3600000L)).stop()
    val hits3 = spark.read.parquet(out3).where(F.col("id") === 10L).collect()
    assert(hits3.nonEmpty && hits3.forall(r => r.getLong(1) == 0L && r.getDouble(2) == 1.0),
      s"in-window copy must match canonical, got ${hits3.mkString(",")}")
  }

  test("running totals TTL evicts idle keys and restarts expired totals") {
    import spark.implicits._
    val kvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def writeKv(dir: java.nio.file.Path, rows: Seq[(String, Double)],
        name: String, mtime: Long): Unit = {
      val stage = Files.createTempDirectory("graft-rt-stage")
      rows.toDF("key", "value").coalesce(1).write.mode("overwrite")
        .parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
      val dst = dir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    @annotation.nowarn("cat=deprecation")
    def runOnce(dir: String, out: String, ckpt: String,
        ttlMs: Option[Long]): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = Streams.readParquetStream(spark, dir, kvSchema,
        maxFilesPerTrigger = 1).as[(String, Double)]
      val totals = Streams.runningTotals(stream, stateTtlMs = ttlMs)
      val q = totals.toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      q.awaitTermination()
      q
    }
    val ttl = Some(500L)
    val dir = Files.createTempDirectory("graft-rt-ttl")
    val out = Files.createTempDirectory("graft-rt-ttl-out").toString
    val ck = Files.createTempDirectory("graft-rt-ttl-ck").toString
    writeKv(dir, Seq("a" -> 1.0, "b" -> 2.0), "b0.parquet", 1700000000000L)
    runOnce(dir.toString, out, ck, ttl).stop()
    Thread.sleep(1200)
    // after the TTL: 'a' restarts from zero (stale state), 'b' is evicted
    writeKv(dir, Seq("a" -> 5.0), "b1.parquet", 1700000060000L)
    val q = runOnce(dir.toString, out, ck, ttl)
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal)
    q.stop()
    assert(stateRows.contains(1L), s"state rows after eviction: $stateRows")
    val a2 = spark.read.parquet(out).as[Streams.SessionUpdate].collect()
      .filter(_.key == "a").map(u => (u.events, u.valueSum)).toSet
    // run 1 emitted (1, 1.0); run 2 must RESTART at (1, 5.0), never (2, 6.0)
    assert(a2 == Set((1L, 1.0), (1L, 5.0)),
      s"expired totals must restart from zero, got $a2")
    // in-window (generous TTL): totals accumulate across the same gap
    val dir2 = Files.createTempDirectory("graft-rt-ttl2")
    val out2 = Files.createTempDirectory("graft-rt-ttl2-out").toString
    val ck2 = Files.createTempDirectory("graft-rt-ttl2-ck").toString
    writeKv(dir2, Seq("a" -> 1.0), "b0.parquet", 1700000000000L)
    runOnce(dir2.toString, out2, ck2, Some(3600000L)).stop()
    Thread.sleep(600)
    writeKv(dir2, Seq("a" -> 5.0), "b1.parquet", 1700000060000L)
    runOnce(dir2.toString, out2, ck2, Some(3600000L)).stop()
    val a3 = spark.read.parquet(out2).as[Streams.SessionUpdate].collect()
      .filter(_.key == "a").maxBy(_.events)
    assert(a3.events == 2L && a3.valueSum == 6.0, s"in-window must accumulate: $a3")
  }

  test("exactly-once store sink: one version per batch, replay publishes nothing") {
    import graft.store.TableStore
    val in = Files.createTempDirectory("graft-sink-in")
    val data = eventsBatch.limit(90).select("event_id", "event_type", "value")
    // three files => three micro-batches at maxFilesPerTrigger=1
    data.repartition(3).write.mode("overwrite").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).schema
    val store = new TableStore(
      Files.createTempDirectory("graft-sink-store").toString, spark)

    def run(ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      val q = Streams.sinkToStore(stream, store, "c", "ev", "ingest", ckpt)
      q.processAllAvailable(); q.stop()
    }
    val ckpt1 = Files.createTempDirectory("graft-sink-ckpt1").toString
    run(ckpt1)
    val v1 = store.versions("c", "ev")
    assert(v1.size == 3, s"expected one version per micro-batch, got ${v1.size}")
    // delta semantics: each version holds its batch; the version log's row
    // counts must cover the whole stream exactly once
    assert(v1.map(_.rows).sum == 90, v1)

    // restart on the SAME checkpoint: no batches re-delivered, no versions
    run(ckpt1)
    assert(store.versions("c", "ev").size == 3)

    // restart on a FRESH checkpoint: every batch re-delivered, but the
    // txids already committed — exactly-once holds without the checkpoint
    run(Files.createTempDirectory("graft-sink-ckpt2").toString)
    val v3 = store.versions("c", "ev")
    assert(v3.size == 3)
    assert(v3.map(_.rows).sum == 90)
  }

  test("writeIdempotent: re-delivery and the log-appended-but-uncommitted crash window") {
    import graft.core.SysCtx
    import graft.store.TableStore
    import spark.implicits._
    val store = new TableStore(
      Files.createTempDirectory("graft-idem-store").toString, spark)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

    assert(store.writeIdempotent("c", "t", df, "job-1").isDefined)
    // replay of the same unit of work: no-op
    assert(store.writeIdempotent("c", "t", df, "job-1").isEmpty)
    assert(store.versions("c", "t").size == 1)

    // crash window: a prior attempt appended its log entry and staged data
    // but died before commit (simulated: stage with the same deterministic
    // version id, then lose the staged dir as a crashed process would its
    // in-memory move map)
    val versionId = java.security.MessageDigest.getInstance("MD5")
      .digest("c/t/job-2".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ctx = SysCtx.fresh().copy(transaction = versionId, version = versionId)
    store.stageWrite("c", "t", df, ctx)
    store.abortTransaction(versionId) // staged dir gone, log entry remains
    assert(store.versions("c", "t").size == 1) // uncommitted => invisible

    // the retry must yield exactly ONE visible, scannable version
    assert(store.writeIdempotent("c", "t", df, "job-2").isDefined)
    val vs = store.versions("c", "t")
    assert(vs.size == 2, s"duplicate log entries surfaced: $vs")
    assert(store.scan("c/t").get.df.count() == 2)

    // the retry re-staged under the FIRST attempt's execution/timestamp, so
    // the data's system-column stamps agree with the visible log entry
    val logged = vs.find(_.id == versionId).get
    assert(logged.execution == ctx.execution)
    assert(logged.timestampMs == ctx.timestamp.getTime)
    val stamped = store.scan("c/t@HEAD").get.df
      .select("`$td.ver.execution`", "`$td.ver.timestamp`").distinct().collect()
    assert(stamped.length == 1)
    assert(stamped(0).getString(0) == logged.execution)
    assert(stamped(0).getTimestamp(1).getTime == logged.timestampMs)
  }

  test("writeIdempotent: idempotence scope is per (collection, table)") {
    import graft.store.TableStore
    import spark.implicits._
    val store = new TableStore(
      Files.createTempDirectory("graft-idem-scope").toString, spark)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // two producers reuse one txid against DIFFERENT tables: both commit
    assert(store.writeIdempotent("c", "t1", df, "job-1").isDefined)
    assert(store.writeIdempotent("c", "t2", df, "job-1").isDefined)
    assert(store.scan("c/t1").get.df.count() == 2)
    assert(store.scan("c/t2").get.df.count() == 2)
    // while replay against the SAME table stays a no-op
    assert(store.writeIdempotent("c", "t1", df, "job-1").isEmpty)
    assert(store.versions("c", "t1").size == 1)
  }

  test("pub/sub piping: stream a table dir into a sink dir") {
    val in = Files.createTempDirectory("graft-pipe-in")
    val out = Files.createTempDirectory("graft-pipe-out")
    val ckpt = Files.createTempDirectory("graft-pipe-ckpt")
    eventsBatch.limit(100).write.mode("overwrite").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).schema
    val stream = Streams.readParquetStream(spark, in.toString, schema)
      .filter(F.col("event_type") === "click")
    val q = Streams.pipeToParquet(stream, out.toString, ckpt.toString)
    q.processAllAvailable(); q.stop()
    val expected = spark.read.parquet(in.toString)
      .filter(F.col("event_type") === "click").count()
    assert(spark.read.parquet(out.toString).count() == expected)
  }
}
