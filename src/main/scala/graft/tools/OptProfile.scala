package graft.tools

/** Local profiling aid for the optimization rounds: `jobs <a,b,...>`
  * prints the Spark job/stage/task counts of one warm run of each named
  * gate. Never part of the driver contract; output is human-oriented.
  * To time gates, run `graft.Bench` with `SPARK_GRAFT_BENCH_ONLY`.
  * Usage: runMain graft.tools.OptProfile jobs <gates>. */
object OptProfile {
  def main(args: Array[String]): Unit = {
    val which = if (args.nonEmpty) args(0) else sys.error(
      "usage: OptProfile jobs <gate,gate,...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.td.session(s"local[$cpus]", cpus.toInt)
    // warm-up
    spark.range(1000000L).selectExpr("id % 10 as k", "id").groupBy("k").count().count()

    which match {
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
